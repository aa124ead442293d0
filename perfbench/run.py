"""Graph-database benchmark for knovexlite_spark.

    python3 perfbench/run.py --workload efo_serve --seed 1 --seconds 20 --trace 0

Generates a TPC-H-shaped dataset from ``--seed``, answers the generated
queries with a DuckDB oracle, sets the engine up (session, engine, KG
view, dense ids, TransE store) several times, warms the workload up,
measures it for ``--seconds`` and checks every output.  The last line of standard output is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import operator
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zlib
from contextlib import contextmanager
from dataclasses import dataclass

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("efo_serve", "qaa_neural", "kge_train")

SF = 0.004  # TPC-H scale factor of the generated data
EFO_POOL = 240
QAA_PER_SHAPE = 2
TRAIN_SAMPLE_MOD = 20  # 1 in 20 dense triples: a 5% sample
TRAIN_ROUND = 3  # epochs before training restarts from the initial store
STORE_DIM = 32
SETUPS = 3  # one cold set-up, then warm restarts of the Spark context
WARM_TOL = 0.10  # warm-up ends when two consecutive rates agree this well
WARM_MIN_STEPS = 3
WARM_MAX_S = 20.0
EFO_WINDOW_S = 3.0
EFO_WARM_MIN_STEPS = 5  # the efo_serve rate still rises for about 15 s


def code_hash(patterns: list[str]) -> str:
    """Hash of the files matching ``patterns`` (relative to the repo root)."""
    h = hashlib.sha1()
    for pattern in patterns:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


# saved results are compared only with runs of the same library and benchmark code
CODE = code_hash(["knovexlite_spark/**/*.py", "perfbench/**/*.py"])


def _environment(work: str) -> None:
    """Keep Spark, its workers and temp files inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, BENCH]


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a fixed-size heap: the JVM's resident memory then does not depend
        # on when the garbage collector decides to grow the heap.  Two JIT
        # compiler threads instead of three: with three, C2 catches up with
        # the query planner at a point that varies from run to run, and the
        # efo_serve rate steps up inside some timed windows (README.md)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
            " -XX:CICompilerCount=2"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    return conf


@dataclass
class Setup:
    spark: object
    engine: object
    dense: object
    store: object
    n_entities: int


def set_up(data_dir: str, conf: dict, seed: int, tracer) -> tuple[Setup, dict[str, float]]:
    """Session, engine + KG view, dense ids, store: the set-up a serving
    process pays before its first query."""
    from knovexlite_spark.engine import Engine
    from knovexlite_spark.functions.kge import EmbeddingStore
    from knovexlite_spark.functions.oracle import densify_entities
    from knovexlite_spark.kg.triples import pair_encode_inverse
    from knovexlite_spark.session import get_spark
    from pyspark.sql import functions as F

    times = {}
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    with tracer.span("engine.for_dir"):
        engine = Engine.for_dir(spark, data_dir)
        kg = pair_encode_inverse(engine.triples)
    t2 = time.perf_counter()
    with tracer.span("oracle.densify"):
        _, dense = densify_entities(kg)
        dense = dense.localCheckpoint(eager=True)
    t3 = time.perf_counter()
    with tracer.span("kge.store_init"):
        n = int(dense.agg(F.max(F.greatest("h", "t"))).collect()[0][0]) + 1
        store = EmbeddingStore.xavier(n, 10, STORE_DIM, seed=seed)
    t4 = time.perf_counter()
    times = {"session.start_s": t1 - t0, "engine.for_dir_s": t2 - t1,
             "oracle.densify_s": t3 - t2, "setup_s": t4 - t0}
    spark.sparkContext.setLogLevel("ERROR")
    return Setup(spark, engine, dense, store, n), times


def set_up_repeated(data_dir: str, conf: dict, seed: int, tracer) -> tuple[Setup, dict, list[dict]]:
    """SETUPS set-ups in a row, stopping the Spark context between them:
    the first is cold (JVM start, class loading), the others restart the
    context in the warm JVM and redo the engine, KG view, dense ids and
    store.  Returns the last set-up, the per-phase medians and every
    set-up's times."""
    runs: list[dict] = []
    setup = None
    for _ in range(SETUPS):
        if setup is not None:
            setup.spark.stop()
        setup, times = set_up(data_dir, conf, seed, tracer)
        runs.append(times)
    return setup, {k: statistics.median(t[k] for t in runs) for k in runs[0]}, runs


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every process it started (Python workers) have exited."""
    from spans import alive, descendants

    # taken first: once the JVM is gone its workers are re-parented
    pids = descendants(os.getpid())
    spark.stop()
    gateway = type(spark.sparkContext)._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while alive(pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive(pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


class Context:
    def __init__(self, seed: int, work: str):
        import datagen
        import oracle

        self.seed, self.work = seed, work
        # the tables depend only on the seed and the generator's code
        data = f"sf{SF}-seed{seed}-{code_hash(['perfbench/datagen.py'])}"
        self.data_dir = datagen.write_dataset(os.path.join(work, "data", data), seed, SF)
        self.oracle = oracle.Oracle(self.data_dir)
        self.setup: Setup | None = None
        self.phases: list[tuple[str, float, float]] = []

    @contextmanager
    def phase(self, name: str):
        """Marks a stretch of wall-clock time (ms) as ``name``'s, so the
        event log's tasks can be counted per workload."""
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            self.phases.append((name, t0, time.time() * 1e3))

    def rng(self, name: str):
        """A generator per workload, so its inputs do not depend on which
        other workloads a run builds."""
        import numpy as np

        return np.random.default_rng([self.seed, zlib.crc32(name.encode())])


def percentile_tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile, at most the 95th,
    that still has at least 10 samples above it, and never below the
    (upper) median: with fewer than 21 samples it is the median."""
    s = sorted(xs)
    n = len(s)
    k = max(min(math.ceil(0.95 * n) - 1, n - 11), n // 2)
    return s[k], 100.0 * (k + 1) / n


def warm_up(step, min_steps: int = WARM_MIN_STEPS) -> list[float]:
    """Run ``step`` (returns a rate) until, after at least ``min_steps``
    steps, two consecutive rates agree within WARM_TOL, or until
    WARM_MAX_S passes."""
    rates: list[float] = []
    t0 = time.perf_counter()
    while True:
        rates.append(step())
        if len(rates) >= min_steps and abs(rates[-1] - rates[-2]) <= WARM_TOL * rates[-2]:
            return rates
        if time.perf_counter() - t0 > WARM_MAX_S:
            return rates


def check_dense(ctx: Context) -> None:
    from workloads import require

    s = ctx.setup
    sums = "count(*), sum(h), sum(r), sum(t), sum((h * 7919 + r * 31 + t) % 1000003)"
    got = tuple(int(v) for v in s.dense.selectExpr(*sums.split(", ")).collect()[0])
    want = tuple(int(v) for v in ctx.oracle.con.execute(f"SELECT {sums} FROM dense").fetchone())
    require(got == want, f"dense triples differ from the oracle: {got} vs {want}")
    require(s.n_entities == ctx.oracle.num_entities(), "entity count differs from the oracle")


def _digest_check(ctx: Context, name: str, value, same=operator.eq) -> None:
    """The same seed must give the same result in every run of the same
    code (``CODE``): ``same(saved, value)`` must hold."""
    from workloads import require

    path = os.path.join(ctx.work, "digest", CODE, f"{name}-seed{ctx.seed}.json")
    value = json.loads(json.dumps(value))
    if os.path.exists(path):
        with open(path) as f:
            require(same(json.load(f), value), f"{name}: result differs from an earlier run of this seed")
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(value, f)


def _same_trace(a: list[float], b: list[float]) -> bool:
    """Loss traces agree to the tolerance of the in-run check."""
    import numpy as np

    return len(a) == len(b) and bool(np.allclose(a, b, rtol=1e-9, atol=0))


def _sampler(ctx: Context):
    """An RSS sampler that also splits the peak into driver, JVM and
    workers and polls the JVM heap in use."""
    from spans import RssSampler

    spark = ctx.setup.spark
    proc = getattr(type(spark.sparkContext)._gateway, "proc", None)
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return RssSampler(proc.pid if proc else None, lambda: mem.getHeapMemoryUsage().getUsed() / 2**20)


_T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# -- untraced run ------------------------------------------------------------------


def measure(ctx: Context, wl, seconds: float) -> tuple[dict, object, dict]:
    """Warm up, then time the workload for ``seconds``.  Returns
    (metrics without setup, op stats, summary for humans)."""
    from spans import Tracer
    from workloads import CheckFailed, OpStats

    summary: dict = {}
    if wl.name == "efo_serve":
        warm_wrong = 0

        def step():
            nonlocal warm_wrong
            st, _, wall = wl.run_for(EFO_WINDOW_S)
            warm_wrong += st.wrong
            return len(st.seconds) / wall

        warm = warm_up(step, EFO_WARM_MIN_STEPS)
        log("warmed up")
        rss = _sampler(ctx).start()
        stats, _, wall = wl.run_for(seconds)
        peak = rss.stop()
        stats.wrong += warm_wrong  # warm-up answers are checked too
        rate = len(stats.seconds) / wall
        summary["efo_qps"] = rate
    elif wl.name == "qaa_neural":
        off = Tracer(False)

        def step():
            res = wl.op(off)
            if wl.tables is None:  # the first pass is the checked one
                wl.check_batch(res)
                _digest_check(ctx, wl.name, {"cqd": res["cqd"], "lmpnn": res["lmpnn"]})
            wl.check_tables(res)
            return 1.0 / (res["cqd_s"] + res["lmpnn_s"])

        # one pass: it is also the checked pass, and the next pass runs
        # within a few percent of later ones (README.md, warm-up)
        warm = [step()]
        log("warmed up")
        stats = OpStats()
        cqd_s, lm_s = [], []
        rss = _sampler(ctx).start()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            try:
                res = wl.op(off)
                wl.check_tables(res)
            except CheckFailed:
                raise
            except Exception as exc:  # noqa: BLE001 - counted as a failed pass
                stats.record(0.0, 2 * wl.n, False, repr(exc)[:300])
                continue
            cqd_s.append(res["cqd_s"])
            lm_s.append(res["lmpnn_s"])
            stats.record(res["cqd_s"] + res["lmpnn_s"], 2 * wl.n, True)
        peak = rss.stop()
        rate = stats.items / sum(stats.seconds) if stats.seconds else 0.0
        summary |= {"cqd_qps": wl.n / median(cqd_s), "lmpnn_qps": wl.n / median(lm_s),
                    "instances": wl.n}
    else:
        def step():
            t0 = time.perf_counter()
            wl.epoch()
            return 1.0 / (time.perf_counter() - t0)

        warm = warm_up(step)
        log("warmed up")
        stats = OpStats()
        rss = _sampler(ctx).start()
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            t0 = time.perf_counter()
            try:
                wl.epoch()
            except CheckFailed:
                raise
            except Exception as exc:  # noqa: BLE001 - counted as a failed epoch
                stats.record(0.0, wl.n_triples, False, repr(exc)[:300])
                continue
            stats.record(time.perf_counter() - t0, wl.n_triples, True)
        peak = rss.stop()
        # from the median epoch, so one epoch slowed by the host counts once
        rate = wl.n_triples / median(stats.seconds) if stats.seconds else 0.0
        _digest_check(ctx, wl.name, wl.trace, _same_trace)
        summary |= {"train_triples_per_s": rate, "triples": wl.n_triples, "loss_trace": wl.trace,
                    "epoch_ms": [round(1e3 * s, 1) for s in stats.seconds]}
    ms = [1e3 * s for s in stats.seconds]
    tail, pct = percentile_tail(ms) if ms else (float("nan"), 0.0)
    summary |= {"ops": len(ms), "tail_percentile": pct, "warm_up_rates": [round(r, 3) for r in warm],
                "cpu_steal_pct": round(rss.steal_pct, 2),
                "peak_rss_parts_mb": {k: round(v, 1) for k, v in rss.peak_parts.items()},
                "jvm_heap_used_peak_mb": round(rss.heap_peak_mb, 1)}
    metrics = {
        "p50_ms": (median(ms), "ms"),
        "p95_ms": (tail, "ms"),
        "throughput_per_s": (rate, "1/s"),
        "peak_rss_mb": (peak, "MB"),
    }
    return metrics, stats, summary


# -- traced run ----------------------------------------------------------------------


def trace_run(ctx: Context, workloads: dict, name: str, seconds: float, tracer) -> tuple[dict, object]:
    """Interleave untraced and traced ops of ``name`` for ``seconds``
    (the overhead), then run one traced op of every other workload so
    that each layer has spans."""
    from spans import Tracer
    from workloads import OpStats

    wl = workloads[name]
    plain, traced = [], []
    stats = OpStats()
    if name == "efo_serve":
        with ctx.phase(name):
            w, _, _ = wl.run_for(2.0)
            p, t, _ = wl.run_for(seconds, tracer)
        plain, traced = p.seconds, t.seconds
        stats.wrong += w.wrong
        for st in (p, t):
            stats.attempted += st.attempted
            stats.failed += st.failed
            stats.wrong += st.wrong
    else:
        off = Tracer(False)
        with ctx.phase(name):
            if name == "qaa_neural":  # warm-up pass, then alternate
                wl.check_tables(wl.op(off))
            else:
                wl.epoch()
            deadline = time.perf_counter() + seconds
            k = 0
            while time.perf_counter() < deadline or len(traced) < 1:
                t0 = time.perf_counter()
                if name == "qaa_neural":
                    res = wl.op(tracer if k % 2 else off)
                    wl.check_tables(res)
                    secs = res["cqd_s"] + res["lmpnn_s"]
                else:
                    wl.epoch(tracer if k % 2 else None)
                    secs = time.perf_counter() - t0
                (traced if k % 2 else plain).append(secs)
                stats.attempted += 1
                k += 1
    for other, owl in workloads.items():
        if other == name:
            continue
        with ctx.phase(other):
            if other == "efo_serve":
                owl.sweep(tracer, stats)
            elif other == "qaa_neural":
                res = owl.op(tracer)
                owl.check_batch(res)
                owl.check_tables(res)
                _digest_check(ctx, other, {"cqd": res["cqd"], "lmpnn": res["lmpnn"]})
                stats.attempted += 1
            else:
                owl.epoch(tracer)
                stats.attempted += 1
    overhead = 100.0 * (median(traced) / median(plain) - 1.0) if plain and traced else float("nan")
    return {"trace.overhead_pct": (overhead, "%")}, stats


def layer_metrics(tracer, totals: dict, setup_times: dict) -> dict:
    def spans(n):
        return tracer.by_name(n)

    def med(n, f):
        xs = [f(s) for s in spans(n)]
        return median(xs) if xs else float("nan")

    def cnt(key):
        return lambda s: s.counts.get(key, 0.0)

    def per_parent(n, f):
        """Median over parents of the summed ``f`` of their ``n`` spans."""
        sums: dict[str, float] = {}
        for s in spans(n):
            sums[s.parent] = sums.get(s.parent, 0.0) + f(s)
        return median(list(sums.values()))

    out = {
        "session.start_s": (setup_times["session.start_s"], "s"),
        "engine.for_dir_s": (setup_times["engine.for_dir_s"], "s"),
        "oracle.densify_s": (setup_times["oracle.densify_s"], "s"),
        "language.parse_dnf_us": (1e6 * med("language.parse_dnf", lambda s: s.seconds), "us"),
        "exact.plan_ms": (1e3 * med("exact.plan", lambda s: s.seconds), "ms"),
        "exact.exec_ms": (1e3 * med("exact.exec", lambda s: s.seconds), "ms"),
    }
    # per-query Spark counts: the plan and exec spans of each query
    per_q: dict[str, dict[str, float]] = {}
    for s in spans("exact.plan") + spans("exact.exec"):
        acc = per_q.setdefault(s.parent, {})
        for k, v in s.counts.items():
            acc[k] = acc.get(k, 0.0) + v
    qs = list(per_q.values())
    answers = sum(q.get("answers", 0.0) for q in qs)
    out |= {
        "exact.jobs_per_query": (median([q.get("jobs", 0.0) for q in qs]), "count"),
        "exact.tasks_per_query": (median([q.get("tasks", 0.0) for q in qs]), "count"),
        "exact.input_rows_per_answer": (
            sum(q.get("input_rows", 0.0) for q in qs) / answers if answers else float("nan"), "ratio"),
        "exact.shuffle_bytes_per_query": (median([q.get("shuffle_bytes", 0.0) for q in qs]), "B"),
        "kge.kernel_s": (med("kge.kernel", lambda s: s.seconds), "s"),
        "kge.kernel_rows_out": (med("kge.kernel", cnt("rows_out")), "count"),
        "kge.arrow_bytes": (med("kge.kernel", cnt("arrow_bytes")), "B"),
        "kge.broadcast_bytes": (med("kge.kernel", cnt("broadcast_bytes")), "B"),
        "cqd.eval_s": (per_parent("cqd.eval", lambda s: s.seconds), "s"),
        "cqd.shuffle_bytes": (per_parent("cqd.eval", cnt("shuffle_bytes")), "B"),
        "cqd.stages": (per_parent("cqd.eval", cnt("stages")), "count"),
        "lmpnn.forward_s": (med("lmpnn.forward", lambda s: s.seconds), "s"),
        "lmpnn.score_s": (med("lmpnn.score", lambda s: s.seconds), "s"),
        "lmpnn.shuffle_bytes": (
            med("lmpnn.forward", cnt("shuffle_bytes")) + med("lmpnn.score", cnt("shuffle_bytes")), "B"),
        "metric.ranks_s": (med("metric.ranks", lambda s: s.seconds), "s"),
        "metric.rows_compared": (med("metric.ranks", cnt("join_rows")), "count"),
        "metric.shuffle_bytes": (med("metric.ranks", cnt("shuffle_bytes")), "B"),
        "train.grad_s": (med("train.step", cnt("job_s")), "s"),
        "train.apply_s": (med("train.step", lambda s: s.seconds - s.counts.get("job_s", 0.0)), "s"),
        "train.shuffle_bytes": (med("train.step", cnt("shuffle_bytes")), "B"),
        "train.contrib_rows_per_triple": (
            med("train.step", lambda s: s.counts.get("py_rows_out", 0.0) / max(s.counts.get("triples", 1), 1)),
            "ratio"),
        **{f"spark.failed_tasks.{n}": (totals.get(f"failed_tasks.{n}", 0.0), "count")
           for n in ("setup", *WORKLOADS)},
    }
    return out


# -- main -----------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work")
    _environment(work)
    import knovexlite_spark  # noqa: F401 - fail fast outside a checkout of the repo
    from spans import Tracer, event_log_files, parse_event_log
    from workloads import CheckFailed, EfoServe, KgeTrain, QaaNeural

    trace = bool(args.trace)
    tracer = Tracer(trace)
    ctx = Context(args.seed, work)
    names = WORKLOADS if trace else (args.workload,)
    makers = {
        "efo_serve": lambda: EfoServe(ctx, EFO_POOL if args.workload == "efo_serve" else 48),
        "qaa_neural": lambda: QaaNeural(ctx, QAA_PER_SHAPE),
        "kge_train": lambda: KgeTrain(ctx, TRAIN_SAMPLE_MOD, TRAIN_ROUND),
    }
    wls = {n: makers[n]() for n in names}
    log("inputs generated and answered")

    conf = _spark_conf(work, trace)
    with ctx.phase("setup"):
        ctx.setup, setup_times, setups = set_up_repeated(ctx.data_dir, conf, args.seed, tracer)
    log("set-up: " + ", ".join(f"{t['setup_s']:.2f}s" for t in setups))
    spark = ctx.setup.spark
    correct, summary = True, {}
    try:
        with ctx.phase("setup"):
            check_dense(ctx)
        for wl in wls.values():
            if hasattr(wl, "bind"):
                with ctx.phase(wl.name):
                    wl.bind()
        if trace:
            metrics, stats = trace_run(ctx, wls, args.workload, args.seconds, tracer)
        else:
            metrics, stats, summary = measure(ctx, wls[args.workload], args.seconds)
            metrics["setup_s"] = (setup_times["setup_s"], "s")
    except CheckFailed as exc:
        print(f"check failed: {exc}", file=sys.stderr)
        correct = False
        from workloads import OpStats

        stats, metrics = OpStats(attempted=1, failed=1), {}
    finally:
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        ctx.oracle.close()
    correct = correct and stats.wrong == 0
    if stats.errors:
        print("failures: " + "; ".join(stats.errors), file=sys.stderr)
    if trace:
        counts, totals = parse_event_log(event_log_files(os.path.join(work, "eventlog"), app_id), ctx.phases)
        log("tasks (failed) per phase: " + ", ".join(
            f"{k[6:]} {v:.0f} ({totals['failed_' + k]:.0f})" for k, v in totals.items() if k.startswith("tasks.")))
        tracer.attach_counts(counts)
        metrics |= layer_metrics(tracer, totals, setup_times)
        tracer.dump(os.path.join(work, "trace", f"{args.workload}-seed{args.seed}.json"))
    else:
        attempted = max(stats.attempted, 1)
        metrics["ok_frac"] = (1.0 - stats.failed / attempted, "fraction")
    log("done")
    if not trace:
        summary["setup_runs_s"] = [round(t["setup_s"], 3) for t in setups]
        print("summary: " + json.dumps(summary, default=float))
    result = {
        "correct": bool(correct),
        "attempted": int(max(stats.attempted, 1)),
        "failed": int(stats.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
