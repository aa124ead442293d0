"""The three workloads, each as prepared inputs plus a unit operation.

- ``efo_serve``: one op is one ``Engine.efo(...).collect()`` query from
  a closed loop of client threads.
- ``qaa_neural``: one op is one pass over the QAA batch, first with
  ``CQDBeam`` through ``kg.qaa.evaluate_qaa`` (each shape's scores
  checkpointed as they are handed over), then with LMPNN through
  ``build_query_graph_frames`` -> ``LMPNN.forward`` ->
  ``scores_from_readout`` -> ``filtered_hard_ranks``/``mrr_hits``
  (``evaluate_qaa`` needs ``eval_batch``, which LMPNN lacks).
- ``kge_train``: one op is one ``train_step`` epoch on a seeded sample of
  the dense triples.

Each op runs untraced (the calls a user makes) or traced, with a span
around each layer call whose output is materialised inside it, so its
time belongs to it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import inputs
import reference
from spans import Tracer, count_broadcasts
from knovexlite_spark.functions.kge import TransE, score_all_tails_grouped_max
from knovexlite_spark.kg.qaa import evaluate_qaa, load_qaa_json, qaa_answer_frames
from knovexlite_spark.language.normalize import dnf_conjuncts
from knovexlite_spark.language.parser import parse_lstr
from knovexlite_spark.queries.efo import CQ_DEFS
from knovexlite_spark.reasoner.cqd import CQDBeam
from knovexlite_spark.reasoner.lmpnn import LMPNN, build_query_graph_frames
from knovexlite_spark.reasoner.metric import filtered_hard_ranks, mrr_hits
from knovexlite_spark.reasoner.train import train_step

BEAM = 10
TRAIN_LR = 0.05
TRAIN_NEGATIVES = 8
CHECK_TOL = 1e-5


class CheckFailed(Exception):
    """An output differs from its expected value."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class OpStats:
    """Per-op wall times (seconds), work items and failures."""

    seconds: list[float] = field(default_factory=list)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    wrong: int = 0  # failed ops whose output was checked and differed
    errors: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def record(self, secs: float, items: int, ok: bool, err: str | None = None, wrong: bool = False) -> None:
        with self.lock:
            self.attempted += 1
            self.wrong += wrong
            if ok:
                self.seconds.append(secs)
                self.items += items
            else:
                self.failed += 1
                if err and len(self.errors) < 5:
                    self.errors.append(err)


# -- efo_serve ------------------------------------------------------------------


class EfoServe:
    name = "efo_serve"
    clients = 4

    def __init__(self, ctx, pool_size: int):
        self.ctx = ctx
        self.pool = inputs.efo_pool(ctx.rng(self.name), ctx.oracle, CQ_DEFS, pool_size)
        self._next = 0
        self._lock = threading.Lock()

    def _take(self):
        with self._lock:
            q = self.pool[self._next % len(self.pool)]
            self._next += 1
        return q

    def query(self, q, tracer=None) -> set[int]:
        eng = self.ctx.setup.engine
        if tracer is None:
            rows = eng.efo(q.lstr, q.bind, augmented=True).collect()
            return {int(r[0]) for r in rows}
        sc = eng.spark.sparkContext
        with tracer.span("efo.query"):
            with tracer.span("language.parse_dnf"):
                dnf_conjuncts(parse_lstr(q.lstr))
            with tracer.span("exact.plan", sc):
                df = eng.efo(q.lstr, q.bind, augmented=True)
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exact.exec", sc) as sp:
                rows = df.collect()
                sp.counts["answers"] = len(rows)
        return {int(r[0]) for r in rows}

    def one(self, stats: OpStats, tracer=None) -> None:
        q, want = self._take()
        t0 = time.perf_counter()
        try:
            got = self.query(q, tracer)
            secs = time.perf_counter() - t0
            ok = got == want
            stats.record(secs, 1, ok, None if ok else f"{q.shape} {q.bind}: {len(got)} != {len(want)} answers", wrong=not ok)
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            stats.record(0.0, 1, False, f"{q.shape}: {exc!r}"[:300])

    def run_for(self, seconds: float, tracer=None) -> tuple[OpStats, OpStats, float]:
        """Closed loop: each client sends its next query when the last
        returns, until ``seconds`` pass.  With a ``tracer`` every client
        alternates untraced and traced queries.  Returns (untraced,
        traced, wall seconds)."""
        plain, traced = OpStats(), OpStats()
        deadline = time.perf_counter() + seconds
        errors: list[BaseException] = []

        def client():
            try:
                k = 0
                while time.perf_counter() < deadline:
                    if tracer is not None and k % 2:
                        self.one(traced, tracer)
                    else:
                        self.one(plain)
                    k += 1
            except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
                errors.append(exc)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(self.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise errors[0]
        return plain, traced, time.perf_counter() - t0

    def sweep(self, tracer, stats: OpStats) -> None:
        """One traced query per shape."""
        seen = set()
        for q, want in self.pool:
            if q.shape in seen:
                continue
            seen.add(q.shape)
            t0 = time.perf_counter()
            got = self.query(q, tracer)
            stats.record(time.perf_counter() - t0, 1, got == want, wrong=got != want)


# -- qaa_neural ------------------------------------------------------------------


class _Materialised:
    """Hands ``evaluate_qaa`` each shape's CQD scores checkpointed, and
    keeps them for the output checks.  ``evaluate_qaa`` uses the score
    frame four times (two ``answer_ranks`` calls, each joining it
    twice), so without this every use would rerun the beam search."""

    def __init__(self, reasoner, tracer, sc):
        self.reasoner, self.tracer, self.sc = reasoner, tracer, sc
        self.frames = []

    def eval_batch(self, spark, lstr, instances, free_var="f"):
        with self.tracer.span("cqd.eval", self.sc):
            out = self.reasoner.eval_batch(spark, lstr, instances, free_var).localCheckpoint(eager=True)
        self.frames.append(out)
        return out


def _table(rows) -> dict[str, tuple[float, ...]]:
    return {
        r["qtype"]: tuple(round(float(r[k]), 12) for k in ("mrr", "hit1", "hit3", "hit10"))
        for r in rows
    }


class QaaNeural:
    name = "qaa_neural"

    def __init__(self, ctx, per_shape: int):
        self.ctx = ctx
        self.batch = inputs.qaa_batch(ctx.rng(self.name), ctx.oracle, per_shape, ctx.seed)
        self.path = os.path.join(ctx.work, f"qaa_seed{ctx.seed}.json")
        obj: dict[str, list] = {}
        for inst in self.batch:
            obj.setdefault(inst.lstr, []).append([inst.bindings, inst.easy, inst.hard])
        with open(self.path, "w") as f:
            json.dump(obj, f)
        self.tables: dict[str, dict] | None = None

    def bind(self) -> None:
        """Load the QAA file into the (final) session; build the models."""
        s = self.ctx.setup
        self.qaa = load_qaa_json(s.spark, self.path).cache()
        self.qaa.count()
        rows = self.qaa.select("query_id", "lstr", "bindings").orderBy("query_id").collect()
        self.instances = [(r["query_id"], r["lstr"], dict(r["bindings"])) for r in rows]
        require(
            self.instances == [(i.qid, i.lstr, i.bindings) for i in self.batch],
            "load_qaa_json numbered the instances differently from the QAA file",
        )
        self.easy, self.hard, self.qtypes = qaa_answer_frames(self.qaa)
        self.cqd = CQDBeam(TransE(), s.store, beam_size=BEAM)
        self.lmpnn = LMPNN(TransE(), s.store, bias_only=True)

    @property
    def n(self) -> int:
        return len(self.batch)

    def _frontier(self):
        """The first CQD level of the batch: every anchor edge as a
        (query_id, edge_id, h, r, neg, acc) source row."""
        rows = []
        for inst in self.batch:
            for k, (src, _dst, sym, neg) in enumerate(reference.ATOMS[inst.shape]):
                if src.startswith("s"):
                    rows.append((inst.qid, k, inst.bindings[src], inst.bindings[sym], neg, 0.0))
        return self.ctx.setup.spark.createDataFrame(
            rows, "query_id long, edge_id long, h long, r long, neg boolean, acc double"
        )

    def op(self, tracer) -> dict:
        """One pass over the batch: CQD through ``evaluate_qaa``, then
        LMPNN.  With an enabled tracer each layer call gets a span and
        the kernel is also timed alone on the batch's anchor frontier.
        Returns the MRR/Hits tables, the per-reasoner seconds and the
        checkpointed frames the output checks read."""
        s = self.ctx.setup
        spark, sc = s.spark, s.spark.sparkContext
        with tracer.span("qaa.batch"):
            if tracer.enabled:
                with tracer.span("kge.kernel", sc) as sp, count_broadcasts(sc, sp):
                    out = score_all_tails_grouped_max(
                        self._frontier(), TransE(), s.store, acc_col="acc", neg_col="neg",
                        group_cols=("query_id", "edge_id"),
                    )
                    sp.counts["rows_out"] = out.count()
            t0 = time.perf_counter()
            cqd = _Materialised(self.cqd, tracer, sc)
            with tracer.span("kg.qaa.evaluate", sc):
                cqd_rows = evaluate_qaa(spark, self.qaa, cqd).collect()
            t1 = time.perf_counter()
            with tracer.span("lmpnn.forward", sc):
                nodes, edges = build_query_graph_frames(spark, self.instances)
                femb = self.lmpnn.forward(nodes, edges).localCheckpoint(eager=True)
            with tracer.span("lmpnn.score", sc):
                lm_scores = self.lmpnn.scores_from_readout(femb).localCheckpoint(eager=True)
            with tracer.span("metric.ranks", sc):
                lm_rows = mrr_hits(
                    filtered_hard_ranks(lm_scores, self.easy, self.hard), self.qtypes
                ).collect()
            t2 = time.perf_counter()
        cqd_scores = cqd.frames[0]
        for fr in cqd.frames[1:]:
            cqd_scores = cqd_scores.unionByName(fr)
        return {
            "cqd": _table(cqd_rows),
            "lmpnn": _table(lm_rows),
            "cqd_s": t1 - t0,
            "lmpnn_s": t2 - t1,
            "cqd_scores": cqd_scores,
            "lm_scores": lm_scores,
            "femb": femb,
        }

    def check_batch(self, res: dict) -> None:
        """Full output check of one traced batch: N scores per instance,
        ranks in [0, N), and the NumPy references on a seeded sample."""
        s = self.ctx.setup
        n = s.n_entities
        for key in ("cqd_scores", "lm_scores"):
            sc = res[key]
            per_q = sc.groupBy("query_id").agg(
                F.count("*").alias("c"), F.countDistinct("t").alias("d"),
                F.min("t").alias("lo"), F.max("t").alias("hi"),
            ).collect()
            require(len(per_q) == self.n, f"{key}: {len(per_q)} of {self.n} instances scored")
            bad = [r for r in per_q if (r["c"], r["d"], r["lo"], r["hi"]) != (n, n, 0, n - 1)]
            require(not bad, f"{key}: instances without exactly N={n} scores: {bad[:3]}")
            ranks = filtered_hard_ranks(sc, self.easy, self.hard).agg(
                F.count("*").alias("c"), F.min("rank").alias("lo"), F.max("rank").alias("hi")
            ).collect()[0]
            n_hard = sum(len(i.hard) for i in self.batch)
            require(ranks["c"] == n_hard, f"{key}: {ranks['c']} ranks for {n_hard} hard answers")
            require(0 <= ranks["lo"] and ranks["hi"] < n, f"{key}: rank outside [0, N): {ranks}")
        # a seeded sample of two instances per shape against NumPy
        pick = np.random.default_rng(self.ctx.seed + 17)
        sample = []
        for shape in reference.SHAPES:
            ids = [i for i in self.batch if i.shape == shape]
            sample += [ids[j] for j in pick.choice(len(ids), size=min(2, len(ids)), replace=False)]
        qids = [i.qid for i in sample]
        got_c = self._dense(res["cqd_scores"], qids, n)
        got_l = self._dense(res["lm_scores"], qids, n)
        femb = {r["query_id"]: np.asarray(r["vec"], dtype=np.float32)
                for r in res["femb"].filter(F.col("query_id").isin(qids)).collect()}
        ent, rel = s.store.ent, s.store.rel
        for inst in sample:
            want = reference.cqd_scores(inst.shape, inst.bindings, ent, rel, BEAM)
            err = float(np.max(np.abs(got_c[inst.qid] - want)))
            require(err <= CHECK_TOL, f"CQD {inst.shape} q{inst.qid}: max |diff| {err:.3g}")
            vec = reference.lmpnn_readout(inst.shape, inst.bindings, ent, rel, self.lmpnn.var_vec)
            rd = float(np.max(np.abs(femb[inst.qid] - vec)) / max(1.0, float(np.max(np.abs(vec)))))
            require(rd <= CHECK_TOL, f"LMPNN {inst.shape} q{inst.qid}: readout rel diff {rd:.3g}")
            err = float(np.max(np.abs(got_l[inst.qid] - reference.cosine_scores(vec, ent))))
            require(err <= CHECK_TOL, f"LMPNN {inst.shape} q{inst.qid}: max |diff| {err:.3g}")

    @staticmethod
    def _dense(scores, qids, n) -> dict[int, np.ndarray]:
        pdf = scores.filter(F.col("query_id").isin(qids)).toPandas()
        out = {}
        for q, g in pdf.groupby("query_id"):
            v = np.full(n, np.nan)
            v[g["t"].to_numpy()] = g["score"].to_numpy()
            out[int(q)] = v
        return out

    def check_tables(self, res: dict) -> None:
        """Every pass of the same batch gives the same MRR/Hits tables."""
        tables = {"cqd": res["cqd"], "lmpnn": res["lmpnn"]}
        require(len(res["cqd"]) == 4 and len(res["lmpnn"]) == 4, f"tables miss a shape: {tables}")
        if self.tables is None:
            self.tables = tables
        require(tables == self.tables, "MRR/Hits table changed between passes of one batch")


# -- kge_train -------------------------------------------------------------------


class KgeTrain:
    name = "kge_train"

    def __init__(self, ctx, sample_mod: int, round_epochs: int):
        self.ctx = ctx
        self.sample_mod = sample_mod
        self.round_epochs = round_epochs
        self.trace: list[float] | None = None

    def bind(self) -> None:
        s = self.ctx.setup
        self.sample = s.dense.filter(
            F.abs(F.xxhash64("h", "r", "t", F.lit(self.ctx.seed))) % self.sample_mod == 0
        ).localCheckpoint(eager=True)
        self.n_triples = self.sample.count()
        self._epoch, self._losses, self.store = 0, [], s.store

    def epoch(self, tracer=None) -> float:
        """One train_step; every ``round_epochs`` epochs training restarts
        from the initial store, so each round's loss trace must repeat."""
        tracer = tracer or Tracer(False)
        if self._epoch % self.round_epochs == 0:
            self.store, self._losses = self.ctx.setup.store, []
        with tracer.span("train.step", self.ctx.setup.spark.sparkContext) as sp:
            res = train_step(self.sample, TransE(), self.store, lr=TRAIN_LR,
                             num_negatives=TRAIN_NEGATIVES, seed=self.ctx.seed)
            sp.counts["triples"] = res.n_triples
        self._epoch += 1
        self.store = res.store
        self._losses.append(res.loss)
        self._check()
        return res.loss

    def _check(self) -> None:
        ls = self._losses
        require(self.n_triples > 0, "empty training sample")
        require(all(np.isfinite(ls)), f"non-finite loss {ls}")
        require(all(b <= a for a, b in zip(ls, ls[1:])), f"loss increased: {ls}")
        ref = self.trace or []
        k = min(len(ref), len(ls))
        require(np.allclose(ref[:k], ls[:k], rtol=1e-9, atol=0), f"loss trace changed: {ref} vs {ls}")
        if len(ls) > len(ref):
            self.trace = list(ls)
