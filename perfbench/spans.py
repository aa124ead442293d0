"""Tracing for the benchmark: spans, Spark event-log counts, process RSS.

A span is recorded around one call into a layer's public function.  It
sets its own Spark job group (a thread-local property), so every job the
call launches is attributable to it; after the traced session stops, the
event log is read back and each span gets the jobs, stages, tasks,
failed tasks, shuffle bytes, input rows, Python (Arrow) bytes and rows
out of joins of its group.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: str | None = None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no
    job group, so untraced code paths run exactly as without it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str, sc=None):
        if not self.enabled:
            yield Span(name, "", 0.0)  # counts set on it are dropped
            return
        with self._lock:
            self._next += 1
            group = f"{name}#{self._next}"
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(name, group, time.perf_counter(), parent=stack[-1].group if stack else None)
        prev = sc.getLocalProperty(_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP, group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def attach_counts(self, counts: dict[str, dict[str, float]]) -> None:
        """Add each span's event-log counts to the counts it recorded."""
        for sp in self.spans:
            sp.counts = {**counts.get(sp.group, {}), **sp.counts}

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "group": s.group,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "counts": s.counts,
                    }
                    for s in sorted(self.spans, key=lambda s: s.start)
                ],
                f,
                indent=1,
            )


@contextmanager
def count_broadcasts(sc, sp: Span):
    """Adds to ``sp.counts["broadcast_bytes"]`` the size of every
    broadcast created on ``sc`` inside the block: the driver pickles each
    broadcast value to a file, which the JVM then ships to executors."""
    make = sc.broadcast

    def counted(value):
        bc = make(value)
        sp.counts["broadcast_bytes"] = sp.counts.get("broadcast_bytes", 0.0) + os.path.getsize(bc._path)
        return bc

    sc.broadcast = counted
    try:
        yield
    finally:
        del sc.broadcast  # the class's method again


# -- Spark event log ------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


# plan nodes whose "number of output rows" each span counts, by count key
ROW_NODES = {
    "MapInPandas": "py_rows_out",
    **{join: "join_rows" for join in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct",
    )},
}


def _plan_accumulators(info: dict, out: dict[int, str]) -> None:
    key = ROW_NODES.get(info.get("nodeName"))
    if key is not None:
        for m in info.get("metrics", []):
            if m.get("name") == "number of output rows":
                out[int(m["accumulatorId"])] = key
    for child in info.get("children", []):
        _plan_accumulators(child, out)


def parse_event_log(
    paths: list[str], phases: list[tuple[str, float, float]]
) -> tuple[dict[str, dict[str, float]], dict[str, float]]:
    """Per job group: jobs, job_s (summed job wall), stages, tasks,
    failed_tasks, shuffle_bytes (written), input_rows, arrow_bytes
    (to and from Python workers), py_rows_out (rows out of MapInPandas)
    and join_rows (rows out of join operators).  Also returns the tasks
    and failed tasks of each phase ``(name, start_ms, end_ms)`` by
    launch time (wall clock, ms), as ``failed_tasks.<name>``; tasks of
    no phase count under ``other``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    row_accs: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    total: dict[str, float] = defaultdict(float)
    tasks: list[dict] = []
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(_GROUP)
            if g:
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"]
                groups[g]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                groups[g]["job_s"] += (ev["Completion Time"] - job_start[ev["Job ID"]]) / 1e3
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(_GROUP)
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                groups[g]["stages"] += 1
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accumulators(ev.get("sparkPlanInfo", {}), row_accs)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    for name, _, _ in phases:
        total[f"tasks.{name}"] += 0
        total[f"failed_tasks.{name}"] += 0
    for ev in tasks:
        failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
        launched = ev.get("Task Info", {}).get("Launch Time", 0)
        phase = next((n for n, lo, hi in phases if lo <= launched <= hi), "other")
        total[f"tasks.{phase}"] += 1
        total[f"failed_tasks.{phase}"] += failed
        g = stage_group.get(ev["Stage ID"])
        if g is None:
            continue
        c = groups[g]
        c["tasks"] += 1
        c["failed_tasks"] += failed
        m = ev.get("Task Metrics") or {}
        c["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        c["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
        for acc in ev.get("Task Info", {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if upd is None:
                continue
            if name in (PY_SENT, PY_RECEIVED):
                c["arrow_bytes"] += float(upd)
            elif int(acc.get("ID", -1)) in row_accs:
                c[row_accs[int(acc["ID"])]] += float(upd)
    return {g: dict(c) for g, c in groups.items()}, dict(total)


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log of one application, in order: a rolling log is a
    directory of ``events_<n>_<app>`` parts, a plain log one file."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    plain = [p for p in glob.glob(os.path.join(log_dir, f"{app_id}*")) if not p.endswith(".inprogress")]
    if not plain:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return plain


# -- memory -------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields follow the last ')'
        rest = raw[raw.rfind(")") + 2 :].split()
        kids[int(rest[1])].append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``: the JVM it launched and the
    JVM's Python workers."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that still run (zombies excluded)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rfind(")") + 2 :].split()[0] != "Z":
            out.append(pid)
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class RssSampler:
    """Samples process-tree RSS on a background thread between start()
    and stop(); ``peak_mb`` is the largest sample and ``peak_parts`` its
    split into the Python driver, the JVM (``jvm_pid``) and the JVM's
    Python workers.  ``heap_used_mb()`` is polled with each sample for
    the JVM heap actually in use (``heap_peak_mb``).  Also
    records the share of the machine's CPU time stolen by the hypervisor
    in that window (``steal_pct``), which explains slow runs on a shared
    host."""

    INTERVAL_S = 0.25

    def __init__(self, jvm_pid: int | None, heap_used_mb):
        self.jvm_pid, self.heap_used_mb = jvm_pid, heap_used_mb
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self.heap_peak_mb = 0.0
        self.steal_pct = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        root = os.getpid()
        rss = {pid: _rss_kb(pid) / 1024.0 for pid in [root, *descendants(root)]}
        total = sum(rss.values())
        if total > self.peak_mb:
            driver, jvm = rss[root], rss.get(self.jvm_pid, 0.0)
            self.peak_mb = total
            self.peak_parts = {"driver": driver, "jvm": jvm, "workers": total - driver - jvm}
        self.heap_peak_mb = max(self.heap_peak_mb, self.heap_used_mb())

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.INTERVAL_S):
                return

    def start(self) -> "RssSampler":
        self._cpu0 = _cpu_ticks()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self._sample()
        d = [b - a for a, b in zip(self._cpu0, _cpu_ticks())]
        self.steal_pct = 100.0 * d[7] / max(sum(d), 1)  # field 8 of the cpu line
        return self.peak_mb
