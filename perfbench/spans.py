"""In-memory spans and per-layer counters for the traced run.

Spans are recorded only from the benchmark's own files, around its
calls into each engine layer: ``op`` -> ``build`` / ``catalyst`` /
``exec`` for registry ops, ``op`` -> ``lake_tx.*`` for lake ops, plus
``setup`` spans and the ``oracle`` check. Each span has an id, its
parent's id and the op it belongs to; they are kept in memory and
written out once, when the run ends.

Counters that need Spark (jobs, stages, tasks, plan SQL metrics) are
read after the op has finished, outside its spans, and the time spent
reading them is recorded as the tracer's own overhead.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

#: Plan SQL metrics summed into per-layer counters, by metric key.
_PLAN_METRICS = {
    "shuffleBytesWritten": "exec.shuffle_write_bytes",
    "spillSize": "exec.spill_bytes",
    "pythonBootTime": "python.boot_ms",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.total_ms",
    "pythonDataSent": "python.bytes_sent",
}
#: Scan nodes that read files: their row and file counts form the io layer.
_FILE_SCANS = ("FileSourceScanExec", "BatchScanExec")


class Tracer:
    """Span recorder. A disabled tracer records nothing and costs a
    context-manager entry per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": op or self._op,
            "name": name,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if op is not None:
            self._op = op
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self._op = None

    def count(self, key: str, value: float = 1.0) -> None:
        self.counters[key] += value

    def accounting(self):
        """Span around the tracer's own bookkeeping; its total is the
        tracing overhead, and an op's wall time excludes it."""
        return self.span("trace")

    def since(self, t: float) -> list[dict]:
        """Spans that started at or after ``t``."""
        return [s for s in self.spans if s["start"] >= t]

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"stamp": stamp, "spans": self.spans}, f)


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag the Spark jobs launched inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the group launched, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_metrics(jplan) -> dict[str, float]:
    """Sum SQL metrics over an executed physical plan.

    Descends through adaptive plans and query stages to the plan that
    actually ran, and into expression subqueries. Reused exchanges are
    not descended, so a reused stage is counted once.
    """
    out: dict[str, float] = defaultdict(float)
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key in _PLAN_METRICS:
                out[_PLAN_METRICS[key]] += kv._2().value()
            elif key == "dataSize" and cls == "BroadcastExchangeExec":
                out["exec.broadcast_bytes"] += kv._2().value()
            elif cls in _FILE_SCANS and key == "numOutputRows":
                out["io.scan_rows"] += kv._2().value()
            elif cls in _FILE_SCANS and key == "numFiles":
                out["io.scan_files"] += kv._2().value()
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return dict(out)


@contextlib.contextmanager
def memo_counters(tracer: Tracer):
    """Count the engine's memo-cache lookups and inserts.

    ``file_signature`` is computed once per memo lookup and
    ``evicting_put`` once per insert; both are resolved through the
    ``memo`` module at call time, so wrapping the module attributes
    sees every call.
    """
    if not tracer.enabled:
        yield
        return
    from fintrack_etl_spark.operators import memo

    orig_sig, orig_put = memo.file_signature, memo.evicting_put

    def file_signature(*a, **k):
        tracer.count("memo.lookups")
        return orig_sig(*a, **k)

    def evicting_put(*a, **k):
        tracer.count("memo.puts")
        return orig_put(*a, **k)

    memo.file_signature, memo.evicting_put = file_signature, evicting_put
    try:
        yield
    finally:
        memo.file_signature, memo.evicting_put = orig_sig, orig_put
