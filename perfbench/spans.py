"""Layer spans, Spark counters per span, and process memory.

Spans are recorded from outside the package: each call into a layer's
public function runs under a fresh Spark job group, so every job it starts
is attributed to that call. Spans stay in memory while a run executes;
their counters are read from the driver's status tracker and status store
only after the run has ended.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "io", "etl", "tfidf", "kmeans", "dedup", "components", "plans")

# Counters every layer reports, with their units.
COMMON = {
    "busy_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_read_records": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "failed_tasks": "count",
    "driver_gap_s": "s",
}
EXTRA = {
    "kmeans.iterations": "count",
    "kmeans.s_per_iter": "s",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "io.write_bytes": "bytes",
    "session.start_s": "s",
}
UNITS = {f"{layer}.{m}": u for layer in LAYERS for m, u in COMMON.items()} | EXTRA | {
    "trace.overhead_s": "s"
}


@dataclass
class Span:
    layer: str
    name: str
    group: str
    start: float
    parent: Span | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans of one process; ``enabled=False`` records nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        """Run the body under a job group unique to this call."""
        if not self.enabled:
            yield {}
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, name, f"perfbench-{uuid.uuid4().hex}", 0.0, parent)
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s.attrs
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(parent.group, f"{parent.layer}:{parent.name}")
            self.spans.append(s)



def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def _self_intervals(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The span's interval minus the intervals of its child spans."""
    out, cur = [], span.start
    for c in sorted(children, key=lambda c: c.start):
        if c.start > cur:
            out.append((cur, c.start))
        cur = max(cur, c.end)
    if span.end > cur:
        out.append((cur, span.end))
    return out


def span_counters(spark, span: Span, children: list[Span]) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of the jobs run in ``span``'s
    own job group (a child span's jobs belong to the child)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k in COMMON}
    out["write_bytes"] = 0.0
    out["busy_s"] = span.end - span.start
    stage_ivs = []
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(span.group):
        out["jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            # a stage skipped because its shuffle output is reused still
            # counts, as in the job's own stage list
            out["stages"] += 1
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_read_records"] += st.shuffleReadRecords()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["write_bytes"] += st.outputBytes()
            a, b = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
            if a is not None:
                stage_ivs.append((a, b if b is not None else span.end))
    own = _self_intervals(span, children)
    covered = sum(_union_len(_clip(stage_ivs, a, b)) for a, b in own)
    out["driver_gap_s"] = max(sum(b - a for a, b in own) - covered, 0.0)
    return out


def layer_totals(spark, spans: list[Span]) -> dict[str, float]:
    """Per-layer sums over ``spans``, named ``<layer>.<metric>``; layers
    without a span read 0. Waits until the listener bus has delivered
    every event of the finished jobs first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    totals = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in COMMON}
    totals["io.write_bytes"] = 0.0
    for s in spans:
        children = [c for c in spans if c.parent is s]
        c = span_counters(spark, s, children)
        for m in COMMON:
            totals[f"{s.layer}.{m}"] += c[m]
        if s.layer == "io":
            totals["io.write_bytes"] += c["write_bytes"]
        for k, v in s.attrs.items():
            key = f"{s.layer}.{k}"
            totals[key] = totals.get(key, 0.0) + v
    return totals


class Memory:
    """Peak resident memory (VmHWM) of the JVM and the Python driver."""

    def __init__(self, spark):
        self.pids = [spark.sparkContext._gateway.proc.pid, os.getpid()]

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def peak_mb(self) -> float:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0
