"""Spans around calls into the program, resolved to Spark stage metrics.

A span records name, start, end, parent span and the operation (request or
batch) it belongs to. Each span runs its calls under its own Spark job
group, so after it ends the jobs it fired can be found through
``sc.statusTracker()`` and each of their stages read from the driver's
status store (``statusStore().lastStageAttempt``). The status store is
filled by the listener bus whether or not the UI is enabled, so this works
in a session with ``spark.ui.enabled=false``. Stages are looked up one at
a time: ``stageList(None)`` does not resolve through py4j.

Nothing inside the program changes: the spans wrap the benchmark's own
calls into the program's public functions.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float  # epoch seconds
    end: float
    group: str
    stats: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


STAGE_FIELDS = (
    "tasks",
    "cpu_ms",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """Opens spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._resolved = 0
        self.self_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 0.0, 0.0, f"perfbench-{sid}")
        self.sc.setJobGroup(s.group, name)
        self._stack.append(s)
        self.self_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self.self_s += time.perf_counter() - t1

    def resolve(self) -> None:
        """Attach stage metrics to every span closed since the last call.
        Call it outside timed regions: it waits for the listener bus."""
        new = self.spans[self._resolved:]
        self._resolved = len(self.spans)
        if not new:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in new:
            s.stats = _span_stats(s, tracker, store)

    def dump(self, stream) -> None:
        """Write every span as one JSON line (at the end of a run)."""
        for s in self.spans:
            stats = {k: v for k, v in s.stats.items() if k != "intervals"}
            stream.write(json.dumps({
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, **stats,
            }) + "\n")


def _span_stats(s: Span, tracker, store) -> dict:
    out = {k: 0 for k in STAGE_FIELDS}
    out["scan_stages"] = 0
    jobs = sorted(tracker.getJobIdsForGroup(s.group))
    stage_ids: set[int] = set()
    intervals = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        try:
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        except Py4JJavaError:  # evicted from the status store
            pass
    stages = 0
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted or never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        stages += 1
        if st.inputBytes() > 0:  # the stage reads files
            out["scan_stages"] += 1
        out["tasks"] += st.numTasks()
        out["cpu_ms"] += st.executorCpuTime() / 1e6
        out["input_records"] += st.inputRecords()
        out["output_bytes"] += st.outputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["jobs"] = len(jobs)
    out["stages"] = stages
    out["intervals"] = intervals
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int | None, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def total(spans: list[Span], key: str) -> float:
    return sum(s.stats.get(key, 0) for s in spans)
