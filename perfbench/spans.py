"""Spans around the benchmark's calls into each library layer.

A :class:`Tracer` times every call. With ``enabled=True`` it also tags
the call's Spark jobs with a job group of their own and, when the call
returns, sums the counters of the stages those jobs ran, read from
Spark's status store after the listener bus has drained. The library is
not touched: everything here is visible from outside it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "cpu_ms", "shuffle_bytes", "spill_bytes", "gc_ms")


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    pass_id: int
    start: float  # epoch seconds, comparable with Spark's job times
    end: float = 0.0
    wall_s: float = 0.0  # from the monotonic clock
    # wall time minus the union of the span's job intervals
    driver_s: float = 0.0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    def as_dict(self) -> dict:
        return {
            "name": self.name, "span_id": self.span_id, "parent_id": self.parent_id,
            "pass_id": self.pass_id, "start": self.start, "end": self.end,
            "wall_s": self.wall_s, "driver_s": self.driver_s, **self.counters,
        }


class Tracer:
    """Times calls; when enabled, also attributes Spark work to them.

    Spans nest: a pass span is the parent of the layer spans opened
    inside it, and every span of one pass carries that pass's id.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pass_id = -1
        self._seen_stages: set[tuple[int, int]] = set()
        # time spent tagging jobs and reading counters: the tracer's own cost
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str):
        """A pass when no span is open, otherwise a layer inside the pass."""
        if not self._stack:
            self._pass_id += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name, len(self.spans), parent.span_id if parent else None, self._pass_id,
            time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        layer = self.enabled and parent is not None
        if layer:
            t0 = time.perf_counter()
            self.sc.setJobGroup(group, name)
            self.self_s += time.perf_counter() - t0
        t_start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t_start
            sp.end = time.time()
            self._stack.pop()
            if layer:
                t0 = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self._collect(sp, group)
                self.self_s += time.perf_counter() - t0

    def _collect(self, sp: Span, group: str) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        busy: list[tuple[float, float]] = []
        c = sp.counters
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t1 = done.get().getTime() / 1e3 if done.isDefined() else sp.end
                busy.append((sub.get().getTime() / 1e3, t1))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                self._add_stage(store, stage_ids.apply(i), c)
        sp.driver_s = sp.wall_s - _covered(busy, sp.start, sp.end)

    def _add_stage(self, store, stage_id: int, c: dict) -> None:
        """Add one stage's counters once: a stage reused from an earlier
        job (a skipped shuffle map stage) belongs to the span that ran it."""
        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage never ran (skipped)
            return
        key = (stage_id, st.attemptId())
        if key in self._seen_stages or st.status().toString() == "SKIPPED":
            return
        self._seen_stages.add(key)
        c["tasks"] += st.numCompleteTasks()
        c["cpu_ms"] += st.executorCpuTime() / 1e6
        c["shuffle_bytes"] += st.shuffleWriteBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["gc_ms"] += st.jvmGcTime()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
