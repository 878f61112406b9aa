"""Spans around the benchmark's calls into each layer, with Spark's
own task counters attributed to them.

A span sets the SparkContext job group to a fresh id on entry and
restores the enclosing span's group on exit, so every job an action
triggers inside the span (lazily, from any layer) carries the span's
id. After a pass the recorder drains the listener bus and reads each
group's jobs and their stages back from the status store; the spans
themselves stay in memory until the run writes them out.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Stage counters read from the status store, with their scale to the
# reported unit (times are ms/ns in the store, reported in seconds).
STAGE_COUNTERS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    pass_index: int
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Recorder:
    """Span recorder for one run. With ``enabled`` false only the
    per-pass job group is set (one call per pass), so untraced passes
    still attribute their bytes written without per-layer cost."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._harvested = 0
        # per pass: seconds spent opening and closing layer spans, the
        # only work a traced pass does that an untraced one does not
        self.overhead_s: dict[int, float] = {}

    def _open(self, name: str, pass_index: int) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(self._next_id, name, parent, pass_index, time.perf_counter())
        self._next_id += 1
        span.groups.append(f"bench-{span.span_id}")
        self.sc.setJobGroup(span.groups[0], name, False)
        self._stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            outer = self._stack[-1]
            self.sc.setJobGroup(outer.groups[0], outer.name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.spans.append(span)

    @contextmanager
    def pass_span(self, pass_index: int):
        """Root span of one pass; always recorded."""
        span = self._open("pass", pass_index)
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def span(self, name: str):
        """Layer span inside the current pass; a no-op when tracing
        is off."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        pass_index = self._stack[-1].pass_index if self._stack else -1
        span = self._open(name, pass_index)
        cost = time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            self._close(span)
            cost += time.perf_counter() - t1
            self.overhead_s[pass_index] = self.overhead_s.get(pass_index, 0.0) + cost

    def attach_group(self, group: str) -> None:
        """Count jobs of a foreign job group (a streaming query sets
        its own run id as the group) under the innermost open span."""
        self._stack[-1].groups.append(group)

    # -- counters ---------------------------------------------------------

    def harvest(self) -> None:
        """Read stage counters for every span closed since the last
        harvest. Call between passes, outside any timed region."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for span in self.spans[self._harvested:]:
            jobs = [j for g in span.groups for j in tracker.getJobIdsForGroup(g)]
            stages: set[int] = set()
            for job_id in jobs:
                info = tracker.getJobInfo(job_id)
                if info is not None:
                    stages.update(info.stageIds)
            totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
            for stage_id in stages:
                try:
                    data = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 - stage evicted or never submitted
                    continue
                for key, (getter, scale) in STAGE_COUNTERS.items():
                    totals[key] += getattr(data, getter)() * scale
            totals["jobs"] = float(len(jobs))
            span.counters = totals
        self._harvested = len(self.spans)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its direct
    children cover (children of one parent never overlap: the
    benchmark has a single client thread)."""
    covered: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            covered[s.parent] = covered.get(s.parent, 0.0) + s.wall_s
    return {s.span_id: s.wall_s - covered.get(s.span_id, 0.0) for s in spans}
