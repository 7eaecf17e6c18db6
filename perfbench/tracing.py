"""In-memory spans around the benchmark's calls into the program, and
the Spark job counts taken at the same boundaries.

A span is (name, start, end, parent). Spans stay in memory until the run
ends; ``self_seconds`` then derives each span name's self time: its
duration minus the part of it covered by its child spans. A disabled
tracer records nothing, so untraced runs pay only a no-op context
manager.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name. Children of one span never
        overlap (spans nest on one thread), so coverage is their sum."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)


def job_shape(tracker, job_ids) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the given Spark jobs, from the driver's
    ``StatusTracker``."""
    stages = tasks = 0
    for job in job_ids:
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            stage_info = tracker.getStageInfo(stage)
            if stage_info is not None:
                stages += 1
                tasks += stage_info.numTasks
    return len(job_ids), stages, tasks
