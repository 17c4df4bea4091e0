"""In-memory spans recorded around calls into the program's layers.

The program is not modified: ``Tracer.patch`` replaces a function by
name in the namespace of the module that calls it (for example
``sutro_spark.sdk.llm_transform``) with a wrapper that records a span,
and ``restore`` puts the original back. Spans carry a name, start, end,
parent span and request id; children are found through a per-thread
stack, so concurrent client threads keep separate trees.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        rec = Span(name, time.perf_counter(), 0.0, parent, request)
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Record a ``name`` span around every call of ``owner.attr``."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
        out.append((s.end - s.start) - covered([k for k in kids if k[1] > k[0]]))
    return out


def mean_self_times(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """``{name: (mean self time per span, span count)}``."""
    sums: dict[str, float] = defaultdict(float)
    counts: dict[str, int] = defaultdict(int)
    for s, t in zip(spans, self_times(spans)):
        sums[s.name] += t
        counts[s.name] += 1
    return {k: (sums[k] / counts[k], counts[k]) for k in sums}


def spark_counts(spark, groups: list[str]) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks completed) over the given job
    groups, from Spark's public ``StatusTracker``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks > 0:
                    stages += 1
                    tasks += stage.numCompletedTasks
    return jobs, stages, tasks
