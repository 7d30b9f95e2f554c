"""In-memory trace spans and self-time computation.

A span is (name, start, end, parent, job id) plus counters. The tracer
keeps every span in memory; the caller writes them out once, after the
measured work is done.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Tracer.spans
    job_id: str  # one id per traced request (a whole job or a replay)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children (concurrent Spark jobs) count once."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            job_id: str, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, job_id, attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, job_id: str, **attrs):
        """Record a span around the body; yields its index so the body
        can attach counters or children."""
        parent = self._stack[-1] if self._stack else None
        idx = self.add(name, self.clock(), float("nan"), parent, job_id, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        return self_time(self.spans[idx], self.children(idx))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
