"""In-memory spans and self-time arithmetic.

A span records name, start, end, parent and an operation id (poll,
drain or pass number), plus the range of Spark job ids that ran inside
it. Spans stay in memory until the run ends. Nothing here imports Spark:
the job-id source is a callable handed in by the caller.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    job0: int = 0
    job1: int = 0
    value: int = 0  # a count recorded inside the span

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects nested spans; `next_job` returns Spark's next job id."""

    def __init__(self, next_job: Callable[[], int] = lambda: 0,
                 clock: Callable[[], float] = time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_job = next_job
        self._clock = clock
        self.op = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        s.job0 = self._next_job()
        s.start = self._clock()
        try:
            yield s
        finally:
            s.end = self._clock()
            s.job1 = self._next_job()
            self._stack.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        """`fn` with every call recorded as a span called `name`."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - _covered(kids.get(s.sid, []), s.start, s.end) for s in spans}


def children(spans: list[Span], parent: Span, name: str | None = None) -> list[Span]:
    return [s for s in spans if s.parent == parent.sid and (name is None or s.name == name)]


def descendants(spans: list[Span], root: Span) -> list[Span]:
    out, frontier = [], [root.sid]
    while frontier:
        nxt = [s for s in spans if s.parent in frontier]
        out += nxt
        frontier = [s.sid for s in nxt]
    return out
