"""Spans and summary statistics for the benchmark.

A span records one call the benchmark makes into a layer: a name, its
start and end, the span that caused it and the operation it belongs to.
Spans are kept in memory and written out when the run ends. With
tracing off, ``Tracer.span`` records nothing.
"""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = math.nan

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans of one thread. ``op`` is the operation id
    shared by every span of one operation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=op if op is not None else (parent.op if parent else name),
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, op: str, parent: int | None, start: float, end: float) -> Span:
        """Record a span measured elsewhere (e.g. a streaming trigger,
        timed by the engine)."""
        s = Span(len(self.spans), name, op, parent, start, end)
        self.spans.append(s)
        return s

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of its interval that its children cover."""
        return self_times(self.spans)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += s.duration - _covered(children[s.id], s.start, s.end)
    return dict(out)


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples above it, as
    ``(value, percentile, n_samples)``. Below 20 samples that
    percentile would fall under the median, so the maximum is reported
    as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    k = n - 11  # index of the highest sample with ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def tail_mean(values: list[float]) -> float:
    """Mean of the slowest third of the samples (the ten slowest of
    thirty). Across runs it varies about half as much as ``tail``,
    which rests on one order statistic."""
    xs = sorted(values)
    k = math.ceil(len(xs) / 3)
    return sum(xs[-k:]) / k
