"""Arithmetic the runner reports with: quantiles, the tail rule, interval
unions and span self time. Pure Python, no Spark, so it is unit-tested."""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail quantile


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The (1 - beyond/n) quantile of the n samples, so that at least
    ``beyond`` samples lie above it. Returns (value, q, n); with
    n <= beyond there is no such quantile and the maximum is returned
    with q = 1."""
    n = len(xs)
    if n <= beyond:
        return max(xs), 1.0, n
    q = 1.0 - beyond / n
    # The nearest-rank value at q leaves exactly ``beyond`` samples above.
    s = sorted(xs)
    return s[n - beyond - 1], q, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    w0, w1 = window
    return union_length([(max(s, w0), min(e, w1)) for s, e in intervals])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None at top level
    op: str | None = None
    pass_no: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered((s.start, s.end), kids.get(i, []))
        for i, s in enumerate(spans)
    ]


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
