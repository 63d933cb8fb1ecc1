"""Summary arithmetic of the benchmark: medians, quartiles,
percentiles and span self time. Pure Python, no Spark, so the tests in
``test_stats.py`` pin it on hand-made inputs."""

from __future__ import annotations

import math
import statistics

# p95 is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the exclusive method), the same arithmetic the steadiness
    check applies to a set of runs."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    ordered = sorted(values)
    rank = math.ceil(p / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def beyond(values: list[float], p: float) -> int:
    """Number of samples strictly above the ``p`` percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def repeat_share(term_lists: list[list[str]]) -> float:
    """Share of the terms, in order, that already appeared earlier."""
    seen: set[str] = set()
    drawn = repeated = 0
    for terms in term_lists:
        for t in terms:
            drawn += 1
            repeated += t in seen
            seen.add(t)
    return repeated / drawn if drawn else 0.0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
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


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children are clipped to the parent, and overlapping children count
    once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - covered(clipped)
