"""Order statistics the benchmark reports: medians, quartiles, the tail."""

from __future__ import annotations

import math
import statistics

# A tail percentile needs this many samples strictly beyond it, and must
# sit at or above MIN_TAIL_PCT; otherwise the tail is omitted.
MIN_BEYOND = 10
MIN_TAIL_PCT = 75


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def nearest_rank(sorted_values: list[float], pct: int) -> float:
    """The nearest-rank percentile of already sorted values."""
    rank = max(1, math.ceil(pct * len(sorted_values) / 100))
    return sorted_values[rank - 1]


def tail(values: list[float]) -> tuple[int, float] | None:
    """(pct, value): the highest whole percentile with at least
    MIN_BEYOND samples beyond its nearest rank, or None when even the
    MIN_TAIL_PCT-th percentile has fewer. The value is never below the
    median, because the percentile is never below the 75th."""
    s = sorted(values)
    n = len(s)
    for pct in range(99, MIN_TAIL_PCT - 1, -1):
        if n - math.ceil(pct * n / 100) >= MIN_BEYOND:
            return pct, nearest_rank(s, pct)
    return None
