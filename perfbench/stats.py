"""Order statistics and interval arithmetic behind the reported metrics.

Pure Python, no Spark: the runner, the compare command and the tests
all use these, so a metric means the same thing everywhere.
"""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(values: list[float], pct: float,
                    min_beyond: int = MIN_BEYOND) -> float | None:
    """Nearest-rank ``pct``-th percentile, or None when fewer than
    ``min_beyond`` samples lie beyond it (so p90 needs 100 samples)."""
    n = len(values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    if n == 0 or n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def union_length(intervals: list[tuple[float, float]],
                 lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float,
               stage_intervals: list[tuple[float, float]]) -> float:
    """Wall time of [start, end] during which no stage was running: the
    driver-side floor (planning, scheduling, result handling)."""
    return (end - start) - union_length(stage_intervals, start, end)
