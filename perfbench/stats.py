"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

# percentiles op_tail_s may use, highest first
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(n: int, p: float) -> int:
    # the epsilon keeps 99.9% of 10,000 at rank 9,990 despite float rounding
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie past the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile in ``TAIL_GRID``
    with at least ten samples beyond it. With fewer than 20 samples no
    percentile qualifies and the median is returned, labelled p50."""
    n = len(values)
    for p in TAIL_GRID:
        if samples_beyond(n, p) >= TAIL_MIN_BEYOND:
            return percentile(values, p), p, n
    return percentile(values, 50.0), 50.0, n


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
