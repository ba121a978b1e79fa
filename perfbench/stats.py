"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only where at least this many samples
# lie beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least
    TAIL_BEYOND samples strictly above it in rank: with n samples, the
    sample of rank n - TAIL_BEYOND (1-based), percentile
    100 * (n - TAIL_BEYOND) / n. When that rank falls below the median
    (n < 2 * TAIL_BEYOND) no tail is supported and the median is
    returned with percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - TAIL_BEYOND
    if 2 * rank < n:
        return 50.0, median(xs)
    return 100.0 * rank / n, float(xs[rank - 1])
