"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` that has at least ten of
    ``n`` samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= 10:
            best = p
    return best


def median(values: list[float]) -> float:
    return statistics.median(values)
