"""Order statistics shared by the runner, the client and the tests."""

from __future__ import annotations

import math
from fractions import Fraction

# Percentiles the benchmark may report, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(len(ordered), p) - 1]


def _rank(n: int, p: float) -> int:
    # exact: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest percentile in PERCENTILES with at least ten of n
    samples beyond it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if samples_beyond(n, p) >= 10:
            return p
    return None
