"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values) -> float:
    return float(statistics.median(values))


def nearest_rank(values, pct: float) -> float:
    """The ``pct``-th percentile by nearest rank: the smallest sample with
    at least ``pct`` % of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile (1..99) that leaves at least ``beyond``
    of ``n`` samples strictly above its nearest-rank position, or None
    when even the lowest leaves fewer. 100 samples give 90."""
    for pct in range(99, 0, -1):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            return pct
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
