"""Order statistics the benchmark reports.

The tail rule: report the highest percentile that still has at least
ten samples strictly beyond it, and say how many samples it rests on.
With fewer samples a "p90" would be one or two unlucky items.
"""

from __future__ import annotations

import math

# Percentiles the tail rule may pick, highest first.
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]):
    """(p, value, n_beyond) for the highest percentile in
    TAIL_PERCENTILES with at least MIN_BEYOND samples strictly above
    its value, or None when even the median has too few beyond it."""
    for p in TAIL_PERCENTILES:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= MIN_BEYOND:
            return p, v, beyond
    return None
