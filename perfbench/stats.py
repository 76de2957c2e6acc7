"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math

TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank pct percentile of n."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def supported_tail(n: int, min_beyond: int = 10) -> float | None:
    """Highest candidate percentile that leaves min_beyond samples above
    it, or None when even the median does not."""
    for pct in TAIL_CANDIDATES:
        if beyond(n, pct) >= min_beyond:
            return pct
    return None


def median(values) -> float:
    return percentile(values, 50.0)
