"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: percentiles a latency report may claim, highest first
LADDER = (0.99, 0.95, 0.9, 0.75, 0.5)


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - math.ceil(q * n)


def highest_percentile(n: int, min_tail: int = 10) -> float | None:
    """The highest percentile in LADDER with at least ``min_tail`` of n
    samples beyond it, or None when even the lowest has too few. A p75
    needs 40 samples, a p90 100."""
    for q in LADDER:
        if tail_count(n, q) >= min_tail:
            return q
    return None


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else 0.0
