"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def mean(values) -> float:
    return float(statistics.fmean(values)) if values else 0.0


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 6)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    return float(sorted(values)[_rank(len(values), p) - 1])


def tail_percentile(values) -> tuple[float, float] | None:
    """(p, value) for the highest p in PERCENTILES that leaves at least ten
    samples above its rank, or None when even the median does not."""
    best = None
    for p in PERCENTILES:
        if len(values) - _rank(len(values), p) >= 10:
            best = (p, percentile(values, p))
    return best
