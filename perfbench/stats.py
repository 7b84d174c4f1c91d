"""Summary statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

# The percentiles a tail may be reported at, lowest first.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile in ``TAIL_PERCENTILES`` that has at least
    ``TAIL_BEYOND`` samples above its nearest-rank position.

    Returns (percentile, value, samples beyond it). With fewer than
    ``TAIL_BEYOND + 1`` samples no percentile qualifies, and the maximum
    is returned as percentile 100 with none beyond it.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    best = None
    for q in TAIL_PERCENTILES:
        if n - max(1, math.ceil(q / 100.0 * n)) >= TAIL_BEYOND:
            best = q
    if best is None:
        return 100.0, max(values), 0
    rank = max(1, math.ceil(best / 100.0 * n))
    return best, percentile(values, best), n - rank
