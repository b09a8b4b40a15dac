"""Order statistics for the benchmark's timings."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_level(n: int) -> float:
    """The highest percentile with at least ten of ``n`` samples beyond it;
    100 (the maximum) when ``n`` is below 20, where no percentile at or
    above the median has ten beyond it."""
    return 100.0 * (n - 10) / n if n >= 20 else 100.0


def percentile(values: list[float], level: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``level`` percent of the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(level / 100.0 * len(s)))
    return float(s[min(rank, len(s)) - 1])
