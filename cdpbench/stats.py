"""Percentiles for latency samples."""

from __future__ import annotations

import math


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile (in whole percent, at most 99) that leaves at
    least `min_beyond` of `n` samples strictly above its rank; None when
    even the median would not."""
    for pct in range(99, 49, -1):
        rank = math.ceil(pct / 100 * n)  # nearest-rank index (1-based)
        if n - rank >= min_beyond:
            return float(pct)
    return None


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    s = sorted(xs)
    rank = max(1, math.ceil(pct / 100 * len(s)))
    return s[rank - 1]
