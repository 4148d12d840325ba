"""Sample statistics used by every workload.

Tail percentiles are nearest-rank: the p-th percentile of n sorted
samples is the sample at 1-based rank ceil(p/100 * n), so every reported
tail is a measured value.  A tail percentile is only reported where at
least ``BEYOND`` samples lie above it; with fewer samples the tail would
just be one of the last few values.  Medians are ``statistics.median``: the
mean of the two middle samples when n is even, which halves how much one
sample near the middle can move them.
"""

from __future__ import annotations

import math

BEYOND = 10


def nearest_rank(samples: list[float], pct: float) -> float:
    """Nearest-rank ``pct``-th percentile (0 < pct <= 100)."""
    if not samples:
        raise ValueError("no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile out of range: {pct}")
    s = sorted(samples)
    return s[max(1, math.ceil(pct / 100 * len(s))) - 1]


def tail_pct(n: int, wanted: int = 90, beyond: int = BEYOND) -> int | None:
    """Highest integer percentile <= ``wanted`` that leaves at least
    ``beyond`` of ``n`` samples above its nearest rank; None when even
    the median does not."""
    for pct in range(wanted, 49, -1):
        if n - math.ceil(pct / 100 * n) >= beyond:
            return pct
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float):
    """``intervals`` cut to the window [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
