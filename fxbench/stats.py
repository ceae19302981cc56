"""Order statistics used by every workload."""

from __future__ import annotations

import math


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile p whose nearest-rank value has at
    least ``min_beyond`` of the ``n`` samples ranked above it, or None
    when ``n`` is too small for any percentile to qualify."""
    if n <= min_beyond:
        return None
    return (100 * (n - min_beyond)) // n


def tail(xs: list[float], min_beyond: int = 10) -> tuple[int, float]:
    """(percentile, value) for the tail percentile of ``xs``; with too
    few samples for one to qualify it falls back to (100, max)."""
    s = sorted(xs)
    p = tail_percentile(len(s), min_beyond)
    if p is None:
        return 100, s[-1]
    return p, s[math.ceil(p * len(s) / 100) - 1]
