"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile (as ``percentile`` computes it) that
    leaves at least ``beyond`` of ``n`` samples above it, or None when
    ``n`` is too small for any.  p95 needs n >= 200; n = 20 reaches p52.
    """
    for pct in range(99, 0, -1):
        if n - 1 - math.floor((n - 1) * pct / 100.0) >= beyond:
            return pct
    return None
