"""Order statistics used by every workload."""

from __future__ import annotations

import statistics

# A tail is reported at the highest percentile that leaves at least
# MIN_BEYOND samples above it, and never below the upper quartile.
MIN_BEYOND = 10
FLOOR_PCT = 75.0


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` in [0, 100] of a non-empty list."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """→ (percentile, value) at the highest whole percentile with at least
    ``MIN_BEYOND`` samples beyond it, floored at the upper quartile
    (``FLOOR_PCT``). From ``4 * MIN_BEYOND`` samples on the floor has that
    support; below, the upper quartile is reported with fewer samples
    beyond it, and callers record the percentile and the sample count."""
    n = len(xs)
    p = max(FLOOR_PCT, float(int(100.0 * (1.0 - MIN_BEYOND / n))))
    return p, percentile(xs, p)
