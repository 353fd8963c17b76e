"""Summary statistics shared by the runner and the steadiness tool."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when at least this many samples
# lie beyond it, so one outlier cannot set it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest of p50/p75/p90/p95/p99/p99.9
    with at least ``TAIL_MIN_BEYOND`` samples above it, or None when
    even p50 lacks them."""
    best = None
    n = len(values)
    for q in (50.0, 75.0, 90.0, 95.0, 99.0, 99.9):
        # samples ranked above the interpolation position
        beyond = n - 1 - math.floor((n - 1) * q / 100.0)
        if beyond >= TAIL_MIN_BEYOND:
            best = (q, percentile(values, q))
    return best


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) with quartiles taken as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / abs(q2) if q2 else math.inf
