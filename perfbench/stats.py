"""Order statistics the benchmark reports, and the rule for which it may."""

from __future__ import annotations

import math

#: A tail percentile is reported only when at least this many samples
#: lie beyond it; with fewer, one outlier decides the number.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-quantile."""
    return n - math.ceil(q * n)


def reportable(n: int, q: float) -> bool:
    """The median is always reported; a higher percentile only with at
    least ``MIN_BEYOND`` samples beyond it (p95 needs n >= 200)."""
    return q <= 0.5 or beyond(n, q) >= MIN_BEYOND


def tail(values: list[float], q: float) -> float | None:
    """``percentile`` when ``reportable``, else None."""
    if not values or not reportable(len(values), q):
        return None
    return percentile(values, q)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def geomean(values: list[float]) -> float:
    """Geometric mean: each value moves it by the same share for the same
    relative change, whatever its size."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
