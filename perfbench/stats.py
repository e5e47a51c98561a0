"""Percentiles with their sample support.

A percentile of event latencies is only as good as the number of
independent samples beyond it.  Events that share a micro-batch share
its end time, so the independent unit is the trigger, not the event:
:func:`percentile_with_support` counts both.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

#: A tail percentile is supported when at least this many groups
#: (triggers) have a sample beyond it.
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between
    closest ranks, as ``numpy.percentile`` computes it by default."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def percentile_with_support(
    values: Sequence[float], groups: Sequence[int], q: float
) -> dict:
    """The percentile, the sample count, and how many samples and
    distinct groups lie strictly beyond it.  ``supported`` applies the
    ten-beyond rule to groups."""
    if len(values) != len(groups):
        raise ValueError("values and groups differ in length")
    v = percentile(values, q)
    beyond = [g for x, g in zip(values, groups) if x > v]
    groups_beyond = len(set(beyond))
    return {
        "value": v,
        "n": len(values),
        "groups": len(set(groups)),
        "beyond": len(beyond),
        "groups_beyond": groups_beyond,
        "supported": groups_beyond >= MIN_BEYOND,
    }
