"""Percentiles and the sample-count rule for reported timings."""

from __future__ import annotations

import math

# A tail percentile is only reported when at least this many samples lie
# beyond it.
TAIL_SAMPLES_BEYOND = 10


def percentile(values, q: float) -> float:
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int, wanted: float = 90.0) -> float | None:
    """The highest percentile up to `wanted` that leaves at least
    TAIL_SAMPLES_BEYOND of `n` samples beyond it, in whole percent, or
    None when even the median leaves fewer."""
    best = None
    for q in range(50, int(wanted) + 1):
        if n * (100 - q) / 100.0 >= TAIL_SAMPLES_BEYOND:
            best = float(q)
    return best
