"""Summary statistics for the benchmark's samples.

A percentile is reported only when the sample supports it: at least
``MIN_BEYOND`` samples must lie strictly beyond the cut, so a p90
needs 100 samples and a p50 needs 20. Below that the tail value is
one or two observations and moves with host noise, not with the
program.
"""

from __future__ import annotations

import math
import statistics

#: samples that must lie beyond a reported percentile's cut
MIN_BEYOND = 10


def beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly beyond the
    nearest-rank ``q`` cut (rank ``ceil(q * n)``)."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must be in (0, 1): {q}")
    return n - math.ceil(q * n)


def min_samples(q: float) -> int:
    """The smallest sample count that supports percentile ``q``."""
    n = 1
    while beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; raises ``ValueError`` when fewer than
    ``MIN_BEYOND`` samples lie beyond the cut."""
    vals = sorted(values)
    have = beyond(len(vals), q)
    if have < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {len(vals)} samples has {have} beyond the "
            f"cut; need {MIN_BEYOND} (at least {min_samples(q)} samples)"
        )
    return vals[math.ceil(q * len(vals)) - 1]


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return statistics.median(vals)
