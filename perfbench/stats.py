"""Percentiles for the benchmark's reports (medians come from ``statistics``)."""

from __future__ import annotations

import math

# a tail percentile is reported only when at least this many samples lie
# beyond it
TAIL_MIN_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0)


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def tail_percentile(xs: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest candidate percentile that has at least
    ``TAIL_MIN_BEYOND`` samples beyond it, or None when there are too few
    samples for any."""
    for p in TAIL_CANDIDATES:
        if len(xs) * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            return p, percentile(xs, p)
    return None
