"""Order statistics for the benchmark's timing samples.

A timing is reported as a median and as the highest percentile of a fixed
ladder that still has at least ``MIN_BEYOND`` samples strictly above it,
so a tail figure never rests on one or two readings. The run record states
that percentile for the commit-latency samples; with a handful of batches
per run there is none, and only the median is reported.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(values: list[float], threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def supported(values: list[float], p: float) -> bool:
    """True when at least MIN_BEYOND samples lie strictly above the
    p-th percentile."""
    return bool(values) and beyond(values, percentile(values, p)) >= MIN_BEYOND


def tail_percentile(values: list[float]) -> float | None:
    """The highest ladder percentile the sample supports, or None."""
    for p in LADDER:
        if supported(values, p):
            return p
    return None
