"""Percentiles with their sample counts."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile must be within 0..100, got {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the ``q``-th percentile: a tail
    percentile is well supported only when this is at least ten."""
    return n - 1 - math.floor((n - 1) * q / 100)


def latency_summary(samples, penalty: float) -> dict:
    """p50 and p90 of per-operation latencies.

    ``samples`` holds ``(seconds, ok)``; a failed or wrong operation is
    counted at ``penalty`` seconds, so it misses any latency limit below it.
    """
    xs = [s if ok else penalty for s, ok in samples]
    return {
        "p50": percentile(xs, 50),
        "p90": percentile(xs, 90),
    }
