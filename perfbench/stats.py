"""Metric arithmetic: nearest-rank percentiles, failure share, rates."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it. Always an observed value, so
    a percentile over a fixed request mix lands on one request kind
    instead of interpolating between two."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile q must be in (0, 100], got {q}")
    ordered = sorted(values)
    rank = math.ceil(q / 100.0 * len(ordered))
    return ordered[max(rank, 1) - 1]


def latency_summary(latencies: list[float]) -> dict:
    """p50 and p90 with the sample count they rest on, and how many
    samples lie beyond p90 (a p90 claim wants at least ten)."""
    n = len(latencies)
    p90 = percentile(latencies, 90)
    return {
        "p50_s": percentile(latencies, 50),
        "p90_s": p90,
        "samples": n,
        "samples_beyond_p90": sum(1 for x in latencies if x > p90),
    }


def failed_frac(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def rate(count: float, seconds: float) -> float:
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive interval: {seconds}")
    return count / seconds
