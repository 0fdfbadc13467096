"""Latency summaries: the tail-percentile rule and within-window drift.

The tail of a sample is its highest percentile with at least
`TAIL_BEYOND` samples strictly beyond it: with n samples, the value of
rank n - 10 (nearest rank), the percentile 100 * (n - 10) / n. Below
`TAIL_MIN` samples that point is not a tail (it would sit under the
median) and none is derived. Every run of a workload times the same
number of whole rounds, so its runs share one sample count and report
the same percentile.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10
TAIL_MIN = 2 * TAIL_BEYOND


def tail_percentile(n: int) -> float | None:
    """The percentile the tail rule reports for n samples, or None."""
    if n < TAIL_MIN:
        return None
    return 100.0 * (n - TAIL_BEYOND) / n


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) by the tail rule; (None, None) if too few.
    A failed request enters as `math.inf`, so it counts as a miss."""
    p = tail_percentile(len(values))
    if p is None:
        return None, None
    return p, sorted(values)[len(values) - TAIL_BEYOND - 1]


def drift(values: list[float]) -> float | None:
    """p50 of the window's second half over p50 of its first half (in
    completion order): 1.0 on a flat curve, below 1.0 while it still
    falls. None with fewer than four samples."""
    if len(values) < 4:
        return None
    half = len(values) // 2
    return statistics.median(values[half:]) / statistics.median(values[:half])
