"""Summary statistics the benchmark reports: median, quartiles, the tail
percentile rule and the driver gap."""

from __future__ import annotations

import statistics

# a tail percentile is reported only where at least this many samples lie
# beyond it; with fewer samples the tail falls back to the median
TAIL_BEYOND = 10


def summary(values: list[float]) -> dict:
    """Median, first and third quartile, and sample count."""
    if not values:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "n": len(values),
    }


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the highest nearest-rank percentile that
    still has ``TAIL_BEYOND`` samples above it.

    With n samples sorted ascending, rank r (1-based) has n - r samples
    beyond it, so the highest admissible rank is n - TAIL_BEYOND, at
    percentile 100·(n - TAIL_BEYOND)/n. When that rank sits below the
    median (n < 2·TAIL_BEYOND) the median is reported, as percentile 50."""
    if not values:
        raise ValueError("tail of an empty sample")
    n = len(values)
    rank = n - TAIL_BEYOND
    if 2 * rank < n:
        return 50.0, statistics.median(values)
    return 100.0 * rank / n, sorted(values)[rank - 1]


def covered_ms(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of the part of ``window`` covered by the union of
    ``intervals`` (all in the same unit)."""
    lo, hi = window
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap_ms(window: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Time of an op's wall-clock ``window`` during which none of the
    ``intervals`` (its Spark jobs, submission to completion) was running."""
    return (window[1] - window[0]) - covered_ms(window, intervals)
