"""Pure arithmetic shared by the benchmark, its trace and the compare
tool: percentiles, quartile spread and span self time."""

from __future__ import annotations

import statistics

# percentiles tried from the highest down by `tail_percentile`
PERCENTILE_LADDER = (99.9, 99.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))
    return s[int(rank) - 1]


def tail_percentile(
    values: list[float], ladder: tuple[float, ...] = PERCENTILE_LADDER
) -> tuple[float, float] | None:
    """The highest percentile of `ladder` that has at least ten samples
    beyond it, as (p, value); None when even the lowest has fewer."""
    n = len(values)
    for p in ladder:
        if n - n * p / 100 >= 10:
            return p, percentile(values, p)
    return None


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, exclusive method)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    """The parts of `intervals` that lie inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(
    start: float, end: float, children: list[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))
