"""Small statistics helpers for the benchmark: percentiles with a
sample-count rule, and span self time."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is trustworthy only with this many samples beyond it
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], p: int) -> float:
    """The p-th percentile (1..99), interpolated between order
    statistics; the 50th is the median."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside 1..99")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the p-th percentile."""
    return math.floor(n * (100 - p) / 100 + 1e-9)


def tail_supported(n: int, p: float) -> bool:
    """The sample-count rule: report the p-th percentile as a tail only
    when at least MIN_TAIL_SAMPLES samples lie beyond it."""
    return samples_beyond(n, p) >= MIN_TAIL_SAMPLES


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children
    cover (overlapping children are counted once)."""
    start, end = span
    clipped = sorted((max(s, start), min(e, end)) for s, e in children if e > start and s < end)
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
