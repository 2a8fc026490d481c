"""Summary statistics shared by the benchmark's report and its self-tests."""

from __future__ import annotations

import math
import statistics

# A tail percentile is only reported where at least this many samples lie
# beyond it, so one slow sample cannot define it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples strictly beyond it, or None when ``n`` is too small."""
    if n <= TAIL_MIN_BEYOND:
        return None
    return math.floor(100 * (n - TAIL_MIN_BEYOND) / n)


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, -(-p * len(ordered) // 100))  # integer ceil: no float drift
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[int | None, float]:
    """(percentile, value) of the highest percentile with enough samples
    beyond it; (None, 0.0) when there are too few samples."""
    p = tail_percentile(len(values))
    if p is None:
        return None, 0.0
    return p, percentile(values, p)


def interval_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    covered = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered
