"""Summary statistics with the sample-size rule of the benchmark:
a percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so a tail figure is never one or two unlucky samples."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], p: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``p``-th percentile of ``xs``.

    Refuses (``ValueError``) when fewer than ``min_beyond`` samples lie
    beyond the selected rank."""
    n = len(xs)
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    rank = max(1, math.ceil(p / 100 * n))
    beyond = n - rank
    if beyond < min_beyond:
        raise ValueError(
            f"p{p:g} of {n} samples leaves {beyond} beyond it; "
            f"need at least {min_beyond}"
        )
    return float(sorted(xs)[rank - 1])


def tail(xs: list[float], candidates=(99, 95, 90, 75)) -> tuple[str, float] | None:
    """The highest candidate percentile the sample supports, as
    ``("p95", value)``; ``None`` when none is supported."""
    for p in candidates:
        try:
            return f"p{p}", percentile(xs, p)
        except ValueError:
            continue
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
