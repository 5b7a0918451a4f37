"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples lie above it (the tail is too thin to read)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q / 100 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def mean(values) -> float:
    xs = list(values)
    return statistics.fmean(xs) if xs else 0.0


def slope(xs, ys) -> float:
    """Least-squares slope of ``ys`` against ``xs`` (0 when xs is flat)."""
    xs, ys = list(xs), list(ys)
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
