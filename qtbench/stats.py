"""Percentiles, including the tail rule: a tail is the highest percentile
that has at least ``TAIL_MIN_BEYOND`` samples beyond it."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values) -> dict | None:
    """The highest level in TAIL_LEVELS whose nearest-rank sample has at
    least TAIL_MIN_BEYOND samples above it, with that value and the
    sample count; None when even the median has fewer beyond it."""
    n = len(values)
    for p in TAIL_LEVELS:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return {"percentile": p, "value": percentile(values, p),
                    "samples": n, "beyond": n - rank}
    return None


def median(values) -> float:
    return statistics.median(values)
