"""Order statistics for the benchmark report."""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> dict | None:
    """The highest percentile from ``TAIL_PERCENTILES`` that has at
    least ``min_beyond`` samples above its rank, as
    ``{"p": p, "value": v, "n": len(values), "beyond": k}``; None when
    even the lowest candidate has too few samples beyond it (a maximum
    of a handful of samples is not a tail estimate)."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        beyond = n - rank
        if beyond >= min_beyond:
            return {"p": p, "value": percentile(values, p), "n": n, "beyond": beyond}
    return None
