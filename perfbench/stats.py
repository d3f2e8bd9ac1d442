"""Summary statistics for latency samples and run-to-run spread."""

from __future__ import annotations

import math
import statistics

#: a percentile is only reported with at least this many samples above it
MIN_BEYOND = 10


def percentile(values, q: float) -> float | None:
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``values``, or ``None``
    when fewer than ``MIN_BEYOND`` samples lie beyond it — a tail figure
    resting on a handful of samples is noise, not a percentile."""
    s = sorted(values)
    if not s:
        return None
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < MIN_BEYOND:
        return None
    return s[rank - 1]


def tail(values, candidates=(0.99, 0.95, 0.9, 0.75)) -> tuple[float, float] | None:
    """``(q, value)`` for the highest candidate percentile that has enough
    samples beyond it, or ``None``."""
    for q in candidates:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def quartile_spread(values) -> dict:
    """Median, quartiles and the interquartile distance as a share of the
    median — the steadiness measure applied to each metric's run values."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {
        "median": q2,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / q2 if q2 else float("inf"),
    }
