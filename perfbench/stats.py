"""Summary statistics shared by the benchmark and its steadiness helper."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: strictly beyond it; with fewer, its value is set by a handful of
#: samples and moves from run to run more than any change would
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``samples``, or None
    when fewer than ``MIN_BEYOND`` samples lie beyond it."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    n = len(samples)
    if n == 0:
        return None
    idx = max(0, math.ceil(q * n) - 1)
    if n - (idx + 1) < MIN_BEYOND:
        return None
    return sorted(samples)[idx]


def spread(values: list[float]) -> dict:
    """Median, quartiles and the quartile distance as a share of the
    median — the steadiness measure the bounds in BENCHMARK.json are
    checked against (``statistics.quantiles(values, n=4)``)."""
    if len(values) < 2:
        raise ValueError("need at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }
