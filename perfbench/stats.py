"""Small statistics helpers shared by the workloads and the metric line."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when this many samples lie above it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile (0 < q < 1, nearest-rank) of ``values``, or
    None when fewer than :data:`MIN_BEYOND` samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))       # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def summary(values: list[float]) -> dict:
    """Median plus every reportable tail percentile, with the count."""
    out: dict = {"n": len(values)}
    if values:
        out["mean"] = statistics.fmean(values)
    for name, q in (("p50", 0.5), ("p90", 0.9), ("p95", 0.95)):
        v = percentile(values, q)
        if v is not None:
            out[name] = v
    return out


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
