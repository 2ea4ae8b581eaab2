"""Summary arithmetic the benchmark reports: medians, the tail percentile a
sample supports, run-to-run spread, and ratios that carry their base.

Pure Python on purpose: the tests in ``perfbench/tests`` pin every rule here
without starting Spark.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.  A percentile qualifies only
# when at least MIN_BEYOND samples lie above it, so a tail figure is never
# decided by one or two slow samples.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile of TAIL_LADDER with at least ``min_beyond`` of
    ``n`` samples beyond it; None when even the median does not qualify."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p`` %
    of the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail(values: list[float]) -> dict:
    """The highest qualifying percentile of ``values`` with its value and
    the sample count; ``value`` is None when no percentile qualifies."""
    p = tail_percentile(len(values))
    return {
        "pct": p,
        "value": percentile(values, p) if p is not None else None,
        "n": len(values),
    }


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``, exclusive method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)


def ratio(num: float, base: float) -> dict:
    """A ratio that carries its numerator and base; ``value`` is None when
    the base is zero, never a silent 0 or inf."""
    return {"value": (num / base) if base else None, "num": num, "base": base}
