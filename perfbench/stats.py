"""Summary statistics and result-line helpers for the benchmark."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function ``I_x(a, b)``."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. With few samples drawn from several
    operations of different cost it moves smoothly, where a single order
    statistic jumps between neighbouring operations."""
    if not values:
        raise ValueError("quantile of no samples")
    ordered = sorted(values)
    n = len(ordered)
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return float(sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(ordered)))


def hd_median(values: list[float]) -> float:
    return hd_quantile(values, 0.5)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile ``p`` that leaves at least ``beyond`` of
    ``n`` samples strictly above the sample it selects, or None when
    ``n`` is too small for any percentile from the median up to qualify."""
    for p in range(99, 49, -1):
        rank = math.ceil(p / 100 * n)  # nearest-rank position, 1-based
        if n - rank >= beyond:
            return p
    return None


def tail(values: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """``(value, percentile, n)`` under the tail rule. With too few
    samples for the rule (under 20), the Harrell-Davis estimate of the
    90th percentile is reported instead: steadier than the maximum."""
    n = len(values)
    p = tail_percentile(n, beyond)
    if p is None:
        return hd_quantile(values, 0.9), 90, n
    return float(sorted(values)[math.ceil(p / 100 * n) - 1]), p, n


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
