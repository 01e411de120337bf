"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: samples that must lie beyond the reported tail value
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile with at least
    ``TAIL_BEYOND`` samples beyond it: with ``n`` sorted samples that is
    the sample at index ``n - 11``, the ``100·(n - 10)/n``-th percentile.
    Below 20 samples that percentile would fall under the median, and the
    median is returned as the tail (percentile 50)."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return median(values), 50.0
    return float(sorted(values)[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0
