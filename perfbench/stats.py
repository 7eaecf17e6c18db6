"""Order statistics shared by the workloads."""

from __future__ import annotations

import statistics


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic that still has
    ``beyond`` independent samples above it, and never below the median:
    with ``2 * beyond`` samples or fewer the data support no tail beyond
    the median, so the median is returned with percentile 50."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= 2 * beyond + 1:
        return 50.0, median(ordered)
    return 100.0 * (n - beyond) / n, float(ordered[n - beyond - 1])
