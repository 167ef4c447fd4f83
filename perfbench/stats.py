"""Pure arithmetic behind the benchmark's reported figures.

Kept free of Spark and DuckDB so the tests in ``perfbench/tests`` check it
directly.
"""

from __future__ import annotations

import statistics

#: the tail is the highest percentile with at least this many samples above it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest order statistic that still has
    ``beyond`` samples above it in rank, and the percentile that rank sits
    at. With ``n`` samples that is the ``(n - beyond)``-th smallest, at
    percentile ``100 * (n - beyond) / n``. Below ``2 * beyond + 1`` samples
    that rank is at or below the median, so the tail is the maximum instead,
    at percentile 100; the caller reports ``n`` beside it."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    if n <= 2 * beyond:
        return float(ordered[-1]), 100.0, n
    return float(ordered[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def ratio(numerator: float, denominator: float) -> float:
    """``numerator / denominator``; a zero base means the layer did no work,
    reported as 0 rather than an error."""
    return float(numerator) / denominator if denominator else 0.0


def self_times(prefix_seconds: list[float]) -> list[float]:
    """Self time of each layer from the wall times of nested prefixes.

    ``prefix_seconds[i]`` is the wall time of materialising layers ``0..i``;
    layer ``i``'s self time is what its prefix adds to the one before it. The
    first layer's self time is its whole prefix. Noise can make a difference
    negative; it is reported as measured."""
    return [
        t - (prefix_seconds[i - 1] if i else 0.0)
        for i, t in enumerate(prefix_seconds)
    ]

