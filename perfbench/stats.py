"""Summary statistics shared by the workloads."""

from __future__ import annotations

import statistics

#: A tail percentile must leave at least this many samples above it.
TAIL_BEYOND = 10


def p50(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(value, percentile, n)``. With samples sorted ascending, the
    sample at index ``n - TAIL_BEYOND - 1`` is the last one with
    ``TAIL_BEYOND`` samples beyond it; its percentile is its rank over ``n``.
    With ``TAIL_BEYOND`` samples or fewer no percentile qualifies, and the
    maximum is returned as the 100th percentile.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    k = n - TAIL_BEYOND - 1
    return xs[k], 100.0 * (k + 1) / n, n


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
