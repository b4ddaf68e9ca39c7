"""Small order statistics shared by the harness and its tests."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(percentile, value)``: the value is the ``beyond + 1``-th
    largest sample, so exactly ``beyond`` samples lie beyond it. With fewer
    than ``2 * beyond`` samples that rank would fall below the median; the
    run cannot support a tail there, and the maximum is reported instead
    (percentile 100).
    """
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n < 2 * beyond:
        return 100.0, float(s[-1])
    return 100.0 * (n - beyond) / n, float(s[n - beyond - 1])

