"""Summary statistics the benchmark reports.

A timing is reported as a median plus the highest percentile that still
has at least ten samples beyond it, together with the sample count, so a
tail figure is never read off a handful of points.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10
# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile out of range: {pct}")
    ordered = sorted(values)
    return float(ordered[max(math.ceil(pct / 100.0 * len(ordered)), 1) - 1])


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``
    percentile."""
    return n - max(math.ceil(pct / 100.0 * n), 1)


def tail(values: list[float]) -> dict | None:
    """The highest candidate percentile with at least ``TAIL_MIN_BEYOND``
    samples beyond it, or None when there are too few samples for any."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if samples_beyond(n, pct) >= TAIL_MIN_BEYOND:
            return {"percentile": pct, "value": percentile(values, pct), "n": n}
    return None

