"""Latency summaries: the percentile rule and failed-request accounting.

A failed request has no latency. It enters every percentile as a miss,
that is, as slower than any completed request (``math.inf``), so a
failure can only push a percentile (or ``statistics.median``) up and is
never dropped.
"""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10

MISS = math.inf


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile of ``n``."""
    return n - max(1, math.ceil(p * n / 100.0))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; ``MISS`` entries sort last."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(1, math.ceil(p * len(s) / 100.0)) - 1]


def reportable(n: int, p: float) -> bool:
    return beyond(n, p) >= MIN_BEYOND


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile with at least
    ``MIN_BEYOND`` samples beyond it, or None if no tail percentile
    qualifies (fewer than ``MIN_BEYOND / 0.25`` samples)."""
    for p in TAIL_PERCENTILES:
        if reportable(len(values), p):
            return p, percentile(values, p)
    return None
