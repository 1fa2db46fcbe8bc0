"""Summary statistics for latency samples."""
from __future__ import annotations

import math

# a tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, a single slow request decides the value
MIN_BEYOND = 10
TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(samples: list[float], pct: float) -> int:
    """How many samples lie strictly beyond the ``pct`` percentile rank."""
    return len(samples) - max(1, math.ceil(pct / 100.0 * len(samples)))


def tail_percentile(samples: list[float], pct: float) -> float | None:
    """The ``pct`` percentile, or None when fewer than ``MIN_BEYOND``
    samples lie beyond it."""
    if beyond(samples, pct) < MIN_BEYOND:
        return None
    return percentile(samples, pct)


def highest_tail(samples: list[float]) -> tuple[float, float] | None:
    """(pct, value) of the highest of TAILS the samples support, or None
    when they support none of them."""
    for pct in TAILS:
        value = tail_percentile(samples, pct)
        if value is not None:
            return pct, value
    return None
