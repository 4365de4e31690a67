"""Summary statistics for timing samples."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# strictly beyond it; with fewer, one slow sample decides its value.
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples, q: float):
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``samples``, or
    ``None`` when fewer than ``MIN_BEYOND`` samples lie strictly beyond it."""
    if not samples:
        return None
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    value = ordered[rank - 1]
    beyond = sum(1 for s in ordered if s > value)
    return value if beyond >= MIN_BEYOND else None

