"""Order statistics used by the benchmark report (pure, no Spark)."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only with at least this many samples above it
TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(q * len(ordered))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q * n)) if n else 0


def tail_percentile(values: list[float], q: float) -> float | None:
    """``percentile(values, q)`` when at least :data:`TAIL_SAMPLES` samples
    lie beyond it, else ``None`` (too few samples to state that tail)."""
    if samples_beyond(len(values), q) < TAIL_SAMPLES:
        return None
    return percentile(values, q)

