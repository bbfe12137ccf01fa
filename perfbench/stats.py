"""The tail percentile rule of the benchmark's timings."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < p <= 100)."""
    rank = max(1, math.ceil(round(len(values) * p / 100.0, 9)))
    return sorted(values)[rank - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it, as (value, percentile, samples): the ``MIN_BEYOND + 1``-th largest
    sample, at percentile ``100 * (n - MIN_BEYOND) / n``. With
    ``MIN_BEYOND`` samples or fewer no percentile qualifies and the
    maximum is reported as percentile 100."""
    n = len(values)
    if not n:
        raise ValueError("no samples")
    if n <= MIN_BEYOND:
        return max(values), 100.0, n
    return sorted(values)[n - MIN_BEYOND - 1], 100.0 * (n - MIN_BEYOND) / n, n
