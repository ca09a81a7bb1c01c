"""Order statistics for timing samples."""

from __future__ import annotations

import math

MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """The ``p``-th percentile (nearest rank) of ``samples``.

    A tail percentile is only reported when at least ``MIN_BEYOND`` samples
    lie beyond it; below that it is one or two unlucky samples, not a
    property of the run, so this raises ``ValueError`` instead.
    """
    if not 0 < p < 100:
        raise ValueError(f"percentile {p} outside (0, 100)")
    n = len(samples)
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p:g} of {n} samples has {n - rank} beyond it; "
                         f"need {MIN_BEYOND}")
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    """Middle value (mean of the two middle values for an even count)."""
    if not samples:
        raise ValueError("median of no samples")
    s, n = sorted(samples), len(samples)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
