"""Percentiles that refuse ranks the sample cannot support."""

from __future__ import annotations

import math
from collections.abc import Sequence

# A reported percentile must have at least this many samples above it.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``values``.

    Raises TooFewSamples when fewer than MIN_BEYOND samples lie beyond the
    rank, e.g. a p99 needs at least 1000 samples."""
    n = len(values)
    rank = max(math.ceil(q / 100 * n), 1)
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(f"p{q} of {n} samples has {n - rank} beyond it (< {MIN_BEYOND})")
    return sorted(values)[rank - 1]


def median(values: Sequence[float]) -> float:
    """Median of any non-empty sample (the middle needs no tail)."""
    if not values:
        raise TooFewSamples("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
