"""Percentiles that refuse to speak without samples behind them."""

from __future__ import annotations

import math
import statistics

#: a tail percentile needs at least this many samples above it
MIN_BEYOND = 10


class NotEnoughSamples(ValueError):
    """Raised when a percentile is asked of too few samples."""


def percentile(values, p: float) -> float:
    """The ``p``-th percentile (nearest rank) of ``values``.

    ``p == 50`` is the median and needs one sample. Any other percentile
    needs at least ``MIN_BEYOND`` samples above it, so a p95 needs 200
    samples; with fewer it raises ``NotEnoughSamples`` instead of
    reporting the maximum under another name.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise NotEnoughSamples("no samples")
    if p == 50:
        return statistics.median(xs)
    rank = math.ceil(p / 100 * n)  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        raise NotEnoughSamples(
            f"p{p:g} of {n} samples has {n - rank} beyond it, needs {MIN_BEYOND}"
        )
    return xs[rank - 1]


def median(values) -> float:
    return percentile(values, 50)
