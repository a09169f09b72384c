"""Percentiles that refuse to be reported on too few samples.

A percentile read from a handful of samples is mostly noise: the p90 of
twenty samples is decided by the two slowest. The rule used throughout
the benchmark is that a percentile is reported only when at least
``MIN_BEYOND`` samples lie strictly beyond its rank.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than the rule allows."""


def min_samples(q: float) -> int:
    """Smallest sample count for which percentile ``q`` (0 < q < 100)
    has ``MIN_BEYOND`` samples above its rank."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = MIN_BEYOND
    while n - math.ceil(n * q / 100) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, q: float) -> float:
    """Nearest-rank percentile ``q`` of ``values``. Raises TooFewSamples
    unless at least ``MIN_BEYOND`` samples lie above the returned rank."""
    xs = sorted(values)
    need = min_samples(q)
    if len(xs) < need:
        raise TooFewSamples(
            f"p{q:g} needs {need} samples ({MIN_BEYOND} beyond it), got {len(xs)}"
        )
    return xs[math.ceil(len(xs) * q / 100) - 1]


def summary(values) -> dict:
    """Median and quartiles of repeated-run values, plus the quartile
    spread as a share of the median (the repeat-runner's steadiness
    figure)."""
    xs = list(values)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return {
        "n": len(xs),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else float("inf"),
    }
