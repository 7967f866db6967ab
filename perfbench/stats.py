"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import statistics

#: the tail percentile must leave at least this many samples above it
TAIL_SAMPLES_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``xs`` with at
    least TAIL_SAMPLES_BEYOND samples beyond it.

    With n sorted samples that is the (n-10)th smallest sample, and it
    sits at percentile 100 * (n - 10) / n.  Fewer than 11 samples have
    no such percentile.
    """
    n = len(xs)
    if n <= TAIL_SAMPLES_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_SAMPLES_BEYOND}")
    k = n - TAIL_SAMPLES_BEYOND
    return float(sorted(xs)[k - 1]), 100.0 * k / n, n

