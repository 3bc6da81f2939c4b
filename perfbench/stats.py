"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import statistics

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ``TAIL_BEYOND``
    samples above its rank: ``(value, percentile, samples_beyond)``.

    With n samples that is rank n - 10. Below 22 samples that rank would
    not lie above the median, so the tail is clamped to the upper median
    (rank n // 2 + 1) and fewer than 10 samples lie beyond it."""
    s = sorted(xs)
    n = len(s)
    rank = max(n - TAIL_BEYOND, n // 2 + 1)
    return float(s[rank - 1]), 100.0 * rank / n, n - rank
