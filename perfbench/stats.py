"""Medians and tails over a run's samples."""

from __future__ import annotations

import statistics

import numpy as np

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, sample count) for the highest percentile on the
    ladder with at least 10 samples beyond it; runs with fewer than 20
    samples have none, and report the median as their tail (percentile 50)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if round(n * (100 - pct) / 100, 6) >= 10:
            return float(np.percentile(values, pct)), pct, n
    return statistics.median(values), 50.0, n
