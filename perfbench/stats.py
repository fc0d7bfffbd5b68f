"""Summary statistics used by the benchmark's reports."""

from __future__ import annotations

import math

# Percentiles considered for a tail figure, highest last.
_LADDER = (50.0, 90.0, 99.0, 99.9)


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct %
    of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(pct, value) for the highest ladder percentile that leaves at
    least ``beyond`` samples above its rank, or None when even the
    median does not.  With 100 samples that is p90 (10 beyond), with
    1,000 it is p99."""
    n = len(values)
    best = None
    for pct in _LADDER:
        rank = math.ceil(pct / 100.0 * n)
        if n - rank >= beyond:
            best = (pct, nearest_rank(values, pct))
    return best


def ratio(num: float, base: float) -> float:
    """num / base, reported as 0.0 when the base is empty: a layer that
    did no work on a workload has no yield, not an undefined one."""
    return num / base if base else 0.0
