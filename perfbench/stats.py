"""Summary statistics shared by the workloads: the median and the tail
rule (the highest percentile with at least ten samples beyond it)."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n) for the highest percentile that still has at
    least TAIL_BEYOND samples above it: the (TAIL_BEYOND+1)-th largest
    sample, i.e. percentile 100 * (n - TAIL_BEYOND) / n."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs more than {TAIL_BEYOND} samples, got {n}")
    return float(s[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n, n

