"""The tail percentile the benchmark reports."""

from __future__ import annotations

import math

# Percentiles a tail may be reported at. Reporting from a fixed ladder
# keeps the tail of two runs comparable even when their call counts differ.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest ladder percentile with at least `min_beyond` samples
    strictly above its rank, as (percentile, value, samples beyond).
    Nearest-rank: the value at rank ceil(p/100 * n) of the sorted
    samples. None when no ladder percentile has enough samples beyond."""
    ordered = sorted(values)
    n = len(ordered)
    best = None
    for p in TAIL_LADDER:
        rank = math.ceil(round(p * n / 100.0, 6))  # 99.9% of 10000 is 9990
        if rank >= 1 and n - rank >= min_beyond:
            best = (p, ordered[rank - 1], n - rank)
    return best
