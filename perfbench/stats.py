"""Summary statistics: the median and the tail rule."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it; 100 (the maximum) when there are too few samples
    for any of them."""
    for p in TAIL_PERCENTILES:
        if n - math.ceil(n * p / 100) >= MIN_BEYOND:
            return p
    return 100.0


def ops_for(seconds: float, nominal_s: float) -> int:
    """Operations a run makes: ``seconds`` worth at the nominal cost of one
    operation.  Fixing the count, rather than stopping on the clock, gives
    every run and every commit the same work, so the per-operation
    warm-up trend of a fresh session weighs the same in each."""
    return max(1, round(seconds / nominal_s))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(len(xs) * p / 100))
    return xs[rank - 1]


def summarize(values) -> dict:
    """Median, tail value, the tail percentile used and the sample count."""
    p = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail": percentile(values, p),
        "tail_percentile": p,
        "n": len(values),
    }
