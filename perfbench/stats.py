"""Summary statistics the benchmark reports.

The headline latency is the geometric mean of the timed operations, as in
the TPC-H power test: over a fixed mix of operations whose latencies differ
tenfold it weighs each one alike, where the median jumps between whichever
two operations sit in the middle. The run also prints the median and the
highest tail percentile that still has at least ``MIN_BEYOND`` samples
beyond it, with the sample count: a p99 of 50 samples is one sample, not a
percentile.
"""

from __future__ import annotations

import math
from fractions import Fraction

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def geomean(samples: list[float]) -> float:
    return math.exp(math.fsum(math.log(x) for x in samples) / len(samples))


def _rank(p: float, n: int) -> int:
    # exact arithmetic: 99.9 / 100 * 10_000 is 9990.000000000002 in floats
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None, int]:
    """(p, value, n) for the highest p in ``TAIL_PERCENTILES`` whose
    nearest-rank value has at least ``MIN_BEYOND`` samples beyond it;
    (None, None, n) when even the median has fewer."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p, percentile(samples, p), n
    return None, None, n
