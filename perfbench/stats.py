"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math

# A percentile is reported only when at least this many samples lie beyond
# it; with fewer, the tail estimate is one or two outliers.
TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Nearest-rank q-quantile (0 < q < 1) of ``values``."""
    xs = sorted(values)
    return xs[_rank(q, len(xs)) - 1]


def _rank(q: float, n: int) -> int:
    # round first: q * n carries float fuzz (0.29 * 100 = 28.999999999999996)
    return max(1, math.ceil(round(q * n, 9)))


def supported_percentile(n: int, target: float = 0.90) -> float | None:
    """The highest percentile up to ``target`` (in whole percent) that a
    sample of ``n`` supports: the one with at least ``TAIL_SAMPLES`` samples
    above its nearest rank. None when not even the median qualifies."""
    for pct in range(round(target * 100), 49, -1):
        q = pct / 100
        if n - _rank(q, n) >= TAIL_SAMPLES:
            return q
    return None

