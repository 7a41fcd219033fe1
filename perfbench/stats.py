"""Estimators shared by every metric the benchmark reports.

Rules (one place, so no metric picks its own):
  * a sustained rate is total work / total wall, never a min or max of
    per-batch rates;
  * a median of an even count averages the two middle values
    (``statistics.median``);
  * a tail is the highest percentile that leaves at least ``TAIL_BEYOND``
    samples beyond it; with fewer samples there is no tail, and the
    record says so instead of reporting the maximum.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> dict:
    """Highest percentile p (whole percent) with >= TAIL_BEYOND samples
    strictly beyond it, as {value, percentile, n, beyond}."""
    n = len(xs)
    out = {"value": None, "percentile": None, "n": n, "beyond": 0}
    if n <= TAIL_BEYOND:
        return out
    s = sorted(xs)
    # nearest-rank: the p-th percentile is s[ceil(p/100 * n) - 1], which
    # leaves n - ceil(p/100 * n) samples beyond it
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= TAIL_BEYOND:
            return {"value": s[rank - 1], "percentile": p, "n": n,
                    "beyond": n - rank}
    return out
