"""Order statistics that carry their sample counts."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples above the nearest-rank q-quantile of n samples."""
    return n - max(math.ceil(q * n), 1)


def percentile(values, q: float) -> dict:
    """The q-quantile as ``{"value", "n", "beyond"}``: the median for
    q = 0.5, the nearest-rank value otherwise.

    A tail percentile (q above the median) is refused with ValueError
    when fewer than ``MIN_BEYOND`` samples lie beyond it: such a figure
    is set by one or two samples and does not repeat.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    beyond = samples_beyond(n, q)
    if q > 0.5 and beyond < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {n} samples has {beyond} beyond "
                         f"it; at least {MIN_BEYOND} are needed")
    value = statistics.median(xs) if q == 0.5 else xs[max(math.ceil(q * n), 1) - 1]
    return {"value": value, "n": n, "beyond": beyond}

