"""Order statistics used by every reported timing.

A timing is reported as its median and as the *tail*: the highest
nearest-rank percentile that still has at least `MIN_BEYOND` samples
strictly above its rank, so that the tail is never the maximum relabelled.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10


def median(values) -> float:
    """Midpoint median (the mean of the middle two for even counts)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return float(s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2)


def class_geomean(by_class: dict) -> float:
    """Geometric mean over classes of each class's median: every class
    weighs the same in relative terms, whatever its cost."""
    meds = [median(v) for v in by_class.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile: the value at 1-based rank ceil(pct/100*n)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile {pct} outside (0, 100]")
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return float(s[rank - 1])


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest whole percentile above the median whose nearest rank
    leaves at least `min_beyond` of `n` samples beyond it, or None when `n`
    is too small to have one."""
    for pct in range(99, 50, -1):
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= min_beyond:
            return pct
    return None


def summarize(values, unit_scale: float = 1.0) -> dict:
    """Median and tail of `values` scaled by `unit_scale`, with the tail's
    percentile and the sample count. `tail` is None when there are too few
    samples to have one."""
    vals = [v * unit_scale for v in values]
    pct = tail_percentile(len(vals))
    return {"n": len(vals), "p50": median(vals),
            "tail_pct": pct,
            "tail": nearest_rank(vals, pct) if pct else None}
