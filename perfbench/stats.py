"""The benchmark's own arithmetic, kept free of Spark so it is unit-tested
on its own (``perfbench/test_stats.py``)."""

from __future__ import annotations

import math
import os
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; below that, one outlier decides the value.
MIN_TAIL_SAMPLES = 10


def reportable_percentile(n: int, candidates=(99.0, 95.0, 90.0, 75.0)) -> float | None:
    """The highest percentile in ``candidates`` with at least
    ``MIN_TAIL_SAMPLES`` of ``n`` samples beyond it, or None."""
    for p in sorted(candidates, reverse=True):
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """``(p, value)`` for the highest reportable tail percentile, or
    ``(None, None)`` when there are too few samples."""
    p = reportable_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.

    Concurrent Spark jobs overlap; the union is the wall time during which
    at least one job ran, so ``(hi - lo) - union`` is driver-only time."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def distinct_inode_bytes(root: str) -> tuple[int, int]:
    """``(bytes, files)`` under ``root``, counting each inode once, so a
    file hardlinked into several snapshot directories is stored once."""
    seen: set[tuple[int, int]] = set()
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            st = os.lstat(os.path.join(dirpath, name))
            key = (st.st_dev, st.st_ino)
            if key in seen:
                continue
            seen.add(key)
            total += st.st_size
            files += 1
    return total, files
