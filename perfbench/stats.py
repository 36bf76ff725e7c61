"""Pure helpers: percentiles, interval unions and span self time."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

# A reported percentile must have at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), ``pct`` in 0..100."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` sorted samples sit at indices above the ``pct``
    percentile's interpolation position."""
    return n - 1 - int((n - 1) * pct / 100.0)


def supports(n: int, pct: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond ``pct``."""
    return n > 0 and samples_beyond(n, pct) >= MIN_BEYOND


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((a, b) for a, b in intervals if b > a):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clipped_union(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` inside the window ``[lo, hi]``."""
    return union_length((max(a, lo), min(b, hi)) for a, b in intervals)


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - clipped_union(children, start, end)


def mean(values: Sequence[float]) -> float:
    return sum(values) / len(values) if values else 0.0
