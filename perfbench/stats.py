"""Percentile, tail and self-time arithmetic shared by the workloads and
the trace report."""

from __future__ import annotations

import math


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the "linear" method of numpy and
    of ``statistics.quantiles(..., method="inclusive")``)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int) -> int:
    """The tail percentile a run of ``n`` samples supports: p90 from 100
    samples on, else the highest whole percentile with at least ten
    samples beyond it, and the median when no percentile has ten."""
    if n >= 100:
        return 90
    if n <= 10:
        return 50
    return max(50, math.floor(100 * (n - 10) / n))


def summarize(values: list[float]) -> dict:
    """Median and supported tail of a sample list."""
    pct = tail_pct(len(values))
    return {"p50": percentile(values, 50), "tail": percentile(values, pct),
            "tail_pct": pct, "n": len(values)}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span; parallel children counted once)."""
    clipped = [(max(a, start), min(b, end)) for a, b in children
               if b > start and a < end]
    return (end - start) - union_length(clipped)


def lazy_self_times(cumulative: dict[str, float],
                    order: list[str]) -> dict[str, float]:
    """Self time of each stage of a lazy pipeline from the cumulative
    time of forcing each stage's output: stage i's self time is its
    cumulative time minus stage i-1's, clamped at zero."""
    out = {}
    prev = 0.0
    for name in order:
        out[name] = max(cumulative[name] - prev, 0.0)
        prev = cumulative[name]
    return out
