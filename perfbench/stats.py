"""Order statistics and span arithmetic shared by the workloads and the
trace report.  Pure Python, covered by the benchmark's own tests."""

from __future__ import annotations

import math

#: percentile levels a timing summary may pick its tail from
TAIL_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(q: float, n: int) -> int:
    """Nearest rank of percentile ``q`` among ``n`` samples; rounding
    first keeps 99.9 % of 10 000 at rank 9990, not 9991."""
    return math.ceil(round(q * n / 100.0, 9))


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, _rank(q, len(xs)))
    return float(xs[rank - 1])


def median(values) -> float:
    """Middle value; the mean of the two middle values for even counts."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sample")
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_level(n: int, beyond: int = 10) -> float | None:
    """Highest level of :data:`TAIL_LEVELS` that leaves at least
    ``beyond`` of ``n`` samples above it, or None when even the median
    does not."""
    best = None
    for q in TAIL_LEVELS:
        if n - _rank(q, n) >= beyond:
            best = q
    return best


def summarize(values, beyond: int = 10) -> dict:
    """Median, the highest percentile with ``beyond`` samples above it,
    and the sample count."""
    xs = list(values)
    out = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = median(xs)
    q = tail_level(len(xs), beyond)
    if q is not None:
        out["tail_level"] = q
        out["tail"] = percentile(xs, q)
    return out


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Per span: its duration minus the part of it its direct children
    cover.  ``spans`` are ``(start, end, parent_index)`` tuples with
    ``parent_index`` None for roots."""
    children: dict[int, list] = {}
    for s, e, parent in spans:
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    out = []
    for i, (s, e, _) in enumerate(spans):
        kids = [(max(cs, s), min(ce, e)) for cs, ce in children.get(i, ())]
        out.append((e - s) - covered(k for k in kids if k[1] > k[0]))
    return out
