"""Numpy references for the served answers, and the comparisons the
workloads count as a failed op when they do not hold."""

from __future__ import annotations

import numpy as np

REL = 1e-9


def close(a, b) -> bool:
    return a is not None and abs(a - b) <= REL * max(1.0, abs(b))


def rates(ts: np.ndarray, vals: np.ndarray):
    """Per-minute rate of adjacent points, stamped at the later point."""
    return ts[1:], 60_000.0 * np.diff(vals) / np.diff(ts).astype(float)


def bucket_ok(got: dict, vals: np.ndarray, ranks: bool) -> bool:
    """One served bucket against the values that fall in it: samples,
    min and max exactly, sum and avg to float tolerance, and with
    ``ranks`` the median and every percentile (``p90``, ``p95``...)
    inside the bucket's range."""
    if len(vals) == 0:
        return bool(got.get("empty"))
    if got.get("empty") or got.get("samples") != len(vals):
        return False
    lo, hi = float(vals.min()), float(vals.max())
    if got.get("min") != lo or got.get("max") != hi:
        return False
    if not (close(got.get("sum"), float(vals.sum()))
            and close(got.get("avg"), float(vals.mean()))):
        return False
    ranked = [got.get("median")] + percentile_values(got) if ranks else []
    return all(v is not None and lo <= v <= hi for v in ranked)


def percentile_values(bucket: dict) -> list:
    """The served percentile estimates of one bucket."""
    return [v for k, v in bucket.items()
            if k[:1] == "p" and k[1:].replace(".", "").isdigit()]


def buckets_ok(resp, ts, vals, start: int, step: int, n: int,
               ranks: bool, n_pct: int = 0) -> bool:
    """A full bucket series: ``n`` buckets of ``step`` from ``start``.
    ``ranks`` requires rank statistics inside each bucket's range;
    ``n_pct`` is the number of percentile estimates a non-empty bucket
    must carry."""
    if not isinstance(resp, list) or len(resp) != n:
        return False
    for i, got in enumerate(resp):
        lo = start + i * step
        if got.get("start") != lo or got.get("end") != lo + step:
            return False
        sel = vals[(ts >= lo) & (ts < lo + step)]
        if not bucket_ok(got, sel, ranks):
            return False
        if len(sel) and len(percentile_values(got)) != n_pct:
            return False
    return True


def raw_ok(resp, ts, vals) -> bool:
    """Raw points in ascending time order, values exact."""
    if len(ts) == 0:
        return resp is None
    if not isinstance(resp, list) or len(resp) != len(ts):
        return False
    return all(p.get("timestamp") == int(t) and p.get("value") == float(v)
               for p, t, v in zip(resp, ts, vals))
