"""Seeded input generators.  Pure numpy/Python: no Spark, so the tests
can pin that one seed always gives the same inputs.

Every generator takes the run seed and returns plain data; the
workloads turn it into store contents, REST requests and query frames.
"""

from __future__ import annotations

import numpy as np

#: Day-aligned (hence also 2 h-slice-aligned) epoch origin of all
#: generated time series, in epoch milliseconds.
T0 = 1_700_006_400_000
MINUTE = 60_000
HOUR = 3_600_000
DAY = 86_400_000

DCS = ("east", "west", "north")
APPS = ("api", "db", "web", "cache", "queue")
N_HOSTS = 10


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def metric_defs(seed: int, tenants: int, per_tenant: int, prefix: str):
    """``[(tenant, metric_id, {dc, app, host})]`` with seeded tags."""
    rng = _rng(seed, 1)
    out = []
    for t in range(tenants):
        for j in range(per_tenant):
            tags = {
                "dc": DCS[rng.integers(len(DCS))],
                "app": APPS[rng.integers(len(APPS))],
                "host": f"h{rng.integers(N_HOSTS)}",
            }
            out.append((f"{prefix}{t}", f"{prefix}{t}.m{j:03d}", tags))
    return out


def series_values(rng: np.random.Generator, n_series: int, ts: np.ndarray):
    """Smooth-plus-noise gauge values, rounded to 3 decimals so the
    stored doubles equal their JSON text."""
    base = rng.uniform(10.0, 90.0, size=(n_series, 1))
    amp = rng.uniform(1.0, 10.0, size=(n_series, 1))
    phase = rng.uniform(0.0, 2 * np.pi, size=(n_series, 1))
    period = rng.uniform(0.5, 3.0, size=(n_series, 1)) * HOUR
    wave = amp * np.sin(2 * np.pi * (ts[None, :] - T0) / period + phase)
    noise = rng.normal(0.0, 1.0, size=(n_series, len(ts)))
    return np.round(base + wave + noise, 3)


def tag_expression(tags: dict):
    """Two ANDs and a regex that match at least the metric ``tags``
    came from; returns the expression and the ``(dc, app, lo)`` key
    :func:`tag_match` evaluates it from."""
    lo = min(int(tags["host"][1:]), N_HOSTS - 5)
    expr = (f"dc = '{tags['dc']}' AND app = '{tags['app']}' "
            f"AND host ~ 'h[{lo}-{lo + 4}]'")
    return expr, (tags["dc"], tags["app"], lo)


def tag_match(expr_tags: tuple, tags: dict) -> bool:
    """Reference evaluation of :func:`tag_expression`'s shape, given the
    ``(dc, app, lo)`` it was built from."""
    dc, app, lo = expr_tags
    h = int(tags["host"][1:])
    return tags["dc"] == dc and tags["app"] == app and lo <= h <= lo + 4


def ingest_history(seed: int, n_series=20, step_ms=4 * MINUTE, history_ms=DAY):
    """Pre-loaded history for ``ingest_mixed`` (one tenant): ``defs``,
    ``ts`` grid and values ending at the virtual clock's start
    ``now``."""
    defs = metric_defs(seed, 1, n_series, "i")
    now = T0 + history_ms
    ts = T0 + np.arange(history_ms // step_ms, dtype=np.int64) * step_ms
    values = series_values(_rng(seed, 4), len(defs), ts)
    return {"defs": defs, "ts": ts, "values": values, "now": now,
            "step_ms": step_ms}


def ingest_batch(seed: int, k: int, hist: dict, batch_ms=HOUR, rewrites=15):
    """Write batch ``k``: every series' points in the next ``batch_ms``
    of virtual time, plus ``rewrites`` overwrites of grid points from
    the hour before the batch (last-write-wins targets).  Returns
    ``(batch_start, [(series_index, ts, value)])``."""
    rng = _rng(seed, 5, k)
    step = hist["step_ms"]
    start = hist["now"] + k * batch_ms
    ts = start + np.arange(batch_ms // step, dtype=np.int64) * step
    n = len(hist["defs"])
    vals = series_values(rng, n, ts)
    pts = [(i, int(t), float(v)) for i in range(n) for t, v in zip(ts, vals[i])]
    # distinct keys: duplicates inside one batch tie on the write stamp
    # and resolve by larger value, not by order
    per_series = HOUR // step
    for key in rng.choice(n * per_series, size=rewrites, replace=False):
        i, j = divmod(int(key), per_series)
        pts.append((i, start - step * (j + 1),
                    float(np.round(rng.uniform(0.0, 100.0), 3))))
    return start, pts


def corpus(seed: int, n_docs=10_000, vocab=4_000, dup_frac=0.02, length=(30, 60)):
    """Seeded documents with planted near-duplicates.  Returns
    ``(docs, planted)``: ``docs`` is ``[(doc_id, text)]``; ``planted``
    the ``(original_id, copy_id)`` pairs, each copy being its original
    with one word replaced (3-word-shingle Jaccard >= 0.8)."""
    rng = _rng(seed, 6)
    p = 1.0 / (np.arange(vocab) + 10.0) ** 1.1
    p /= p.sum()
    n_dups = int(n_docs * dup_frac)
    n_orig = n_docs - n_dups
    lens = rng.integers(length[0], length[1] + 1, size=n_orig)
    words = rng.choice(vocab, size=int(lens.sum()), p=p)
    docs, pos = [], 0
    for d, ln in enumerate(lens):
        docs.append([f"w{x}" for x in words[pos:pos + ln]])
        pos += ln
    planted = []
    for src in rng.choice(n_orig, size=n_dups, replace=False):
        copy = list(docs[src])
        copy[int(rng.integers(len(copy)))] = f"x{int(rng.integers(vocab))}"
        planted.append((int(src), len(docs)))
        docs.append(copy)
    return [(i, " ".join(ws)) for i, ws in enumerate(docs)], planted


def search_batches(seed: int, docs, n_embed: int, bm25_size=8, ivf_size=10):
    """Endless alternating BM25 and IVF-PQ query batches.  BM25 queries
    are three words of a random document, with ids unique across
    batches; IVF-PQ batches are corpus vector ids (served excluding the
    query itself)."""
    rng = _rng(seed, 7)
    b = 0
    while True:
        qs = []
        for q in range(bm25_size):
            words = docs[int(rng.integers(len(docs)))][1].split()
            pick = rng.choice(len(words), size=3, replace=False)
            qs.append((b * bm25_size + q, " ".join(words[j] for j in sorted(pick))))
        yield "bm25", qs
        ids = rng.choice(n_embed, size=ivf_size, replace=False)
        yield "ivfpq", sorted(int(i) for i in ids)
        b += 1
