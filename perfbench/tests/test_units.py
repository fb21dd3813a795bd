"""Generators, order statistics, span arithmetic and answer checks of
the benchmark (no Spark)."""

import time
from itertools import islice

import numpy as np
import pytest

from perfbench import gen, harness, reference, run, spread, stats


def _same(a, b):
    if isinstance(a, np.ndarray):
        return isinstance(b, np.ndarray) and np.array_equal(a, b)
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def test_same_seed_same_inputs():
    h1, h2 = gen.ingest_history(5), gen.ingest_history(5)
    assert _same(h1, h2)
    assert _same(gen.ingest_batch(5, 3, h1), gen.ingest_batch(5, 3, h2))
    c1, c2 = gen.corpus(5, n_docs=500), gen.corpus(5, n_docs=500)
    assert _same(c1, c2)
    b1 = list(islice(gen.search_batches(5, c1[0], 800), 6))
    b2 = list(islice(gen.search_batches(5, c2[0], 800), 6))
    assert _same(b1, b2)


def test_other_seed_other_inputs():
    assert not _same(gen.ingest_history(5)["values"], gen.ingest_history(6)["values"])
    assert not _same(gen.corpus(5, n_docs=500), gen.corpus(6, n_docs=500))


def test_batch_keys_are_distinct_and_rewrite_the_past_hour():
    h = gen.ingest_history(1)
    start, pts = gen.ingest_batch(1, 0, h, batch_ms=gen.HOUR)
    keys = [(i, t) for i, t, _ in pts]
    assert len(keys) == len(set(keys))
    old = [t for _, t, _ in pts if t < start]
    assert old and all(start - gen.HOUR <= t for t in old)


def test_planted_duplicates_differ_in_one_word():
    docs, planted = gen.corpus(3, n_docs=400)
    for a, b in planted:
        wa, wb = docs[a][1].split(), docs[b][1].split()
        assert len(wa) == len(wb)
        assert sum(x != y for x, y in zip(wa, wb)) <= 1


def test_tag_expression_matches_its_source():
    for _, _, tags in gen.metric_defs(2, 1, 30, "m"):
        expr, key = gen.tag_expression(tags)
        assert gen.tag_match(key, tags)
        assert expr.count(" AND ") == 2 and "~" in expr


def test_percentile_and_median():
    xs = [5, 1, 4, 2, 3]
    assert stats.median(xs) == 3
    assert stats.median([1, 2, 3, 4]) == 2.5
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(range(1, 101), 90) == 90
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize("n, level", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if level is not None:
        beyond = sum(x > stats.percentile(range(n), level) for x in range(n))
        assert beyond >= 10


def test_end_to_end_averages_reads_jobs_and_ops():
    def op(kind, cls, cpu_ms):
        return {"kind": kind, "cls": cls, "ms": 1.0, "cpu_ms": cpu_ms,
                "ok": True, "traced": False}

    samples = [op("raw", "read", 100.0), op("raw", "read", 300.0),
               op("raw", "read", 200.0), op("tags", "read", 50.0),
               op("maint", "maint", 4000.0), op("maint", "maint", 6000.0),
               op("write", "write", 350.0)]
    m = run.end_to_end(samples, setup_s=12.5, rss_mb=900.0)
    assert set(m) == {x["name"] for x in spread.SPEC["end_to_end"]}
    assert m["read_cpu_ms"]["value"] == pytest.approx(650.0 / 4)
    assert m["job_cpu_s"]["value"] == pytest.approx(5.0)
    assert m["op_cpu_ms"]["value"] == pytest.approx(11000.0 / 7)
    assert m["setup_s"] == {"value": 12.5, "unit": "s"}


def test_tree_cpu_time_counts_this_process():
    before = harness.tree_cpu_s()
    t = time.process_time() + 0.1
    while time.process_time() < t:
        pass
    assert harness.tree_cpu_s() - before >= 0.05


def test_summarize_reports_count_median_and_tail():
    s = stats.summarize(range(100))
    assert s["n"] == 100 and s["p50"] == 49.5
    assert s["tail_level"] == 90.0 and s["tail"] == 89
    assert stats.summarize([7.0]) == {"n": 1, "p50": 7.0}


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0.0, 10.0, None),  # root
        (1.0, 3.0, 0),      # child
        (2.0, 5.0, 0),      # overlapping child: union 1..5
        (2.5, 2.7, 2),      # grandchild, not a direct child of the root
        (9.0, 12.0, 0),     # child spilling past its parent: clipped
    ]
    assert stats.self_times(spans) == pytest.approx([5.0, 2.0, 2.8, 0.2, 3.0])


def test_covered_merges_intervals():
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.covered([]) == 0


def test_bucket_checks_reject_wrong_answers():
    ts = np.array([0, 10, 20, 30], dtype=np.int64)
    vals = np.array([1.0, 3.0, 2.0, 8.0])
    good = [
        {"start": 0, "end": 20, "empty": False, "min": 1.0, "max": 3.0,
         "sum": 4.0, "avg": 2.0, "samples": 2, "median": 2.0, "p90": 3.0},
        {"start": 20, "end": 40, "empty": False, "min": 2.0, "max": 8.0,
         "sum": 10.0, "avg": 5.0, "samples": 2, "median": 5.0, "p90": 8.0},
    ]
    assert reference.buckets_ok(good, ts, vals, 0, 20, 2, ranks=True, n_pct=1)
    for key, bad in (("sum", 4.1), ("min", 0.5), ("samples", 3), ("median", 9.0),
                     ("p90", 0.0)):
        wrong = [dict(good[0], **{key: bad}), good[1]]
        assert not reference.buckets_ok(wrong, ts, vals, 0, 20, 2, ranks=True, n_pct=1)
    assert not reference.buckets_ok(good[:1], ts, vals, 0, 20, 2, ranks=False)


def test_raw_and_rate_references():
    ts = np.array([0, 60_000, 180_000], dtype=np.int64)
    vals = np.array([1.0, 2.0, 6.0])
    assert reference.raw_ok([{"timestamp": 0, "value": 1.0},
                             {"timestamp": 60_000, "value": 2.0},
                             {"timestamp": 180_000, "value": 6.0}], ts, vals)
    assert not reference.raw_ok([{"timestamp": 0, "value": 1.0}], ts, vals)
    assert reference.raw_ok(None, ts[:0], vals[:0])
    rts, r = reference.rates(ts, vals)
    assert rts.tolist() == [60_000, 180_000] and r.tolist() == [1.0, 2.0]


def test_spread_is_quartile_distance_over_median():
    # quartiles of 1..9 by the exclusive method: 2.5 and 7.5
    assert spread.iqr_share(range(1, 10)) == pytest.approx(5.0 / 5.0)
    assert spread.iqr_share([4.0] * 10) == 0.0
    assert spread.seeds("3-5") == [3, 4, 5] and spread.seeds("7") == [7]
