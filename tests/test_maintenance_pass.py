"""One maintenance pass costs Spark jobs only for work that exists, and
the paths that skip or prune work give the same results as doing it:
points, rollup partials and expiration-index snapshots are checked
against expectations computed here in plain Python, under both commit
protocols."""

import math
import uuid
from collections import defaultdict

import pytest

from rhq_metrics_spark.maintenance import MaintenanceRunner
from rhq_metrics_spark.model import COUNTER_SCHEMA, GAUGE_SCHEMA, MetricType
from rhq_metrics_spark.service import MetricsService
from rhq_metrics_spark.sources.store import MetricsStore

MIN = 60_000
HOUR = 60 * MIN
DAY = 24 * HOUR
SLICE = 2 * HOUR
ALIGNED = 1_700_006_400_000  # a slice boundary
assert ALIGNED % SLICE == 0

STATS = {"window_ms": HOUR}
HIST = {"lo": 0.0, "hi": 100.0, "n_bins": 10}


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"pass-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _runner(svc, tmp_path, default_days):
    return MaintenanceRunner(
        svc,
        default_retention_days=default_days,
        stats_sink={"path": str(tmp_path / "stats"), **STATS},
        histogram_sink={"path": str(tmp_path / "hist"), **HIST},
    )


def test_run_once_job_budget(spark, tmp_path):
    """A pass over a gauge-only store with the stats and histogram sinks
    launches Spark jobs only for work that exists: a second pass with
    no new writes launches none — no expiration write for the idle or
    empty types, no retention-bounds aggregate over unchanged
    definitions; a write to the open slice costs only the gauge
    expiration snapshot.  The bounds are job counts measured on this
    code (AQE runs each shuffle stage of a query as its own job)."""
    store = MetricsStore(spark, str(tmp_path / "store"))
    svc = MetricsService(spark, store)
    svc.create_tenant("t1", {"gauge": 2})
    svc.create_metric("t1", "gauge", "g0", data_retention=2)
    now = ALIGNED  # 2-day cutoffs fall on a slice boundary
    rows = [
        ("t1", f"g{k}", ts, float(i % 100), None)
        for k in range(3)
        for i, ts in enumerate(range(now - 3 * DAY, now, 30 * MIN))
    ]
    svc.add_data_points("gauge", spark.createDataFrame(rows, GAUGE_SCHEMA))
    runner = _runner(svc, tmp_path, default_days=2)

    # every closed slice compacts (the last one is inside the grace);
    # retention drops the 12 older than 2 days whole, rewrites nothing
    first, n_first = _jobs(spark, lambda: runner.run_once(now))
    assert len(first["compacted"]["gauge"]) == 3 * 12 - 1
    assert first["retention"]["gauge"] == {
        "dropped_slices": first["compacted"]["gauge"][:12],
        "rewritten": 0,
        "skipped": None,
    }
    assert first["expiration_rows"] == {
        "gauge": 3, "availability": 0, "counter": 0, "string": 0,
    }
    # compaction 4 jobs, per sink 3 for its write and 4 for attaching
    # the rollup, the retention bounds 3, the four first snapshots 5
    assert n_first <= 26, n_first

    second, n_second = _jobs(spark, lambda: runner.run_once(now))
    assert n_second == 0, second
    assert second["compacted"] == {t: [] for t in MetricType.USER_WRITABLE}
    assert second["expiration_rows"] == first["expiration_rows"]
    assert second["skipped"] == {
        t: {
            "retention": None if t == "gauge" else "empty",
            "expiration": "unchanged",
        }
        for t in MetricType.USER_WRITABLE
    }

    # a write to the open slice changes only the gauge snapshot
    svc.add_data_points("gauge", spark.createDataFrame(
        [("t1", "g0", now + 5 * MIN, 1.0, None)], GAUGE_SCHEMA))
    third, n_third = _jobs(spark, lambda: runner.run_once(now))
    assert third["skipped"]["gauge"]["expiration"] is None
    assert third["compacted"]["gauge"] == []
    assert n_third <= 2, n_third  # the gauge snapshot: one query

    # two slices close: compaction, a write and a watermark refresh per
    # sink, one slice rewritten for rows that left the 2-day window, the
    # gauge snapshot
    later = now + SLICE + runner.compaction_grace_ms
    fourth, n_fourth = _jobs(spark, lambda: runner.run_once(later))
    assert fourth["compacted"]["gauge"] == [now - SLICE, now]
    assert fourth["retention"]["gauge"]["rewritten"] == 1
    assert fourth["skipped"]["gauge"] == {"retention": None, "expiration": None}
    assert n_fourth <= 19, n_fourth


# -- same results --------------------------------------------------------

#: retention policies: tenant per-type days, metric overrides, and the
#: defined series; a series without a definition keeps DEFAULT_DAYS
DEFAULT_DAYS = 4
TENANT_DAYS = {("t1", "gauge"): 3, ("t1", "counter"): 1, ("t2", "gauge"): 5}
METRIC_DAYS = {
    ("t1", "gauge", "g_long"): 6,
    ("t1", "gauge", "g_short"): 1,
    ("t1", "counter", "c_long"): 2,
}
DEFINED = [
    ("t1", "gauge", "g_long"), ("t1", "gauge", "g_short"),
    ("t1", "gauge", "g_ten"), ("t2", "gauge", "g2"),
    ("t1", "counter", "c_long"), ("t1", "counter", "c_ten"),
]
GAUGE_SERIES = [("t1", "g_long"), ("t1", "g_short"), ("t1", "g_ten"),
                ("t2", "g2"), ("t2", "g_nodef")]
COUNTER_SERIES = [("t1", "c_long"), ("t1", "c_ten")]


class _Model:
    """The store's expected content: last write wins per (tenant,
    metric, ts); retention keeps ts >= now - days."""

    def __init__(self):
        self.points = {"gauge": {}, "counter": {}}
        self.metric_days = dict(METRIC_DAYS)

    def days(self, tenant, mtype, metric):
        if (tenant, mtype, metric) not in DEFINED:
            return DEFAULT_DAYS
        return self.metric_days.get(
            (tenant, mtype, metric), TENANT_DAYS.get((tenant, mtype), DEFAULT_DAYS)
        )

    def write(self, mtype, rows):
        for tenant, metric, ts, value, _ in rows:
            self.points[mtype][(tenant, metric, ts)] = value

    def expire(self, now):
        for mtype, pts in self.points.items():
            for key in [k for k in pts
                        if k[2] < now - self.days(k[0], mtype, k[1]) * DAY]:
                del pts[key]

    def last_writes(self, mtype):
        out = {}
        for tenant, metric, ts in self.points.get(mtype, {}):
            out[(tenant, metric)] = max(ts, out.get((tenant, metric), ts))
        return out

    def partials(self, slices):
        """Stats and histogram partials of the gauge points in ``slices``."""
        stats, hist = defaultdict(list), defaultdict(int)
        width = (HIST["hi"] - HIST["lo"]) / HIST["n_bins"]
        for (tenant, metric, ts), v in self.points["gauge"].items():
            s = ts - ts % SLICE
            if s not in slices:
                continue
            stats[(s, tenant, metric, ts - ts % STATS["window_ms"])].append(v)
            b = min(max(math.floor((v - HIST["lo"]) / width), 0), HIST["n_bins"] - 1)
            hist[(s, tenant, metric, b)] += 1
        stats = {
            k: (min(vs), sum(vs) / len(vs), max(vs), sum(vs), len(vs))
            for k, vs in stats.items()
        }
        return stats, dict(hist)


def _gauge_rows(start, end, step, salt):
    return [
        (tenant, metric, ts, float((ts // step * 7 + k + salt) % 100), None)
        for k, (tenant, metric) in enumerate(GAUGE_SERIES)
        for ts in range(start, end, step)
    ]


def _check(spark, store, model, expected_partials, tmp_path):
    import pyspark.sql.functions as F

    for mtype in ("gauge", "counter"):
        got = {(r["tenant_id"], r["metric"], r["ts"]): r["value"]
               for r in store.points(mtype).collect()}
        assert got == model.points[mtype], mtype
    for mtype in MetricType.USER_WRITABLE:
        snap = {(r["tenant_id"], r["metric"]): r["last_write_ts"]
                for r in store.expiration_index_snapshot(mtype).collect()}
        fresh = {(r["tenant_id"], r["metric"]): r["last_write_ts"]
                 for r in store.expiration_index(mtype).collect()}
        assert snap == fresh == model.last_writes(mtype), mtype

    want_stats, want_hist = expected_partials
    got_stats = {
        (r["slice_start"], r["tenant_id"], r["metric"], r["w"]):
            (r["min"], r["avg"], r["max"], r["sum"], r["samples"])
        for r in spark.read.parquet(str(tmp_path / "stats")).select(
            "*", F.unix_millis("window_start").alias("w")).collect()
    }
    assert got_stats.keys() == want_stats.keys()
    for k, want in want_stats.items():
        assert got_stats[k][4] == want[4], k
        for g, w in zip(got_stats[k][:4], want[:4]):
            assert math.isclose(g, w, rel_tol=1e-12), k
    got_hist = {
        (r["slice_start"], r["tenant_id"], r["metric"], r["bin"]): r["count"]
        for r in spark.read.parquet(str(tmp_path / "hist")).collect()
    }
    assert got_hist == want_hist


@pytest.mark.parametrize("protocol", ["rename", "manifest"])
def test_run_once_same_results(spark, tmp_path, protocol):
    """Retention overrides that differ by type and series, a late point
    that re-compacts a slice, and a type whose last rows expire: after
    each pass the points, the rollup partials and every expiration
    snapshot match the expectations."""
    store = MetricsStore(spark, str(tmp_path / "store"), commit_protocol=protocol)
    svc = MetricsService(spark, store)
    policies = defaultdict(dict)
    for (tenant, mtype), days in TENANT_DAYS.items():
        policies[tenant][mtype] = days
    for tenant, retentions in policies.items():
        svc.create_tenant(tenant, retentions)
    for tenant, mtype, metric in DEFINED:
        svc.create_metric(
            tenant, mtype, metric,
            data_retention=METRIC_DAYS.get((tenant, mtype, metric)),
        )
    runner = _runner(svc, tmp_path, DEFAULT_DAYS)
    model = _Model()
    want_stats, want_hist = {}, {}

    hot: set = set()  # gauge slices written since they last compacted

    def write(mtype, schema, rows):
        svc.add_data_points(mtype, spark.createDataFrame(rows, schema))
        model.write(mtype, rows)
        if mtype == "gauge":
            hot.update(ts - ts % SLICE for _, _, ts, _, _ in rows)

    def run(now):
        report = runner.run_once(now)
        done = set(report["compacted"]["gauge"])
        closed = now - runner.compaction_grace_ms
        assert done == {s for s in hot if s + SLICE <= closed}
        hot.difference_update(done)
        stats, hist = model.partials(done)
        for table, fresh in ((want_stats, stats), (want_hist, hist)):
            for k in [k for k in table if k[0] in done]:
                del table[k]
            table.update(fresh)
        model.expire(now)
        _check(spark, store, model, (want_stats, want_hist), tmp_path)
        return report

    now1 = ALIGNED + HOUR  # cutoffs fall inside slices: straddling rewrites
    step = 40 * MIN
    write("gauge", GAUGE_SCHEMA, _gauge_rows(now1 - 7 * DAY, now1 - 10 * MIN, step, 0))
    write("counter", COUNTER_SCHEMA, [
        (tenant, metric, ts, ts // HOUR, None)
        for tenant, metric in COUNTER_SERIES
        for ts in range(now1 - 36 * HOUR, now1 - HOUR, HOUR)
    ])
    first = run(now1)
    assert first["retention"]["gauge"]["rewritten"] > 0
    assert first["expiration_rows"]["counter"] == 2

    # a late point overwrites one in a compacted slice, another lands
    # beside it, and two more days of points arrive
    old = now1 - DAY  # on g_long's grid, inside its 6-day retention
    assert ("t1", "g_long", old) in model.points["gauge"]
    late = [("t1", "g_long", old, 99.0, None), ("t1", "g_long", old + MIN, 3.0, None)]
    now2 = now1 + 2 * DAY  # every counter row is older than its cutoff
    write("gauge", GAUGE_SCHEMA,
          late + _gauge_rows(now1 - 10 * MIN, now2 - 10 * MIN, step, 1))
    assert old - old % SLICE in hot  # the late slice re-compacts
    second = run(now2)
    assert second["expiration_rows"]["counter"] == 0
    assert second["skipped"]["counter"] == {"retention": None, "expiration": None}

    # g_long's retention grows past the cached longest bound, and a late
    # point lands where only the new bound keeps it; the counter is now
    # empty and idle.  (The gauge is not idle: row retention rewrites its
    # slices below the shortest retention, g_short's day, on every pass,
    # expiring rows or not.)
    svc.create_metric("t1", "gauge", "g_long", data_retention=9)
    model.metric_days[("t1", "gauge", "g_long")] = 9
    write("gauge", GAUGE_SCHEMA, [("t1", "g_long", now2 - 7 * DAY, 42.0, None)])
    third = run(now2)
    assert model.points["gauge"][("t1", "g_long", now2 - 7 * DAY)] == 42.0
    assert {t: third["skipped"][t] for t in third["skipped"] if t != "gauge"} == {
        t: {"retention": "empty", "expiration": "unchanged"}
        for t in MetricType.USER_WRITABLE
        if t != "gauge"
    }
