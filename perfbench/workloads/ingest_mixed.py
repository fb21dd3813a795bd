"""``ingest_mixed``: one closed-loop client serves dashboard reads beside
writes.  Seeded ``POST /gauges/raw`` batches advance a virtual clock,
REST reads hit the open tail, definitions are rewritten through
``PUT .../tags`` and ``MaintenanceRunner.run_once`` (with the stats and
histogram rollup sinks) runs in the loop once per slice of virtual
time, so its stall shows in the figures.

Set-up loads a day of history and warms every op once, the
maintenance pass first, which compacts the loaded day.  So each timed
pass compacts the one slice its cycle wrote and retention rewrites one
older slice to drop the points that left the one-day window: the store
keeps a steady size from pass to pass.

Why: the dashboard read mix loads http, tags, service, operators and
Spark planning; every write invalidates the store's plan cache and the
service's tail cache, and hot segments pile up between compactions."""

from __future__ import annotations

import sys
from urllib.parse import quote

import numpy as np

from perfbench import gen, reference
from perfbench.harness import Client, dir_files
from perfbench.stats import median
from perfbench.workloads import Op, load_points, save_definitions

BATCH_MS = gen.HOUR
RETENTION_DAYS = 1
WINDOW_MS = 600_000  # stats rollup window; divides the slice and the bucket
SPAN = 8 * gen.HOUR  # stats reads: the last 8 hours in 48 buckets
BUCKETS = 48
PERCENTILES = "90,95,99"
#: one cycle: two writes (one 2 h slice of virtual time), the six
#: dashboard reads, a maintenance pass and a definition rewrite
CYCLE = ("write", "stats_pct", "raw", "write", "stats", "rate_stats",
         "tags", "tag_stats", "maint", "put_tags")
WARMUP = ("write", "write", "maint") + tuple(
    k for k in CYCLE if k not in ("write", "maint"))


class IngestMixed:
    name = "ingest_mixed"
    cycle = len(CYCLE)
    trace_points = ()

    def __init__(self, spark, work, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.hist = gen.ingest_history(seed)

    def sizes(self) -> dict:
        h = self.hist
        return {"series": len(h["defs"]), "history_points": int(h["values"].size),
                "points_per_write": len(h["defs"]) * BATCH_MS // h["step_ms"],
                "retention_days": RETENTION_DAYS}

    def setup(self) -> None:
        from rhq_metrics_spark.http import MetricsApp
        from rhq_metrics_spark.maintenance import MaintenanceRunner
        from rhq_metrics_spark.service import MetricsService
        from rhq_metrics_spark.sources.store import MetricsStore

        h = self.hist
        self.root = self.work / "ingest"
        self.root.mkdir(parents=True)
        svc = MetricsService(self.spark, MetricsStore(self.spark, str(self.root / "store")))
        self.tenant = h["defs"][0][0]
        svc.create_tenant(self.tenant, {"gauge": RETENTION_DAYS})
        n = len(h["ts"])
        load_points(
            self.spark, svc, self.root / "load.parquet",
            tenant=np.repeat([t for t, _, _ in h["defs"]], n),
            metric=np.repeat([m for _, m, _ in h["defs"]], n),
            ts=np.tile(h["ts"], len(h["defs"])),
            value=h["values"].ravel(),
        )
        save_definitions(self.spark, svc, h["defs"])
        self.runner = MaintenanceRunner(
            svc,
            stats_sink={"path": str(self.root / "rollup"), "window_ms": WINDOW_MS},
            histogram_sink={"path": str(self.root / "hist"), "lo": 0.0,
                            "hi": 120.0, "n_bins": 60},
        )
        self.now = h["now"]
        self.cutoff = self.now - RETENTION_DAYS * gen.DAY
        self.client = Client(MetricsApp(svc))
        self.model = [dict(zip(h["ts"].tolist(), row.tolist())) for row in h["values"]]
        self.rng = np.random.default_rng([self.seed, 8])
        self.k = 0  # write batches sent
        self.i = 0
        self._reset_counts()
        # warm every path once, maintenance first: the two writes close
        # the loaded day's last slice, so this pass compacts the whole
        # loaded day, the warm reads see the store as timed reads do,
        # and each timed pass compacts one slice and expires one
        for kind in WARMUP:
            op = self._op(kind)
            op.check(op.run())
        self._reset_counts()

    def _reset_counts(self) -> None:
        self.acked = 0  # points acknowledged
        self.written = {"write": 0, "maint": 0}  # new file bytes per op kind
        self.files = dir_files(self.root)
        self.bytes_per_point = []
        #: per pass: slices compacted, slices dropped whole by retention,
        #: slice partitions retention rewrote to drop expired rows
        self.passes = []

    def next_op(self) -> Op:
        kind = CYCLE[self.i % len(CYCLE)]
        self.i += 1
        return self._op(kind)

    def _op(self, kind: str) -> Op:
        h, get = self.hist, self._get
        if kind == "write":
            start, pts = gen.ingest_batch(self.seed, self.k, h, batch_ms=BATCH_MS)
            self.k += 1
            by_metric: dict = {}
            for i, t, v in pts:
                by_metric.setdefault(i, []).append({"timestamp": t, "value": v})
            body = [{"id": h["defs"][i][1], "data": d} for i, d in by_metric.items()]
            return Op("write", "write",
                      lambda: self.client("POST", "/gauges/raw", self.tenant, body),
                      lambda res: self._acked(res, pts, start + BATCH_MS))
        if kind == "maint":
            now = self.now
            return Op("maint", "maint", lambda: self.runner.run_once(now),
                      lambda res: self._maintained(now, res))
        i = int(self.rng.integers(len(h["defs"])))
        mid, tags = h["defs"][i][1], h["defs"][i][2]
        end = self.now
        start = end - SPAN
        q = f"start={start}&end={end}&buckets={BUCKETS}"
        if kind == "put_tags":
            body = {"rev": str(self.k)}
            return Op(kind, "tags",
                      lambda: self.client("PUT", f"/gauges/{mid}/tags", self.tenant, body),
                      lambda res: res[0] == 200)
        if kind == "raw":
            start = end - gen.HOUR
            return get(kind, f"/gauges/{mid}/raw?start={start}&end={end}",
                       lambda b: reference.raw_ok(b, *self._series([i], start, end)))
        if kind in ("stats", "stats_pct", "rate_stats"):
            pct = kind == "stats_pct"
            path = {"stats": f"/gauges/{mid}/stats?{q}",
                    "stats_pct": f"/gauges/{mid}/stats?{q}&percentiles={PERCENTILES}",
                    "rate_stats": f"/gauges/{mid}/rate/stats?{q}"}[kind]
            return get(kind, path, lambda b: self._buckets_ok(
                b, [i], start, end, ranks=kind != "stats", n_pct=3 if pct else 0,
                rate=kind == "rate_stats"))
        expr, key = gen.tag_expression(tags)
        want = [j for j, (_, _, t) in enumerate(h["defs"]) if gen.tag_match(key, t)]
        if kind == "tags":
            return get(kind, f"/metrics?type=gauge&tags={quote(expr)}",
                       lambda b: sorted(m["id"] for m in b)
                       == sorted(h["defs"][j][1] for j in want))
        body = {"tags": expr, "start": start, "end": end, "buckets": BUCKETS}
        return Op(kind, "read",
                  lambda: self.client("POST", "/gauges/stats/query", self.tenant, body),
                  lambda res: res[0] == 200 and self._buckets_ok(
                      res[1], want, start, end, ranks=True))

    def _get(self, kind, path, body_ok) -> Op:
        return Op(kind, "read", lambda: self.client("GET", path, self.tenant),
                  lambda res: res[0] in (200, 204) and body_ok(res[1]))

    def _series(self, which, start, end, rate=False):
        """Model points of the series in ``which`` inside [start, end),
        pooled, with rates taken per series before pooling."""
        ts_all, v_all = [], []
        for i in which:
            pts = sorted((t, v) for t, v in self.model[i].items() if start <= t < end)
            ts = np.array([t for t, _ in pts], dtype=np.int64)
            vals = np.array([v for _, v in pts], dtype=float)
            if rate:
                ts, vals = reference.rates(ts, vals)
            ts_all.append(ts)
            v_all.append(vals)
        return np.concatenate(ts_all), np.concatenate(v_all)

    def _buckets_ok(self, body, which, start, end, ranks, n_pct=0, rate=False):
        ts, vals = self._series(which, start, end, rate)
        return reference.buckets_ok(body, ts, vals, start, (end - start) // BUCKETS,
                                    BUCKETS, ranks=ranks, n_pct=n_pct)

    def _new_bytes(self, kind: str) -> None:
        now = dir_files(self.root)
        self.written[kind] += sum(s for p, s in now.items() if p not in self.files)
        self.files = now

    def _acked(self, res, pts, new_now) -> bool:
        """A 200 acknowledges every point: the model takes them in order
        (last write wins) and the clock advances."""
        if res[0] != 200:
            return False
        for i, t, v in pts:
            self.model[i][t] = v
        self.now = max(self.now, new_now)
        self.acked += len(pts)
        self._new_bytes("write")
        return True

    def _maintained(self, now, report) -> bool:
        self.cutoff = now - RETENTION_DAYS * gen.DAY
        self._new_bytes("maint")
        live = sum(sum(t >= self.cutoff for t in m) for m in self.model)
        store = str(self.root / "store")
        size = sum(s for p, s in self.files.items() if p.startswith(store))
        self.bytes_per_point.append(size / max(1, live))
        kept = report["retention"]["gauge"]
        self.passes.append([len(report["compacted"]["gauge"]),
                            len(kept["dropped_slices"]), kept["rewritten"]])
        return True

    def finish(self):
        """Read every series back through ``POST /gauges/raw/query``:
        each acknowledged point not older than the retention cutoff must
        be there with its last written value, and nothing else."""
        ids = [m for _, m, _ in self.hist["defs"]]
        status, body = self.client(
            "POST", "/gauges/raw/query", self.tenant,
            {"ids": ids, "start": self.cutoff, "end": self.now + 1})
        got = {g["id"]: {p["timestamp"]: p["value"] for p in g["data"]}
               for g in (body or [])}
        bad = [mid for i, mid in enumerate(ids)
               if got.get(mid, {}) != {t: v for t, v in self.model[i].items()
                                       if self.cutoff <= t <= self.now}]
        ok = status == 200 and not bad
        if not ok:
            print(f"ingest_mixed readback: status {status}, "
                  f"{len(bad)} series differ", file=sys.stderr)
        extra = {
            "stored_bytes_per_point": (median(self.bytes_per_point)
                                       if self.bytes_per_point else None),
            "rewrite_bytes_per_ingested_byte":
                self.written["maint"] / max(1, self.written["write"]),
            "virtual_hours": (self.now - self.hist["now"]) / gen.HOUR,
            "acked_points": self.acked,
            "maintenance_passes": self.passes,
        }
        return extra, 1, 0 if ok else 1
