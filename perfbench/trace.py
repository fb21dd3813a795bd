"""The traced run: spans around the calls into each layer, recorded from
the benchmark's own files by patching each function at the name its
caller looks up, plus Spark's own figures — plan phase times from each
executed ``QueryExecution``, job/stage/task counts from the status
tracker by job group, and task metrics from the event log.

A span is ``(name, start, end, parent, op)``; spans stay in memory and
are written out when the run ends.  A layer's self time is its spans'
duration minus the time their child spans cover."""

from __future__ import annotations

import functools
import inspect
import json
import math
import time
from pathlib import Path

from perfbench import stats

#: MetricsStore methods that read data; spans under them count parquet opens
STORE_READS = ("find_data_points", "points", "metrics_idx", "tenants",
               "expiration_index_snapshot")
#: DataFrame methods that execute a plan
ACTIONS = ("collect", "count", "toPandas", "toLocalIterator", "take",
           "first", "head", "localCheckpoint")
#: SQL metrics (milliseconds) of a Python worker's start-up
PYTHON_INIT = ("time to start Python workers", "time to initialize Python workers")
ROUTES = ("write", "stats_pct", "raw", "stats", "rate_stats", "tags",
          "tag_stats", "put_tags")


class Tracer:
    def __init__(self, spark, workload):
        self.sc, self.wl = spark.sparkContext, workload
        self.spans: list = []
        self.stack: list = []
        self.op = None  # index of the traced op in progress, else None
        self.ops: dict = {}
        self.patches: list = []
        self.seen_plans: set = set()

    # -- spans ---------------------------------------------------------------

    def _open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self.stack.pop()

    def _inside(self, prefix: str) -> bool:
        return any(self.spans[i][0].startswith(prefix) for i in self.stack)

    def wrap(self, fn, name, before=None, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            if before is not None:
                before(args)
            idx = self._open(name)
            try:
                res = fn(*args, **kwargs)
            finally:
                self._close(idx)
            return after(args, res) if after is not None else res

        return traced

    def patch(self, owner, attr: str, name: str, before=None, after=None,
              drain=False) -> None:
        """Replace ``owner.attr`` by a traced wrapper; ``drain`` makes a
        function that returns an iterator consume it inside the span."""
        orig = vars(owner)[attr]
        fn = orig
        if drain:
            @functools.wraps(orig)
            def fn(*args, **kwargs):
                return iter(list(orig(*args, **kwargs)))
        setattr(owner, attr, self.wrap(fn, name, before, after))
        self.patches.append((owner, attr, orig))

    # -- ops -----------------------------------------------------------------

    def begin_op(self, i: int, op) -> None:
        self.op = i
        self.ops[i] = {"kind": op.kind, "cls": op.cls, "group": f"perfbench-op-{i}",
                       "phases": {}, "opens": 0, "reads": 0, "l0": [],
                       "routed": [], "spans_from": len(self.spans)}
        self.sc.setJobGroup(self.ops[i]["group"], op.kind)

    def end_op(self, ms: float) -> None:
        rec = self.ops[self.op]
        rec["ms"] = ms
        rec["spans_to"] = len(self.spans)
        self.op = None
        self.sc.setJobGroup("perfbench-untraced", "")
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(rec["group"])
        stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
        rec["jobs"], rec["stages"] = len(jobs), len(stages)
        rec["tasks"] = sum(info.numTasks for s in stages
                           if (info := st.getStageInfo(s)))

    # -- patch set -----------------------------------------------------------

    def install(self) -> None:
        import pyspark.sql.classic.dataframe as cdf
        import pyspark.sql.readwriter as rw
        import rhq_metrics_spark.http as http
        import rhq_metrics_spark.maintenance as maint
        import rhq_metrics_spark.service as service
        import rhq_metrics_spark.sources.store as store
        import rhq_metrics_spark.tags.compiler as compiler
        import rhq_metrics_spark.tags.parser as parser

        self.patch(http.MetricsApp, "__call__", "http")
        self.patch(parser, "parse_tag_query", "tags.parse")
        self.patch(compiler, "parse_tag_query", "tags.parse")
        self.patch(compiler, "compile_expression", "tags.compile")
        self.patch(http, "parse_wire", "wire.parse", after=self._probe_rejects)
        for mod in (http, service, store):
            self.patch(mod, "local_df", "localrel.build")
        for name, fn in list(vars(service.MetricsService).items()):
            if inspect.isfunction(fn) and not name.startswith("_"):
                after = self._routed if name == "try_routed_stats" else None
                self.patch(service.MetricsService, name, f"service.{name}", after=after)
        for name, fn in list(vars(service).items()):
            if inspect.isfunction(fn) and fn.__module__.startswith(
                    "rhq_metrics_spark.operators"):
                self.patch(service, name, f"operators.{name}")
        for name in STORE_READS:
            self.patch(store.MetricsStore, name, f"store.read.{name}",
                       before=self._store_read)
        # the tail cache's validity probe: read-path cost, not a read
        self.patch(store.MetricsStore, "state_token", "store.read.state_token")
        self.patch(store.MetricsStore, "add_data_points", "store.write")
        self.patch(store.MetricsStore, "upsert_metric_definitions", "store.defs_upsert")
        self.patch(maint.MaintenanceRunner, "run_once", "maintenance.run")
        for name in ("_emit_stats_partials", "_emit_histogram_partials"):
            self.patch(maint.MaintenanceRunner, name, "maintenance.partials")
        self.patch(rw.DataFrameReader, "parquet", "spark.read_parquet",
                   before=self._parquet_open)
        for name in ACTIONS:
            self.patch(cdf.DataFrame, name, "spark.action", after=self._phases,
                       drain=name == "toLocalIterator")
        for name in ("parquet", "save"):
            self.patch(rw.DataFrameWriter, name, "spark.action")
        for name, span in self.wl.trace_points:
            self.patch(type(self.wl), name, span)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self.patches):
            setattr(owner, attr, orig)
        self.patches.clear()

    def _phases(self, args, res):
        """After an action, add the plan phase times of the executed
        ``QueryExecution`` to the op, once per plan."""
        qe = args[0]._jdf.queryExecution()
        key = qe.hashCode()
        if key not in self.seen_plans:
            self.seen_plans.add(key)
            out = self.ops[self.op]["phases"]
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = out.get(kv._1(), 0.0) + float(kv._2().durationMs())
        return res

    def _store_read(self, args) -> None:
        if self._inside("store.read"):
            return
        rec = self.ops[self.op]
        rec["reads"] += 1
        hot = Path(args[0].base) / "points" / "gauge" / "hot"
        rec["l0"].append(sum(1 for _ in hot.glob("seg-*")) if hot.is_dir() else 0)

    def _parquet_open(self, args) -> None:
        if self._inside("store.read"):
            self.ops[self.op]["opens"] += 1

    def _routed(self, args, res):
        self.ops[self.op]["routed"].append(res is not None)
        return res

    def _probe_rejects(self, args, res):
        """``parse_wire`` returns ``(points, rejects)``; the caller's
        ``rejects.limit(1).collect()`` probe is timed as part of wire
        parsing."""
        points, rejects = res
        return points, _RejectProbe(rejects, self)

    # -- report --------------------------------------------------------------

    def write_spans(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for name, s, e, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")

    def _nested_in(self, k: int, name: str) -> bool:
        """Whether span ``k`` runs inside another span of ``name`` (its
        time is then already in that span's total)."""
        parent = self.spans[k][3]
        while parent is not None:
            if self.spans[parent][0] == name:
                return True
            parent = self.spans[parent][3]
        return False

    def report(self, samples, eventlog: Path, extra: dict) -> dict:
        ops = [r for r in self.ops.values() if "spans_to" in r]
        selfs = stats.self_times([(s, e, p) for _, s, e, p, _ in self.spans])
        for r in ops:
            r["self"], r["total"] = {}, {}
            for k in range(r["spans_from"], r["spans_to"]):
                name, s, e = self.spans[k][:3]
                r["self"][name] = r["self"].get(name, 0.0) + selfs[k]
                if not self._nested_in(k, name):
                    r["total"][name] = r["total"].get(name, 0.0) + (e - s)
        task = _eventlog_tasks(eventlog)
        for r in ops:
            r["task"] = task.get(r["group"], {})

        def med(values):
            xs = [v for v in values if v is not None]
            return stats.median(xs) if xs else 0.0

        def per_op(table, pick, which=None):
            return med(
                sum(v for n, v in r[table].items() if pick(n)) * 1000.0
                if any(pick(n) for n in r[table]) else None
                for r in ops if which is None or r["cls"] in which)

        def mean(xs):
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        reads = [r for r in ops if r["cls"] == "read"]
        routed = [x for r in ops for x in r["routed"]]
        n_reads = sum(r["reads"] for r in reads)
        def read_field(field, traced):
            return [s[field] for s in samples
                    if s["traced"] == traced and s["cls"] in ("read", "search")]

        traced_ms, plain_ms = read_field("ms", True), read_field("ms", False)
        m = {
            "http.self_ms": per_op("self", lambda n: n == "http"),
            "tags.compile_ms": per_op("self", lambda n: n.startswith("tags.")),
            "service.plan_ms": per_op("self", lambda n: n.startswith("service."), ("read",)),
            "service.routed_ratio": mean(routed),
            "operators.plan_ms": per_op("self", lambda n: n.startswith("operators."), ("read",)),
            "store.read_plan_ms": per_op("self", lambda n: n.startswith("store.read"), ("read",)),
            "store.parquet_opens_per_read": sum(r["opens"] for r in reads) / max(1, n_reads),
            "store.l0_segments": mean(x for r in reads for x in r["l0"]),
            "store.write_ms": per_op("total", lambda n: n == "store.write", ("write",)),
            "store.defs_upsert_ms": per_op("total", lambda n: n == "store.defs_upsert"),
            "wire.parse_ms": per_op("total", lambda n: n.startswith("wire.")),
            "localrel.build_ms": per_op("total", lambda n: n == "localrel.build", ("write",)),
            "maintenance.compact_ms": per_op("total", lambda n: n == "service.compact", ("maint",)),
            "maintenance.partials_ms": per_op("total", lambda n: n == "maintenance.partials"),
            "maintenance.retention_ms": per_op(
                "total", lambda n: n == "service.apply_retention_policies", ("maint",)),
            "maintenance.rewrite_bytes_per_ingested_byte":
                extra.get("rewrite_bytes_per_ingested_byte", 0.0),
            "pipelines.minhash_ms": per_op("total", lambda n: n == "pipelines.minhash"),
            "pipelines.clusters_ms": per_op("total", lambda n: n == "pipelines.clusters"),
            "pipelines.bm25_serve_ms": per_op("total", lambda n: n == "pipelines.bm25_serve"),
            "pipelines.ivfpq_serve_ms": per_op("total", lambda n: n == "pipelines.ivfpq_serve"),
            "pipelines.ivfpq_recall_at5": mean(extra.get("ivfpq_recall_at5", [])),
            "spark.analysis_ms": med(r["phases"].get("analysis") for r in ops),
            "spark.optimization_ms": med(r["phases"].get("optimization") for r in ops),
            "spark.planning_ms": med(r["phases"].get("planning") for r in ops),
            "spark.execute_ms": med(
                max(0.0, r["total"].get("spark.action", 0.0) * 1000.0
                    - r["phases"].get("optimization", 0.0)
                    - r["phases"].get("planning", 0.0))
                for r in ops if "spark.action" in r["total"]),
            "spark.jobs_per_op": mean(r["jobs"] for r in ops),
            "spark.stages_per_op": mean(r["stages"] for r in ops),
            "spark.tasks_per_op": mean(r["tasks"] for r in ops),
            "spark.task_run_ms": med(r["task"].get("run_ms") for r in ops),
            "spark.gc_ms": med(r["task"].get("gc_ms") for r in ops),
            "spark.shuffle_bytes_per_op": mean(r["task"].get("shuffle_bytes", 0) for r in ops),
            # worker start-ups come in waves on few ops: a mean shows them
            "spark.python_init_ms": mean(r["task"].get("python_init_ms", 0.0) for r in ops),
            "trace.read_p50_ms": med(traced_ms),
            "trace.untraced_read_p50_ms": med(plain_ms),
        }
        m["trace.overhead_ratio"] = (m["trace.read_p50_ms"] / m["trace.untraced_read_p50_ms"]
                                     if m["trace.untraced_read_p50_ms"] else 0.0)
        # the same in the currency of the end-to-end read metric
        m["trace.read_cpu_ms"] = mean(read_field("cpu_ms", True))
        m["trace.untraced_read_cpu_ms"] = mean(read_field("cpu_ms", False))
        m["trace.cpu_overhead_ratio"] = (
            m["trace.read_cpu_ms"] / m["trace.untraced_read_cpu_ms"]
            if m["trace.untraced_read_cpu_ms"] else 0.0)
        for route in ROUTES:
            m[f"route.{route}.p50_ms"] = med(
                r["total"].get("http", 0.0) * 1000.0 if r["kind"] == route else None
                for r in ops)
        return {k: {"value": v, "unit": _unit(k)} for k, v in m.items()}


class _RejectProbe:
    """Stands in for ``parse_wire``'s rejects frame: the caller's
    ``limit(n).collect()`` runs under a ``wire.reject_probe`` span."""

    def __init__(self, df, tracer):
        self._df, self._tracer = df, tracer

    def limit(self, n):
        limited = self._df.limit(n)
        tracer = self._tracer

        class _Probe:
            def collect(self):
                idx = tracer._open("wire.reject_probe") if tracer.op is not None else None
                try:
                    return limited.collect()
                finally:
                    if idx is not None:
                        tracer._close(idx)

        return _Probe()

    def __getattr__(self, name):
        return getattr(self._df, name)


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_ratio", "recall_at5", "_per_ingested_byte")):
        return "ratio"
    if name.endswith("bytes_per_op"):
        return "bytes"
    return "count"


def _eventlog_tasks(root: Path) -> dict:
    """Per job group: summed executor run time, JVM GC time, shuffle
    bytes (read plus written) and Python worker start-up time of its
    tasks, from the Spark event log under ``root``."""
    stage_group: dict = {}
    out: dict = {}
    for path in sorted(p for p in root.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    rec = out.setdefault(group, {"run_ms": 0.0, "gc_ms": 0.0,
                                                 "shuffle_bytes": 0, "python_init_ms": 0.0})
                    rec["run_ms"] += tm.get("Executor Run Time", 0)
                    rec["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    rec["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)
                                             + sw.get("Shuffle Bytes Written", 0))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_INIT:
                            rec["python_init_ms"] += _num(acc.get("Update"))
    return out


def _num(v) -> float:
    try:
        x = float(v)
    except (TypeError, ValueError):
        return 0.0
    return x if math.isfinite(x) else 0.0
