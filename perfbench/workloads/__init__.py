"""The benchmark's workloads, one module each.  A workload builds its
state in ``setup`` and hands the timed loop one :class:`Op` at a time
from ``next_op``; each op's ``check`` runs outside the timer."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable


@dataclass
class Op:
    #: route or job name (``route.<kind>`` in the trace report)
    kind: str
    #: metric class: read, write, tags, maint, search or dedup
    cls: str
    run: Callable[[], Any]
    #: the answer check, run outside the timer; False counts a failed op
    check: Callable[[Any], bool]


def load_points(spark, service, path, tenant, metric, ts, value) -> None:
    """Bulk-load gauge points: numpy columns → one parquet file →
    ``MetricsService.add_data_points``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    pq.write_table(pa.table({"tenant_id": tenant, "metric": metric,
                             "ts": ts, "value": value}), str(path))
    pts = spark.read.parquet(str(path)).withColumn(
        "tags", F.lit(None).cast("map<string,string>"))
    service.add_data_points("gauge", pts)


def save_definitions(spark, service, defs) -> None:
    """All gauge definitions ``[(tenant, metric, tags)]`` in one upsert."""
    from rhq_metrics_spark.localrel import local_df
    from rhq_metrics_spark.model import METRICS_IDX_SCHEMA

    rows = [(t, "gauge", m, tags, None) for t, m, tags in defs]
    service.store.upsert_metric_definitions(
        local_df(spark, rows, METRICS_IDX_SCHEMA))
