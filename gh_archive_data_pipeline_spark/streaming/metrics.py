"""Streaming observability — the Spark-native analog of the reference's
metrics plane (statsd → Prometheus → Grafana, /root/reference/monitoring/
prometheus/config/prometheus.yml:31-34 scrapes; alert-rules.yml alerts).

Instead of a sidecar scrape, Structured Streaming pushes per-micro-batch
progress to registered ``StreamingQueryListener``s. ``StreamingMetrics``
collects those events into plain rows and exposes them as a DataFrame, so
the metrics plane is queryable with the same engine as the data plane
(alert rules become WHERE clauses; dashboards become aggregations).

At scale this is the production pattern too: the listener callback runs on
the driver and receives one small JSON document per micro-batch per query —
O(batches), never O(rows) — and the sink table can be a parquet/Delta append
for retention.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

# One row per (query, micro-batch).
METRICS_SCHEMA = (
    "query_name string, query_id string, batch_id bigint, "
    "input_rows bigint, input_rows_per_sec double, "
    "processed_rows_per_sec double, batch_duration_ms bigint, "
    "state_rows bigint, state_memory_bytes bigint"
)


class StreamingMetrics(StreamingQueryListener):
    """Collects per-batch progress into rows; ``to_df`` makes them queryable.

    Thread-safe: listener callbacks arrive on Spark's listener-bus thread
    while the driver thread reads.
    """

    def __init__(self) -> None:
        self._rows: list[tuple] = []
        self._lock = threading.Lock()

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        row = (
            p.get("name"),
            p.get("id"),
            int(p.get("batchId", -1)),
            int(p.get("numInputRows", 0)),
            float(p.get("inputRowsPerSecond", 0.0) or 0.0),
            float(p.get("processedRowsPerSecond", 0.0) or 0.0),
            int((p.get("durationMs") or {}).get("triggerExecution", 0)),
            sum(int(s.get("numRowsTotal", 0)) for s in state),
            sum(int(s.get("memoryUsedBytes", 0)) for s in state),
        )
        with self._lock:
            self._rows.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- query surface ------------------------------------------------------
    def to_df(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self._rows)
        return spark.createDataFrame(rows, METRICS_SCHEMA)

    def clear(self) -> None:
        with self._lock:
            self._rows.clear()


def evaluate_alerts(metrics: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Alert rules over the metrics table — the engine-native analog of the
    reference's Prometheus alert rules (alert-rules.yml:4-11, NodeOutOfMemory
    = "available memory < 5% FOR 1m"): each rule is a boolean SQL expression
    over the per-batch metric columns, firing on every batch where it holds.

    Returns one row per (rule, query, batch) where the rule is firing, with
    the metric columns for triage. The metrics table is O(batches), so this
    evaluates anywhere — over the in-session listener rows or a parquet
    retention table of them.
    """
    from pyspark.sql import functions as F

    out = None
    for name, expr in rules.items():
        firing = (metrics.filter(F.expr(expr))
                  .select(F.lit(name).alias("alert_name"),
                          "query_name", "batch_id",
                          "input_rows", "batch_duration_ms", "state_rows"))
        out = firing if out is None else out.unionByName(firing)
    return out


class collect_streaming_metrics:
    """Context manager: register a StreamingMetrics listener for the block's
    duration and expose it as ``m`` — ``with collect_streaming_metrics(spark)
    as m: ... m.to_df(spark)``."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.metrics = StreamingMetrics()

    def __enter__(self) -> StreamingMetrics:
        self.spark.streams.addListener(self.metrics)
        return self.metrics

    def __exit__(self, *exc) -> None:
        self.spark.streams.removeListener(self.metrics)
