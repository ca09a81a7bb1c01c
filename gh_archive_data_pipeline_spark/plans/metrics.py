"""Execution introspection — EXPLAIN ANALYZE as a DataFrame.

After an action, every physical operator carries runtime SQL metrics
(rows output, shuffle bytes, spill, scan time). ``plan_metrics`` walks the
executed plan and lands them as queryable rows — the batch complement of
streaming/metrics.py, and the raw material for the regression checks a
perf CI needs ("did shuffle bytes for q05 grow 10×?").

Works on the AQE-final plan, so what you read is what actually ran —
including runtime replans (coalesced partitions, skew splits, demoted
broadcasts).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

METRIC_SCHEMA = ("node_id bigint, node string, metric string, value bigint")


def _walk_metrics(node):
    """Yield ``(node_id, node_name, metric, value)`` for every metric of
    every physical operator under ``node``.

    AQE hides its subtree from children(): AdaptiveSparkPlanExec holds the
    final plan behind executedPlan(), and each QueryStageExec holds its
    stage subtree behind plan(). Without both unwraps, any query with a
    shuffle reports ZERO metrics (the root has none)."""
    name = node.nodeName()
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        yield node.id(), name, kv._1(), kv._2().value()
    cit = node.children().iterator()
    while cit.hasNext():
        yield from _walk_metrics(cit.next())
    unwrap = ("executedPlan" if name == "AdaptiveSparkPlan"
              else "plan" if "QueryStage" in name else None)
    if unwrap:
        try:
            inner = getattr(node, unwrap)()
        except Py4JError:
            return
        yield from _walk_metrics(inner)


def plan_metrics(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Execute ``df`` and return its physical plan's runtime metrics as
    rows (node_id, node, metric, value). Metric values are post-execution
    accumulator totals across all tasks.

    Executes via ``collect()`` on df's OWN QueryExecution — a ``count()``
    would build a separate aggregating plan and leave df's accumulators
    untouched (all zeros)."""
    df.collect()
    rows = list(_walk_metrics(df._jdf.queryExecution().executedPlan()))
    return spark.createDataFrame(rows, METRIC_SCHEMA)


def executed_shuffle_summary(df: DataFrame) -> dict:
    """Host-noise-immune plan fingerprint of an ALREADY-EXECUTED DataFrame.

    Walks ``df``'s executed physical plan (the AQE-final one) and sums the
    accumulators that describe what the plan *did* rather than how long the
    host took to do it:

    - ``shuffle_records`` — rows written across every Exchange. Deterministic
      for a given plan + data (partition-count independent), so a 2× jump is
      a plan regression (lost broadcast, lost partial agg), never contention.
    - ``shuffle_bytes`` — bytes written across every Exchange (post-
      compression, so jitters a few % run-to-run; secondary signal).
    - ``rows_read`` — numOutputRows summed over scan nodes: catches lost
      filter pushdown / partition pruning.

    ``df`` must have been executed via an action on THIS object (its own
    QueryExecution carries the accumulators); calling this on a never-run
    DataFrame returns zeros."""
    totals = {"shuffle_records": 0, "shuffle_bytes": 0, "rows_read": 0}
    for _, name, key, val in _walk_metrics(
            df._jdf.queryExecution().executedPlan()):
        if name == "Exchange" and key == "shuffleRecordsWritten":
            totals["shuffle_records"] += val
        elif name == "Exchange" and key == "shuffleBytesWritten":
            totals["shuffle_bytes"] += val
        elif "Scan" in name and key == "numOutputRows":
            totals["rows_read"] += val
    return totals
