"""Structured Streaming surface (SURVEY.md §2.11 T1-T9).

The reference's streaming path (Kafka → Structured Streaming → Delta append
with checkpoint, /root/reference/pipeline/data_ingestion/
spark_structured_datastream.py:56-79) rebuilt with:
- a file-source reader, so the identical transformation graph is
  testable with deterministic landing-zone files;
- real watermarking (the reference disabled watermarks in its abandoned
  Flink path, flink_datastream.py:69);
- a checkpointed, key-idempotent upsert sink (`start_upsert_sink`) and an
  in-memory drain (`run_to_memory`) for the registry's stream queries.

The drain contract, stated once for every stream the package runs:
- **availableNow**: a drain is a bounded catch-up run over what has landed,
  then the query stops — the reference's "periodic cluster instead of
  always-on" cost note (README.md:297);
- **checkpoint**: a foreachBatch drain (`start_foreach_batch`) names its
  checkpoint, so a restarted drain resumes after the last committed batch
  and a re-delivered batch must be idempotent in the batch function;
- **a loud timeout**: `await_drain` stops a drain that has not finished and
  raises `TimeoutError` naming it — a silent partial drain would surface
  downstream as a WRONG result;
- **arrival order by mtime**: the file source orders micro-batches by file
  modification time, so a landing zone is stamped by `stamp_arrival` in the
  order its files must arrive, and read with ``maxFilesPerTrigger=1`` for
  one file per micro-batch.

Scale notes: stream state (windows, dedup sets) lives in the state store,
keyed by group key — the watermark bounds its size; without a watermark,
state grows forever, which is why every stateful helper here requires one.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


# ---------------------------------------------------------------------------
# sources (T1 / S5)
# ---------------------------------------------------------------------------

def read_file_stream(spark: SparkSession, path: str, schema: StructType,
                     fmt: str = "parquet",
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """File source — the deterministic test/harness substitute for Kafka;
    also the production pattern for landing-zone ingestion."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stamp_arrival(files: list[str]) -> None:
    """Stamp landing ``files`` with increasing mtimes in the order given, so
    the file source delivers them as micro-batches in that order."""
    for i, f in enumerate(files):
        os.utime(f, (1_000_000_000 + i, 1_000_000_000 + i))


# ---------------------------------------------------------------------------
# event-time transforms (T4-T7)
# ---------------------------------------------------------------------------

def _event_time(events: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (not TIMESTAMP_NTZ); cast at the operator
    boundary — wall-clock-preserving because the engine pins the session
    timezone to UTC (session.RUNTIME_CONFS)."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def windowed_counts(events: DataFrame, slide: str | None = None) -> DataFrame:
    """T4+T5: per-``event_type`` counts over 1-hour windows of ``ts``
    (sliding by ``slide`` when given), watermarked at 2 hours — the
    streaming twin of the batch q50/q51 plans (same expressions,
    incremental execution)."""
    events = _event_time(events, "ts")
    win = (F.window("ts", "1 hour", slide) if slide
           else F.window("ts", "1 hour"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n_events", "total_value")
    )


def sessionized(events: DataFrame) -> DataFrame:
    """T6: per-``user_id`` session windows (30-minute gap) with merging
    state, watermarked at 0 seconds so a drain emits exactly the sessions
    its final watermark closes (streaming twin of q52)."""
    events = _event_time(events, "ts")
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                 F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("session_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("session_start"),
                "user_id", "n_events", "session_value")
    )


def dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """T7: stateful key dedup bounded by a 2-hour watermark on ``ts`` —
    state for a key is dropped once the watermark passes it, so state size
    tracks the watermark horizon, not the stream length (the
    unbounded-state trap the reference's future-work note points at,
    README.md:303)."""
    events = _event_time(events, "ts")
    return (events.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(keys))


# ---------------------------------------------------------------------------
# sinks / lifecycle (T2, T3, T9)
# ---------------------------------------------------------------------------

def run_to_memory(df: DataFrame, name: str, spark: SparkSession,
                  output_mode: str = "complete") -> DataFrame:
    """Drain a stream into an in-memory table (availableNow) and return the
    result as a batch DataFrame — the deterministic harness used by the
    streaming registry queries and tests.

    The stateful shuffle runs 8 partitions (conf restored after start):
    the partition count is baked into the state store at query start, and
    each partition costs a state-store instance + checkpoint files per
    micro-batch — 32 idle stores tripled the wall time of a 100k-row drain.
    A drain that does not land within 120 s raises (:func:`await_drain`)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (df.writeStream.format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .trigger(availableNow=True)
             .start())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    await_drain(q, 120, name)
    return spark.table(name)


def start_upsert_sink(df: DataFrame, path: str, checkpoint: str,
                      keys: list[str],
                      spark: SparkSession,
                      order_by: list[str] | None = None) -> StreamingQuery:
    """Streaming upsert into a parquet gold table via foreachBatch — the
    MERGE/upsert pattern (reference writes Delta appends; Delta MERGE is the
    managed version of exactly this loop).

    Per micro-batch: batch rows REPLACE existing rows with the same key
    (dedup within the batch keeps the last row per key), everything else is
    carried over into a staged copy, and the copy is swapped in: the table
    is renamed to ``{path}.__prev``, the staged copy is renamed to
    ``path``, and only then is ``__prev`` deleted. A batch first repairs a
    swap a crash interrupted: ``path`` missing beside a ``__prev`` renames
    ``__prev`` back; both present deletes ``__prev``. foreachBatch
    re-delivers the failed batch after a restart, and the merge is
    idempotent on keys, so replays converge — the exactly-once recipe for
    non-transactional sinks. The table stays flat: ``{path}/*.parquet``.
    On S3A a rename is a copy and delete, not atomic, so there a crash can
    also leave a partial ``__prev``; a Delta/Iceberg commit closes that.

    The existing table is read back with the micro-batch's schema (the
    table was written from frames of that schema), so a batch starts no
    schema-inference job over it. Existence checks, deletes and renames go
    through the Hadoop FileSystem of ``path`` (:func:`readers.hadoop_fs`),
    so a ``file://``, ``hdfs://`` or ``s3a://`` sink path works like a
    local one.

    Scale note: this demo rewrites the whole table per batch, which is the
    contract of a parquet-only sink. At 100 TB the same function bodies a
    partition-scoped rewrite (join batch keys → affected partitions →
    rewrite only those) or a Delta/Iceberg MERGE — the streaming plumbing
    (checkpoint, trigger, idempotent batch fn) is unchanged.
    """
    import uuid

    from pyspark.sql import Window

    from ..sources.readers import hadoop_fs

    fs, table = hadoop_fs(spark, path)
    _, prev = hadoop_fs(spark, f"{path}.__prev")

    def rename(src, dst) -> None:
        if not fs.rename(src, dst):
            raise OSError(f"could not rename {src} to {dst}")

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if fs.exists(prev):         # a swap a crash interrupted
            if fs.exists(table):
                fs.delete(prev, True)
            else:
                rename(prev, table)
        # "last write wins": by the caller's event-time columns when given
        # (deterministic across re-reads), else by arrival order.
        order_cols = ([F.col(c).desc() for c in order_by] if order_by
                      else [F.monotonically_increasing_id().desc()])
        w = Window.partitionBy(*keys).orderBy(*order_cols)
        latest = (batch.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        out = latest
        exists = fs.exists(table)
        if exists:
            existing = batch.sparkSession.read.schema(latest.schema).parquet(path)
            kept = existing.join(latest.select(*keys), keys, "left_anti")
            out = kept.unionByName(latest)
        tmp = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(tmp)
        _, staged = hadoop_fs(spark, tmp)
        if exists:
            rename(table, prev)
        rename(staged, table)
        if exists:
            fs.delete(prev, True)

    return start_foreach_batch(df, merge_batch, checkpoint)


def start_foreach_batch(df: DataFrame,
                        fn: Callable[[DataFrame, int], None],
                        checkpoint: str) -> StreamingQuery:
    """Start an availableNow drain of ``df`` that runs ``fn(batch,
    batch_id)`` per micro-batch, checkpointed at ``checkpoint``."""
    return (df.writeStream
            .foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def await_drain(q: StreamingQuery, timeout_s: int, name: str) -> None:
    """Wait for the drain ``q``; on timeout stop it and raise
    ``TimeoutError`` naming ``name``."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain {name!r} did not finish in {timeout_s}s")
