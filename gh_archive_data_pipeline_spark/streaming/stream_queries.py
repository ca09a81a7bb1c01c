"""Registry queries that execute REAL Structured Streaming and return the
drained result as a batch DataFrame — so each query's DuckDB oracle pins
streaming semantics, not just the batch twins in batch_equivalents.

Every query lands, runs and times out through the helpers of
``streaming/pipeline.py`` (whose docstring states the drain contract):
landing zones are ordered by ``stamp_arrival`` and read by
``read_file_stream``; aggregations drain through ``run_to_memory``, and
per-batch side-effect loops through ``start_foreach_batch`` (or
``start_upsert_sink``) then ``await_drain``.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..session import ensure_runtime_confs
from ..sources.readers import fixture_memo, scratch_dir
from .pipeline import (await_drain, read_file_stream, run_to_memory,
                       sessionized, stamp_arrival, start_foreach_batch,
                       windowed_counts)

_counter = itertools.count()


@fixture_memo("events")
def _stream_source(spark: SparkSession, sf_dir: str,
                   n_files: int) -> tuple[str, "object"]:
    """(source dir, schema) of the events stream split into ``n_files``;
    built once per fixture state so repeated registry/bench invocations
    neither grow /tmp nor re-list the parquet footer."""
    import glob
    import os

    path = f"{sf_dir}/events.parquet"
    stream_dir = scratch_dir("events_stream_")
    raw0 = spark.read.parquet(path)
    if n_files <= 1:
        os.symlink(path, os.path.join(stream_dir, "events.parquet"))
    else:
        (raw0.repartitionByRange(n_files, "ts")
         .sortWithinPartitions("ts")
         .write.mode("overwrite").parquet(stream_dir))
        # range partition k = k-th time slice: name order is event-time order
        stamp_arrival(sorted(glob.glob(f"{stream_dir}/part-*")))
    return stream_dir, raw0.schema


def _events_stream(spark: SparkSession, sf_dir: str,
                   n_files: int = 1) -> DataFrame:
    """Stream the events fixture through the file source, applying the same
    nanos→timestamp normalization as the batch loader.

    ``n_files=1`` symlinks the single fixture file (zero-copy) → one
    micro-batch. ``n_files>1`` rewrites the fixture ONCE per (sf_dir, n)
    into n time-RANGE-partitioned files landed in event-time order, so a
    drain executes n real micro-batches in that order — watermarks advance
    between batches and state genuinely carries across them. Time-ordered
    splits are what make this safe: a later batch never contains rows
    behind the watermark, so nothing is dropped and results equal the
    single-batch run. Queries whose OUTPUT contract is per-batch (q76's
    applyInPandasWithState emissions) must keep n_files=1."""
    ensure_runtime_confs(spark)
    stream_dir, schema = _stream_source(spark, sf_dir, n_files)
    raw = read_file_stream(
        spark, stream_dir, schema,
        max_files_per_trigger=1 if n_files > 1 else None)
    if dict(raw.dtypes).get("ts") == "bigint":
        # nanos-int64 fixture generation: convert like the batch loader
        raw = raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return raw


def prepare_stream_fixtures(spark: SparkSession, sf_dir: str) -> None:
    """Pre-build the time-range-split stream source directories for a
    fixture dir (idempotent: each split is built once per fixture state).

    The split is SOURCE-LAYOUT preparation, not query work: it simulates a
    landing zone that already holds n time-ordered files (a real Kafka topic
    or ingest directory arrives pre-batched). bench.py calls this during
    warmup so the first streaming query measured isn't charged the one-time
    fixture rewrite that every later streaming query then gets for free —
    the per-query numbers stay comparable to each other and to the
    single-batch r01 baseline."""
    for n in (1, 4):
        _events_stream(spark, sf_dir, n_files=n)


@register(
    "q59_stream_tumbling_window",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q59_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T4/T5 executed for real: file-source stream → watermarked tumbling
    window agg → availableNow drain (4 time-ordered micro-batches, so
    window state accumulates across real batch boundaries) → memory sink.
    Oracle-checked against plain SQL — streaming and batch must agree on
    every window."""
    stream = _events_stream(spark, sf_dir, n_files=4)
    windowed = windowed_counts(stream)
    name = f"stream_tumbling_{next(_counter)}"
    out = run_to_memory(windowed, name, spark, output_mode="complete")
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type", "n_events", "total_value",
    )


@register(
    "q60_stream_dedup",
    sql="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def q60_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 executed for real: stateful dropDuplicatesWithinWatermark on the
    event id. Fixture ids are unique, so the oracle is the identity set —
    the planted-duplicate semantics are pinned in test_streaming.py."""
    from .pipeline import dedup_within_watermark

    stream = _events_stream(spark, sf_dir, n_files=4)
    deduped = dedup_within_watermark(stream, ["event_id"])
    name = f"stream_dedup_{next(_counter)}"
    out = run_to_memory(deduped.select("event_id", "user_id", "event_type"),
                        name, spark, output_mode="append")
    return out


@register(
    "q72_stream_stream_join",
    sql="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id,
           round(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q72_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 stream-stream join executed for real: click→purchase attribution
    within a 1-hour window. Both sides are watermarked and the join carries a
    time-range condition, so state for rows older than watermark+range is
    evicted — the shape that runs unbounded. availableNow drain makes the
    result deterministic and oracle-checkable against the batch join."""
    # Watermarks require TIMESTAMP (not NTZ); the cast is safe here because
    # the join predicate only compares ts *differences* and no timestamp
    # column reaches the output.
    clicks = (_events_stream(spark, sf_dir)
              .filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id"),
                      F.col("ts").cast("timestamp").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (_events_stream(spark, sf_dir)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user_id"),
                         F.col("value"),
                         F.col("ts").cast("timestamp").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    name = f"stream_stream_join_{next(_counter)}"
    out = run_to_memory(
        joined.select("click_id", "purchase_id", "user_id",
                      F.round("value", 2).alias("purchase_value")),
        name, spark, output_mode="append")
    return out


@register(
    "q76_stream_stateful_stats",
    sql="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q76_stream_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 executed for real: applyInPandasWithState running per-user stats.
    The fixture is one file → one micro-batch → exactly one (non-finalized)
    emission per user, which the batch GROUP BY oracle pins exactly — the
    multi-batch accumulate/evict lifecycle is pinned in test_streaming.py."""
    from .stateful import running_user_stats

    stream = _events_stream(spark, sf_dir)
    stats = running_user_stats(stream)
    name = f"stream_stateful_{next(_counter)}"
    out = run_to_memory(stats, name, spark, output_mode="append")
    return (out.filter(~F.col("finalized"))
            .select("user_id", "n_events",
                    F.round("total_value", 2).alias("total_value"),
                    F.round("max_value", 2).alias("max_value")))


@register(
    "q78_stream_sliding_window",
    sql="""
    WITH starts AS (
      SELECT ts, value,
             time_bucket(INTERVAL '30 minutes', ts) AS b
      FROM events WHERE event_type = 'purchase'
    ),
    expanded AS (
      SELECT CASE WHEN i = 0 THEN b ELSE b - INTERVAL 30 MINUTE END AS window_start,
             value
      FROM starts CROSS JOIN (SELECT unnest([0, 1]) AS i)
    )
    SELECT window_start, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM expanded GROUP BY window_start
    """,
)
def q78_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 sliding windows executed for real: 1-hour windows sliding every 30
    minutes over the purchase stream. Each event lands in exactly 2 windows;
    the oracle expands event→2 window starts and aggregates — streaming and
    batch must agree on every overlapping window."""
    stream = _events_stream(spark, sf_dir, n_files=4).filter(
        F.col("event_type") == "purchase")
    windowed = windowed_counts(stream, slide="30 minutes")
    name = f"stream_sliding_{next(_counter)}"
    out = run_to_memory(windowed, name, spark, output_mode="complete")
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "n_events", "total_value")


@register("q83_stream_metrics", sql=None)
def q83_stream_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability plane (reference's Prometheus scrape, done natively):
    drain a real windowed-agg stream with a StreamingQueryListener attached
    and return the per-micro-batch metrics rows (input rows, rows/sec, batch
    duration, state size) as a DataFrame. Rows-only driver check — wall-clock
    rates aren't oracle-reproducible; row/batch/state-count invariants are
    pinned in tests/test_streaming.py."""
    import time

    from .metrics import collect_streaming_metrics

    stream = _events_stream(spark, sf_dir)
    windowed = windowed_counts(stream)
    name = f"stream_metrics_{next(_counter)}"
    with collect_streaming_metrics(spark) as m:
        run_to_memory(windowed, name, spark, output_mode="complete")
        # listener events are delivered async on the listener bus; wait for
        # the drain's progress rows to land (bounded)
        deadline = time.time() + 15
        while time.time() < deadline:
            if any(r[0] == name for r in m._rows):
                break
            time.sleep(0.2)
    return (m.to_df(spark)
            .filter(F.col("query_name") == name)
            .select("query_name", "batch_id", "input_rows",
                    "batch_duration_ms", "state_rows"))


@register("q357_stream_alert_rules", sql=None)
def q357_stream_alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-rule evaluation over the streaming metrics plane (reference
    NodeOutOfMemory analog, alert-rules.yml:4-11): drain a real 4-batch
    windowed stream with the metrics listener attached, then run two rules
    through evaluate_alerts — NonEmptyBatch (input_rows > 0; fires on every
    micro-batch, pinning the alert path end-to-end with a deterministic row
    count) and SlowBatch (batch_duration_ms > 1h; structurally never fires
    here). Rows-only driver check — batch durations are wall-clock; the
    planted-slow-batch semantics are pinned in tests/test_streaming.py."""
    import time

    from .metrics import collect_streaming_metrics, evaluate_alerts

    stream = _events_stream(spark, sf_dir, n_files=4)
    windowed = windowed_counts(stream)
    name = f"stream_alerts_{next(_counter)}"
    with collect_streaming_metrics(spark) as m:
        run_to_memory(windowed, name, spark, output_mode="complete")
        deadline = time.time() + 15
        while time.time() < deadline:
            if sum(1 for r in m._rows if r[0] == name) >= 4:
                break
            time.sleep(0.2)
    metrics = m.to_df(spark).filter(F.col("query_name") == name)
    return (evaluate_alerts(metrics, {
        "NonEmptyBatch": "input_rows > 0",
        "SlowBatch": "batch_duration_ms > 3600000",
    }).select("alert_name", "batch_id", "input_rows")
        .orderBy("alert_name", "batch_id"))


@register(
    "q152_stream_chained_windows",
    sql="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    w5 AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS w5_epoch,
               count(*) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(floor(w5_epoch / 3600) * 3600 AS BIGINT) AS hour_epoch,
           CAST(max(c) AS BIGINT) AS max_5min_count
    FROM w5, mx
    GROUP BY 1, 2, mx.m
    HAVING hour_epoch + 3600 <= floor(epoch(mx.m))
    """,
)
def q152_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming (Spark 4 multiple-stateful-operator
    support): 5-minute tumbling counts feed a second windowed aggregation
    (hourly max of the 5-minute counts) inside ONE streaming query, linked
    by window_time() as the downstream event-time column. Append mode +
    0-second watermark: every window whose end precedes the final watermark
    (= max event time) is emitted; the oracle applies the same cutoff, so
    the trailing partial hour is excluded on both sides."""
    ev = (_events_stream(spark, sf_dir, n_files=4)
          .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
          .withWatermark("ts", "0 seconds"))
    w5 = (ev.groupBy(F.window("ts", "5 minutes"), "event_type")
          .agg(F.count(F.lit(1)).alias("c"))
          .select("event_type", F.window_time("window").alias("ts5"), "c"))
    hourly = (w5.groupBy(F.window("ts5", "1 hour"), "event_type")
              .agg(F.max("c").cast("bigint").alias("max_5min_count"))
              .select(
                  "event_type",
                  F.unix_timestamp(F.col("window.start")).cast("bigint")
                  .alias("hour_epoch"),
                  "max_5min_count"))
    name = f"chained_windows_{next(_counter)}"
    return run_to_memory(hourly, name, spark, output_mode="append")


# q195's gold table + checkpoint, one per fixture state: the foreachBatch
# upsert is idempotent on keys and the checkpoint makes re-drains no-ops, so
# one work dir per fixture serves every repeated registry/bench invocation.
@fixture_memo("events")
def _upsert_work_dir(spark: SparkSession, sf_dir: str) -> str:
    return scratch_dir("stream_upsert_")


@register(
    "q195_stream_upsert",
    sql="""
    SELECT user_id,
           event_id   AS last_event_id,
           event_type AS last_event_type,
           round(value, 2) AS last_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q195_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert executed for real: the event stream drains
    through start_upsert_sink's foreachBatch loop into a parquet gold table
    keyed on user_id, last-write-wins by (ts, event_id). The oracle is the
    batch argmax — the final table must equal "latest event per user"
    exactly. Checkpoint + idempotent merge make repeated invocations
    converge to the same table (the exactly-once recipe for
    non-transactional sinks)."""
    import os

    from .pipeline import start_upsert_sink

    stream = _events_stream(spark, sf_dir, n_files=4)
    work = _upsert_work_dir(spark, sf_dir)
    gold = os.path.join(work, "gold")
    q = start_upsert_sink(stream, gold, os.path.join(work, "ck"),
                          keys=["user_id"], spark=spark,
                          order_by=["ts", "event_id"])
    await_drain(q, 120, "q195_stream_upsert")
    # the sink writes frames of the stream's schema: read back with it
    return (spark.read.schema(stream.schema).parquet(gold)
            .select("user_id",
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.round("value", 2).alias("last_value")))


@register(
    "q201_stream_sessions",
    sql="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    ordered AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_id
        FROM ordered
    )
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS session_value
    FROM sessions CROSS JOIN mx
    GROUP BY user_id, session_id, mx.m
    HAVING max(ts) + INTERVAL '30 minutes' < mx.m
    """,
)
def q201_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 session windows executed as a REAL stream (q52 is the batch twin):
    session_window(30 min) per user with a 0-second watermark, append-mode
    drain — only sessions whose window end (last event + gap) precedes the
    final watermark (= max event time) are emitted as finalized. The
    gaps-and-islands oracle applies the same cutoff, so streaming session
    merging must agree with first-principles sessionization exactly."""
    sessions = sessionized(_events_stream(spark, sf_dir, n_files=4))
    name = f"stream_sessions_{next(_counter)}"
    return run_to_memory(
        sessions.select("user_id", "session_start", "n_events",
                        "session_value"),
        name, spark, output_mode="append")


@register(
    "q258_stream_stateful_multibatch",
    sql="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q258_stream_stateful_multibatch(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """T8's applyInPandasWithState driven through FOUR real micro-batches
    (q76 is the single-batch form): per-user state accumulates across batch
    boundaries, each batch emits a running snapshot, and the LAST snapshot
    per user (largest n_events; monotone by construction) must equal the
    batch GROUP BY — proving the custom stateful operator's state survives
    and composes across genuine micro-batches, which a single-batch drain
    cannot show. Watermark finalization may also evict keys whose last
    event precedes the final watermark by the session gap; finalized rows
    carry the same totals, so the argmax covers both paths."""
    from pyspark.sql import Window

    from .stateful import running_user_stats

    stream = _events_stream(spark, sf_dir, n_files=4)
    stats = running_user_stats(stream)
    name = f"stream_stateful_mb_{next(_counter)}"
    out = run_to_memory(stats, name, spark, output_mode="append")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"),
                                             F.desc("finalized"))
    return (out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events",
                    F.round("total_value", 2).alias("total_value"),
                    F.round("max_value", 2).alias("max_value")))


def _q379_oracle() -> str:
    # literally the SAME oracle as q376 — the streaming loop's contract is
    # that it converges to the one-shot incremental result
    from ..operators.dedup import _q376_oracle

    return _q376_oracle()


@register("q379_stream_incremental_dedup", sql=_q379_oracle())
def q379_stream_incremental_dedup(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """CONTINUOUS-INGEST dedup: the delta (doc_id % 10 == 0) arrives as a
    real file-source stream in 4 micro-batches; each batch runs
    ``incremental_near_dup`` against the standing MinHash index inside
    ``foreachBatch``, then APPENDS itself to the index
    (``minhash_index_append``) — probe-then-append, so every batch dedups
    against the corpus AND all earlier batches, and the index it leaves
    behind is the up-to-date standing corpus. The union of emitted pairs is
    order-independent (a delta-delta pair is emitted exactly once, by
    whichever side streams in later) and equals q376's one-shot incremental
    result — hence the SAME full-fidelity portable-hash oracle. This is the
    operational loop a 100 TB ingest pipeline runs on every landing batch;
    checkpoint + per-batch-keyed overwrites make the recipe restartable
    (foreachBatch is at-least-once, so a retried batch REPLACES its own
    pairs partition and its own ``ingest=<batch>`` index partition instead
    of duplicating rows)."""
    import glob
    import shutil

    from ..operators.dedup import (_cached_minhash_index,
                                   incremental_near_dup,
                                   minhash_index_append)
    from ..sources.readers import load_table

    ensure_runtime_confs(spark)
    # per-call private copy of the standing-corpus index: the run MUTATES
    # its index (that's the point), so repeated invocations each start from
    # the pristine corpus-only state
    idx = scratch_dir("mh_stream_idx_")
    shutil.rmtree(idx)
    shutil.copytree(_cached_minhash_index(spark, sf_dir), idx)

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    # landing zone: 4 doc_id-range files -> 4 real micro-batches in a
    # deterministic order (order only affects WHICH batch emits a
    # cross-batch pair, not the final set)
    land = scratch_dir("mh_stream_land_")
    (delta.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.mode("overwrite").parquet(land))
    stamp_arrival(sorted(glob.glob(f"{land}/part-*")))

    out = scratch_dir("mh_stream_pairs_")
    ckpt = scratch_dir("mh_stream_ckpt_")
    stream = read_file_stream(spark, land, docs.schema,
                              max_files_per_trigger=1)

    def probe_then_append(batch: DataFrame, batch_id: int) -> None:
        pairs = incremental_near_dup(spark, idx, batch)
        pairs.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        minhash_index_append(spark, idx, batch, ingest_id=f"b{batch_id}")

    await_drain(start_foreach_batch(stream, probe_then_append, ckpt), 180,
                "q379_stream_incremental_dedup")
    return spark.read.parquet(out).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# q396 — Confluent-framed Avro decode driven through a real stream (S6)
# ---------------------------------------------------------------------------

_AVRO_SCHEMA_ID = 7


# one framed-binary landing zone per fixture state (repeated registry/bench
# invocations must not grow /tmp or re-encode the fixture every call)
@fixture_memo("events")
def _avro_events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Encode the events fixture into Confluent-framed Avro-binary messages
    (magic 0x00 + big-endian schema id + Avro body — the reference
    producer's wire format, produce_fake_data.py:88-118) and land them as
    4 time-ordered parquet files of a single ``value binary`` column: the
    landing zone a Kafka topic dump would be."""
    import glob

    from pyspark.sql.types import BinaryType

    from ..sources.readers import load_table
    from .avro_codec import encode_confluent_header, encode_event_body

    header = encode_confluent_header(_AVRO_SCHEMA_ID)

    @F.pandas_udf(BinaryType())
    def frame(eid: pd.Series, uid: pd.Series, et: pd.Series,
              val: pd.Series, pr: pd.Series) -> pd.Series:
        return pd.Series([
            header + encode_event_body(int(a), int(b), c, float(d), e)
            for a, b, c, d, e in zip(eid, uid, et, val, pr)])

    events = load_table(spark, sf_dir, "events")
    land = scratch_dir("avro_stream_")
    (events.repartitionByRange(4, "ts").sortWithinPartitions("ts")
     .select(frame("event_id", "user_id", "event_type",
                   "value", "props").alias("value"))
     .write.mode("overwrite").parquet(land))
    stamp_arrival(sorted(glob.glob(f"{land}/part-*")))
    return land


@register(
    "q396_stream_avro_decode",
    sql=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST({_AVRO_SCHEMA_ID} AS BIGINT) AS max_schema_id,
           substr(md5(string_agg(
               event_id || '|' || user_id || '|' ||
               CAST(floor(value * 100 + 0.5) AS BIGINT) || '|' || props,
               '#' ORDER BY event_id)), 1, 16) AS digest
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q396_stream_avro_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 executed for real: the events fixture is encoded into
    Confluent-framed Avro-binary messages (the reference topics' wire
    format), landed as four time-ordered files, and drained through an
    availableNow stream that extracts the schema id from the 5-byte header
    with pure JVM expressions (confluent_schema_id / strip_confluent_header)
    and decodes the Avro body with the pure-Python binary codec in an
    Arrow-batched pandas UDF (the spark-avro jar is absent here). The
    oracle computes the same per-type counts, id sums and a field digest
    from the PLAIN table — framing and body codec are deterministic, so
    encode∘decode must be the identity on every field of every row for the
    hash to match. Floats ride
    the digest as exact floor-cents (registry convention). At 100 TB the
    decode is embarrassingly parallel — one Arrow-batched projection per
    partition, no shuffle until the final per-type aggregate.

    Scale note: per-row Python varint walking is the declared cost of a
    jar-less Avro decode (q389's honest-Python-kernel contract); with the
    spark-avro package on the classpath the same query could decode fully
    JVM-side with ``from_avro``."""
    from pyspark.sql.types import (BinaryType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    from .avro_codec import (confluent_schema_id, decode_event_body,
                             strip_confluent_header)

    body_schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])

    @F.pandas_udf(body_schema)
    def decode(body: pd.Series) -> pd.DataFrame:
        rows = [decode_event_body(bytes(b)) for b in body]
        return pd.DataFrame(rows, columns=["event_id", "user_id",
                                           "event_type", "value", "props"])

    land = _avro_events_stream_dir(spark, sf_dir)
    raw = read_file_stream(
        spark, land,
        StructType([StructField("value", BinaryType())]),
        max_files_per_trigger=1)
    decoded = raw.select(
        confluent_schema_id(F.col("value")).alias("schema_id"),
        decode(strip_confluent_header(F.col("value"))).alias("r"),
    ).select("schema_id", "r.*")
    name = f"stream_avro_{next(_counter)}"
    out = run_to_memory(decoded, name, spark, output_mode="append")
    payload = F.concat_ws(
        "|", F.col("event_id"), F.col("user_id"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"),
        F.col("props"))
    return (out.select("schema_id", "event_type", "event_id", "user_id",
                       payload.alias("payload"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum("event_id").cast("bigint").alias("sum_event_id"),
                 F.max("schema_id").cast("bigint").alias("max_schema_id"),
                 F.substring(F.md5(F.concat_ws("#", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("event_id", "payload"))),
                     lambda s: s["payload"]))), 1, 16).alias("digest"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# q407 — train offline, score online: the quality probe over a real stream
# ---------------------------------------------------------------------------

# documents landing zone: 4 doc_id-bucket files -> 4 real micro-batches;
# built once per fixture state
@fixture_memo("documents")
def _docs_stream_dir(spark: SparkSession,
                     sf_dir: str) -> tuple[str, "object"]:
    """(landing dir, schema) of the documents stream."""
    import glob
    import os
    import shutil

    from ..sources.readers import load_table

    n_files = 4
    land = scratch_dir("docs_stream_")
    docs = load_table(spark, sf_dir, "documents")
    # EXPLICIT batch key (doc_id % n), not repartitionByRange: the
    # oracle must know which rows share a micro-batch without depending
    # on data-valued range boundaries
    files = [f"{land}/bucket{k}.parquet" for k in range(n_files)]
    for k, dst in enumerate(files):
        tmp = f"{land}/_b{k}"
        (docs.filter(F.col("doc_id") % n_files == k).coalesce(1)
         .write.mode("overwrite").parquet(tmp))
        part = glob.glob(f"{tmp}/part-*")[0]
        os.replace(part, dst)
        shutil.rmtree(tmp)
    stamp_arrival(files)
    return land, docs.schema


def _q407_oracle() -> str:
    from ..operators.classifier import _probe_train_ctes, _z_sql

    return f"""
    WITH {_probe_train_ctes()}
    SELECT CAST(y AS INTEGER) AS label,
           CAST(pred AS INTEGER) AS pred,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(pm)::DOUBLE / 1000000.0 / count(*), 6) AS avg_p,
           CAST(count(DISTINCT bucket) AS BIGINT) AS n_batches
    FROM (SELECT y, CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred,
                 CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS pm, bucket
          FROM (SELECT f.y, f.doc_id % 4 AS bucket,
                       1.0 / (1.0 + exp(-{_z_sql()})) AS p
                FROM feats f, r16 r))
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register("q407_stream_quality_scoring", sql=_q407_oracle())
def q407_stream_quality_scoring(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Train offline, score online: the q401 probe's weights (one cached
    training per fixture) applied INSIDE a real 4-micro-batch document
    stream. Each foreachBatch computes the scan-side logit and appends its
    batch's per-(label, pred) counts and fixed-point probability sums to a
    batch-keyed parquet partition (overwrite-by-batch: retry-idempotent,
    the q379 convention); the final frame merges batches exactly (integer
    sums), so the result equals the one-shot batch scoring — and the
    oracle replays training plus the per-row floor(p*1e6 + 0.5)
    quantization that makes cross-batch merging bit-exact. n_batches
    counts the distinct micro-batches that contributed to each confusion
    cell, pinning the multi-batch structure itself (batch k = doc_id % 4
    == k by the landing zone's construction)."""
    from ..operators.classifier import (_cached_probe, _z_expr,
                                        quality_features)

    ensure_runtime_confs(spark)
    w, b = _cached_probe(spark, sf_dir)
    land, schema = _docs_stream_dir(spark, sf_dir)

    out = scratch_dir("probe_stream_out_")
    ckpt = scratch_dir("probe_stream_ckpt_")

    def score_batch(batch, batch_id: int) -> None:
        feats = quality_features(batch)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_expr(w, b)))
        pm = F.floor(p * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
        (feats.select(F.col("y").cast("int").alias("label"),
                      (p >= 0.5).cast("int").alias("pred"),
                      pm.alias("pm"))
         .groupBy("label", "pred")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("pm").cast("bigint").alias("spm"))
         .write.mode("overwrite").parquet(f"{out}/batch={batch_id}"))

    stream = read_file_stream(spark, land, schema, max_files_per_trigger=1)
    await_drain(start_foreach_batch(stream, score_batch, ckpt), 180,
                "q407_stream_quality_scoring")
    res = spark.read.parquet(out)
    return (res.groupBy("label", "pred")
            .agg(F.sum("n").cast("bigint").alias("n"),
                 F.round(F.sum("spm").cast("double") / F.lit(1000000.0)
                         / F.sum("n"), 6).alias("avg_p"),
                 F.countDistinct("batch").cast("bigint").alias("n_batches"))
            .orderBy("label", "pred"))


def _q422_oracle() -> str:
    from ..operators.dedup import (BLOOM_HASHES, BLOOM_M, EVAL_DOCS,
                                   _decon_shingle_sql)

    return f"""
    WITH ev AS ({_decon_shingle_sql('(SELECT * FROM documents WHERE doc_id < '
                                    + str(EVAL_DOCS) + ')')}),
    tr AS ({_decon_shingle_sql('(SELECT * FROM documents WHERE doc_id >= '
                               + str(EVAL_DOCS) + ')')}),
    evh AS (SELECT DISTINCT h1, h2 FROM ev),
    bits AS (
      SELECT DISTINCT (h1 + i * h2) % {BLOOM_M} AS pos
      FROM evh, LATERAL (SELECT unnest(range(0, {BLOOM_HASHES})) AS i) t),
    probe_pos AS (
      SELECT doc_id, h1, h2, (h1 + i * h2) % {BLOOM_M} AS pos
      FROM tr, LATERAL (SELECT unnest(range(0, {BLOOM_HASHES})) AS i) t),
    hits AS (
      SELECT p.doc_id, p.h1, p.h2,
             CAST(count(b.pos) = {BLOOM_HASHES} AS INT) AS bloom_hit
      FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.doc_id, p.h1, p.h2),
    perdoc AS (
      SELECT doc_id, count(*) AS n_sh, sum(bloom_hit) AS hits
      FROM hits GROUP BY doc_id)
    SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sh) AS BIGINT) AS n_shingles,
           CAST(sum(hits) AS BIGINT) AS bloom_hits,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS contaminated_docs
    FROM perdoc GROUP BY 1 ORDER BY 1
    """


# q422's filter ships to the stream as a bitmap literal (q415's scan-side
# probe). It depends only on the fixture, so it is built once per fixture
# state, before any drain, and a warm call collects no set-bit table
@fixture_memo("documents")
def _eval_bloom_hit_sql(spark: SparkSession, sf_dir: str) -> str:
    """Bloom-hit SQL expression over (h1, h2) for the eval slice's filter."""
    from ..operators.dedup import (EVAL_DOCS, _bloom_hit_sql,
                                   _bloom_positions_h, bloom_bitmap,
                                   decon_shingle_hashes)
    from ..sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    bits = (decon_shingle_hashes(docs.filter(F.col("doc_id") < EVAL_DOCS))
            .select(F.explode(_bloom_positions_h(F.col("h1"), F.col("h2")))
                    .alias("pos"))
            .distinct())
    return _bloom_hit_sql(bloom_bitmap(bits))


@register("q422_stream_bloom_decontamination", sql=_q422_oracle())
def q422_stream_bloom_decontamination(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Online decontamination: q415's Bloom filter (built ONCE, offline,
    from the eval set's shingle hashes — a <=m-row broadcastable set-bit
    table) probed INSIDE a real 4-micro-batch document stream. Each
    foreachBatch hashes its arriving docs' shingles scan-side (q415's
    int-pair convention — shingle text never crosses a shuffle), probes
    the static filter (stream-static broadcast join — the filter never
    rebuilds), rolls up per-bucket contamination counts, and appends a
    batch-keyed parquet partition (overwrite-by-batch, retry-idempotent —
    the q379 convention); the final merge is exact integer sums, so the
    drained result equals the one-shot batch probe and the oracle replays
    filter + probe + rollup bit-for-bit. This is the ingest-time shape: a
    benchmark suite's filter ships to every executor once and each
    arriving shard pays one scan."""
    from ..operators.dedup import EVAL_DOCS, decon_shingle_hashes

    ensure_runtime_confs(spark)
    hit_sql = _eval_bloom_hit_sql(spark, sf_dir)
    land, schema = _docs_stream_dir(spark, sf_dir)
    out = scratch_dir("bloom_stream_out_")
    ckpt = scratch_dir("bloom_stream_ckpt_")

    def probe_batch(batch, batch_id: int) -> None:
        tr = decon_shingle_hashes(batch.filter(F.col("doc_id") >= EVAL_DOCS))
        # tr is distinct per (doc_id, h1, h2), so the per-shingle hit is a
        # row-local bitmap test and ONE map-side-combinable per-doc rollup
        # remains
        perdoc = (tr.withColumn("bloom_hit",
                                F.expr(hit_sql).cast("int"))
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_sh"),
                       F.sum("bloom_hit").alias("hits")))
        (perdoc.groupBy((F.col("doc_id") % 4).cast("bigint").alias("bucket"))
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum("n_sh").cast("bigint").alias("n_shingles"),
              F.sum("hits").cast("bigint").alias("bloom_hits"),
              F.sum((F.col("hits") > 0).cast("int")).cast("bigint")
              .alias("contaminated_docs"))
         .write.mode("overwrite").parquet(f"{out}/batch={batch_id}"))

    stream = read_file_stream(spark, land, schema, max_files_per_trigger=1)
    await_drain(start_foreach_batch(stream, probe_batch, ckpt), 180,
                "q422_stream_bloom_decontamination")
    res = spark.read.parquet(out)
    return (res.groupBy("bucket")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"),
                 F.sum("n_shingles").cast("bigint").alias("n_shingles"),
                 F.sum("bloom_hits").cast("bigint").alias("bloom_hits"),
                 F.sum("contaminated_docs").cast("bigint")
                 .alias("contaminated_docs"))
            .orderBy("bucket"))
