"""Structured Streaming tests: deterministic file sources + availableNow,
checkpointed sinks with exactly-once re-runs, watermark-bounded dedup with
planted duplicates, and the Confluent Avro framing helpers.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.streaming import pipeline as sp
from gh_archive_data_pipeline_spark.streaming.avro_codec import (
    confluent_schema_id,
    encode_confluent_header,
    strip_confluent_header,
)

SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
          "event_type string, value double")


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=minute,
                                                            seconds=second)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Two parquet files with overlapping event ids (planted duplicates)."""
    d = tmp_path_factory.mktemp("stream_in")
    batch1 = [
        (1, _ts(0), 7, "click", 1.0),
        (2, _ts(5), 7, "view", 2.0),
        (3, _ts(10), 8, "click", 3.0),
    ]
    batch2 = [
        (3, _ts(10), 8, "click", 3.0),   # duplicate delivery of id=3
        (4, _ts(40), 7, "purchase", 4.0),
        (5, _ts(62), 8, "view", 5.0),    # next hour
    ]
    spark.createDataFrame(batch1, SCHEMA).coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame(batch2, SCHEMA).coalesce(1).write.parquet(str(d / "f2"))
    return str(d)


def _parquet_sink(df, path, checkpoint):
    """Checkpointed append-mode parquet sink, drained with availableNow."""
    return (df.writeStream.format("parquet").outputMode("append")
            .option("path", path).option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def _read(spark, stream_dir):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType,
    )
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    return sp.read_file_stream(spark, f"{stream_dir}/*/*.parquet", schema)


def test_stream_dedup_drops_planted_duplicate(spark, stream_dir):
    stream = _read(spark, stream_dir)
    deduped = sp.dedup_within_watermark(stream, ["event_id"])
    out = sp.run_to_memory(deduped, "t_dedup", spark, output_mode="append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2, 3, 4, 5]  # id=3 delivered twice, kept once


def test_stream_windowed_counts_match_batch(spark, stream_dir):
    stream = _read(spark, stream_dir)
    windowed = sp.windowed_counts(stream)
    out = sp.run_to_memory(windowed, "t_window", spark, output_mode="complete")
    got = {(r.window_start, r.event_type): r.n_events for r in out.collect()}
    # batch twin on the same files (dups NOT removed — window agg counts both)
    batch = spark.read.parquet(f"{stream_dir}/*/*.parquet")
    expected = {
        (r["w"].start, r.event_type): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"),
                               "event_type")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected and len(got) == 4


def test_sessionized_stream(spark, stream_dir):
    stream = _read(spark, stream_dir)
    sessions = sp.sessionized(stream)
    out = sp.run_to_memory(sessions, "t_sessions", spark, output_mode="complete")
    rows = out.collect()
    # user 7: events at 10:00,10:05 then 10:40 → two sessions (gap > 30m);
    # user 8: 10:10 (+dup) one session, 11:02 another
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[7]) == 2 and len(per_user[8]) == 2


def test_parquet_sink_exactly_once_rerun(spark, stream_dir, tmp_path):
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = _read(spark, stream_dir)
    q = _parquet_sink(stream, out_dir, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    # second run with the same checkpoint: nothing new → no duplicate rows
    q2 = _parquet_sink(_read(spark, stream_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == 6 and n2 == 6


def test_windowed_state_survives_restart(spark, tmp_path):
    """Mid-stream RESTART recovery — a different property from sink
    idempotence (test_parquet_sink_exactly_once_rerun): the first drain
    leaves an OPEN window's partial aggregate in the state store; the query
    is stopped; new files land; the resumed query (same checkpoint) must
    finalize that window from RECOVERED state — the row that feeds it is
    never replayed. Lost state would emit the window with a wrong count or
    not at all. This is the production failure/recovery contract: executors
    die mid-stream and the restarted query continues from the store."""
    import os

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])

    landed = [0]

    def land(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(landing / name))
        # With maxFilesPerTrigger=1 and a 0-second watermark, batch ORDER is
        # load-bearing: the file source picks up files by modification time,
        # and an equal-mtime tie between f1/f2 could deliver them reordered,
        # dropping the earlier batch's rows as late. Stamp each landing with
        # a strictly increasing mtime so pickup order is deterministic.
        landed[0] += 1
        t = 1_700_000_000 + landed[0] * 10
        for f in (landing / name).iterdir():
            os.utime(f, (t, t))

    def drain():
        stream = sp.read_file_stream(spark, f"{landing}/*/*.parquet", schema,
                                     max_files_per_trigger=1)
        agg = (stream
               .withColumn("ts", F.col("ts").cast("timestamp"))
               .withWatermark("ts", "0 seconds")
               .groupBy(F.window("ts", "10 minutes"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("window.start").alias("window_start"), "n"))
        q = _parquet_sink(agg, out, ckpt)
        assert q.awaitTermination(120)

    # run 1: watermark ends at 10:15 -> the 10:00 window finalizes; the
    # 10:10 window (event 3) stays OPEN in the state store
    land("f1", [(1, _ts(0), 7, "click", 1.0), (2, _ts(5), 7, "click", 2.0)])
    land("f2", [(3, _ts(15), 8, "click", 3.0)])
    drain()
    got1 = {(r.window_start.minute, r.n)
            for r in spark.read.parquet(out).collect()}
    assert got1 == {(0, 2)}  # only the closed window; 10:10 still open

    # run 2 (same checkpoint): only NEW files are read; the 10:10 window
    # must finalize with count 1 purely from recovered state
    land("f3", [(4, _ts(30), 7, "click", 4.0), (5, _ts(32), 8, "click", 5.0)])
    land("f4", [(6, _ts(65), 8, "click", 6.0)])
    drain()
    got2 = {(r.window_start.hour, r.window_start.minute, r.n)
            for r in spark.read.parquet(out).collect()}
    assert got2 == {(10, 0, 2), (10, 10, 1), (10, 30, 2)}
    # the 11:00 window (event 6) is still open: watermark == its start
    assert os.path.isdir(ckpt)


def test_confluent_header_roundtrip(spark):
    header = encode_confluent_header(1234)
    assert header == b"\x00\x00\x00\x04\xd2" and len(header) == 5
    body = b"avro-body-bytes"
    df = spark.createDataFrame([(header + body,), (encode_confluent_header(0) + b"x",)],
                               "value binary")
    got = df.select(
        confluent_schema_id(F.col("value")).alias("schema_id"),
        strip_confluent_header(F.col("value")).alias("body"),
    ).collect()
    assert [r.schema_id for r in got] == [1234, 0]
    assert bytes(got[0].body) == body and bytes(got[1].body) == b"x"


def test_confluent_framed_binary_stream_end_to_end(spark, tmp_path):
    """SURVEY §5.3 case 5 (round-3 VERDICT item 5): the Kafka-shaped path
    driven as far as the sandbox allows — a BINARY value column carrying
    Confluent-framed message bodies through a real multi-batch file stream:
    schema-id extraction + header strip (the S6 codec), typed from_json
    body decode (the reference topics carry JSON twins of the Avro bodies;
    from_avro itself is jar-gated here), watermarked tumbling window,
    checkpointed parquet sink — asserting parity with a batch scan of the
    same framed bytes."""
    import json
    import os as _os

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    SCHEMA_ID = 7

    def frame(event_id, minute, user_id, event_type, value):
        body = json.dumps({
            "event_id": event_id, "ts": f"2024-01-01 {10 + minute // 60:02d}:{minute % 60:02d}:00",
            "user_id": user_id, "event_type": event_type, "value": value,
        }).encode()
        return (encode_confluent_header(SCHEMA_ID) + body,)

    def land(name, rows, mtime):
        spark.createDataFrame(rows, "value binary").coalesce(1).write.parquet(
            str(landing / name))
        for f in (landing / name).iterdir():
            _os.utime(f, (mtime, mtime))

    land("f1", [frame(1, 0, 7, "click", 1.0),
                frame(2, 5, 7, "view", 2.0),
                frame(3, 10, 8, "click", 3.0)], 1_700_000_000)
    land("f2", [frame(4, 40, 7, "click", 4.0),
                frame(5, 45, 8, "view", 5.0),
                frame(6, 125, 8, "click", 6.0)], 1_700_000_010)  # hour 12

    from pyspark.sql.types import BinaryType, StructField, StructType

    def decode(df):
        return (df
                .select(confluent_schema_id(F.col("value")).alias("schema_id"),
                        strip_confluent_header(F.col("value"))
                        .cast("string").alias("body"))
                .select("schema_id", F.from_json("body", SCHEMA).alias("e"))
                .select("schema_id", "e.*"))

    stream = sp.read_file_stream(
        spark, f"{landing}/*/*.parquet",
        StructType([StructField("value", BinaryType())]),
        max_files_per_trigger=1)
    windowed = (decode(stream)
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withWatermark("ts", "0 seconds")
                .groupBy(F.window("ts", "1 hour"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("value").alias("total"))
                .select(F.col("window.start").alias("window_start"),
                        "event_type", "n", "total"))
    q = _parquet_sink(windowed, out, ckpt)
    assert q.awaitTermination(120)

    got = {(r.window_start.hour, r.event_type): (r.n, r.total)
           for r in spark.read.parquet(out).collect()}
    # hour-10 windows closed by the hour-12 sentinel (still open, absent)
    batch = decode(spark.read.parquet(f"{landing}/*/*.parquet"))
    assert [r.schema_id for r in batch.collect()] == [SCHEMA_ID] * 6
    expected = {
        (r["w"], r.event_type): (r["n"], r["total"])
        for r in (batch.filter(F.hour("ts") == 10)
                  .groupBy(F.hour("ts").alias("w"), "event_type")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("value").alias("total")).collect())}
    assert got == expected and len(got) == 2


def test_apply_in_pandas_with_state_running_stats(spark, stream_dir):
    from gh_archive_data_pipeline_spark.streaming.stateful import running_user_stats

    stream = _read(spark, stream_dir)
    stats = running_user_stats(stream)
    out = sp.run_to_memory(stats, "t_stateful", spark, output_mode="append")
    rows = [r for r in out.collect() if not r.finalized]
    by_user = {r.user_id: r for r in rows}
    # per-batch emissions: take the final (max n_events) emission per user
    batch = spark.read.parquet(f"{stream_dir}/*/*.parquet")
    expected = {r.user_id: (r.n, r.total, r.mx) for r in batch.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
                     F.max("value").alias("mx")).collect()}
    assert set(by_user) == set(expected)
    for uid, r in by_user.items():
        n, total, mx = expected[uid]
        assert r.n_events == n and r.total_value == pytest.approx(total)
        assert r.max_value == pytest.approx(mx)


def test_watermark_drops_late_rows(spark, tmp_path):
    """T4/T7 late-data semantics: a row arriving behind the committed
    watermark must not resurrect its (already finalized) window. Two
    checkpointed availableNow runs = two micro-batches; the watermark commits
    between them, exactly how an unbounded deployment experiences lateness."""
    src, out, ckpt = tmp_path / "src", str(tmp_path / "out"), str(tmp_path / "ckpt")
    run1 = [
        (1, _ts(0), 7, "click", 1.0),
        (2, _ts(5), 7, "click", 1.0),
        (3, _ts(180), 7, "click", 1.0),   # 13:00 → watermark commits at 11:00
    ]
    spark.createDataFrame(run1, SCHEMA).coalesce(1).write.parquet(str(src / "f1"))

    def drain():
        counts = sp.windowed_counts(_read(spark, str(src)))
        q = _parquet_sink(counts, out, ckpt)
        q.awaitTermination(120)

    drain()
    run2 = [
        (4, _ts(20), 7, "click", 100.0),  # LATE: 10:20 < watermark 11:00
        (5, _ts(300), 7, "click", 1.0),   # fresh row keeps the stream moving
    ]
    spark.createDataFrame(run2, SCHEMA).coalesce(1).write.parquet(str(src / "f2"))
    drain()
    got = spark.read.parquet(out).collect()
    first_window = [r.n_events for r in got
                    if r.window_start == dt.datetime(2024, 1, 1, 10, 0)]
    # emitted exactly once, and without the late row (2 on-time clicks, not 3)
    assert first_window == [2]


def test_streaming_metrics_listener(spark, stream_dir):
    """Observability plane: per-batch progress rows land in the metrics
    DataFrame with consistent input-row and state counts."""
    import time

    from gh_archive_data_pipeline_spark.streaming.metrics import (
        collect_streaming_metrics,
    )

    stream = _read(spark, stream_dir)
    windowed = sp.windowed_counts(stream)
    with collect_streaming_metrics(spark) as m:
        out = sp.run_to_memory(windowed, "t_metrics", spark,
                               output_mode="complete")
        deadline = time.time() + 15
        while time.time() < deadline and not any(
                r[0] == "t_metrics" for r in m._rows):
            time.sleep(0.2)
    rows = m.to_df(spark).filter(F.col("query_name") == "t_metrics").collect()
    assert rows, "no progress events captured"
    assert sum(r.input_rows for r in rows) == 6  # both fixture files drained
    assert all(r.batch_duration_ms >= 0 for r in rows)
    # the windowed agg keeps state: the last data batch reports state rows
    assert max(r.state_rows for r in rows) >= out.count()


def test_upsert_sink_replaces_keys(spark, tmp_path):
    """foreachBatch upsert: re-delivered keys replace, new keys append, and
    a second drain over extended input converges (idempotent merge)."""
    import pyspark.sql.functions as SF

    src = tmp_path / "src"
    gold = str(tmp_path / "gold")
    ck = str(tmp_path / "ck")
    schema = "k long, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1) \
        .write.parquet(str(src / "f1"))
    stream = sp.read_file_stream(spark, f"{src}/*/*.parquet",
                                 spark.createDataFrame([], schema).schema)
    q = sp.start_upsert_sink(stream, gold, ck, keys=["k"], spark=spark)
    q.awaitTermination(60)
    got = {r.k: r.v for r in spark.read.parquet(gold).collect()}
    assert got == {1: "a", 2: "b"}
    # second file: key 2 updated, key 3 new
    spark.createDataFrame([(2, "B"), (3, "c")], schema).coalesce(1) \
        .write.parquet(str(src / "f2"))
    stream = sp.read_file_stream(spark, f"{src}/*/*.parquet",
                                 spark.createDataFrame([], schema).schema)
    q = sp.start_upsert_sink(stream, gold, ck, keys=["k"], spark=spark)
    q.awaitTermination(60)
    got = {r.k: r.v for r in spark.read.parquet(gold).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_sink_on_file_uri(spark, tmp_path):
    """The sink's existence check, delete and rename go through the Hadoop
    FileSystem, so a ``file://`` sink path drains like a local one: the
    second batch replaces key 2 and appends key 3."""
    src = tmp_path / "src"
    gold = (tmp_path / "gold").as_uri()
    ck = str(tmp_path / "ck")
    schema = "k long, v string"
    empty = spark.createDataFrame([], schema).schema
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1) \
        .write.parquet(str(src / "f1"))
    spark.createDataFrame([(2, "B"), (3, "c")], schema).coalesce(1) \
        .write.parquet(str(src / "f2"))
    stream = sp.read_file_stream(spark, f"{src}/*/*.parquet", empty,
                                 max_files_per_trigger=1)
    q = sp.start_upsert_sink(stream, gold, ck, keys=["k"], spark=spark)
    assert q.awaitTermination(60)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 2
    got = {r.k: r.v for r in spark.read.parquet(gold).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_upsert_sink_survives_a_crash_inside_the_swap(spark, tmp_path,
                                                     monkeypatch):
    """A crash between the two renames of the sink's table swap loses no
    row: batch 1 fails right after the table moved aside and before the
    staged copy moved in; the restarted drain replays batch 1 and the sink
    holds every id, batch 0's untouched rows included."""
    from gh_archive_data_pipeline_spark.sources import readers

    src = tmp_path / "src"
    gold, ck = str(tmp_path / "gold"), str(tmp_path / "ck")
    schema = "k long, v string"
    empty = spark.createDataFrame([], schema).schema
    spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema) \
        .coalesce(1).write.parquet(str(src / "f1"))
    q = sp.start_upsert_sink(sp.read_file_stream(
        spark, f"{src}/*/*.parquet", empty), gold, ck, keys=["k"], spark=spark)
    assert q.awaitTermination(60) and q.exception() is None

    class CrashingFS:
        """The sink's FileSystem, failing the staged copy's rename."""

        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def rename(self, src, dst):
            if "__staging_" in src.getName():
                raise OSError("injected crash inside the swap")
            return self.fs.rename(src, dst)

    real = readers.hadoop_fs
    monkeypatch.setattr(readers, "hadoop_fs", lambda spark, path: (
        CrashingFS(real(spark, path)[0]), real(spark, path)[1]))
    spark.createDataFrame([(2, "B")], schema).coalesce(1) \
        .write.parquet(str(src / "f2"))
    q = sp.start_upsert_sink(sp.read_file_stream(
        spark, f"{src}/*/*.parquet", empty), gold, ck, keys=["k"], spark=spark)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(60)                  # batch 1 crashed mid-swap

    monkeypatch.setattr(readers, "hadoop_fs", real)
    q = sp.start_upsert_sink(sp.read_file_stream(
        spark, f"{src}/*/*.parquet", empty), gold, ck, keys=["k"], spark=spark)
    assert q.awaitTermination(60) and q.exception() is None
    got = {r.k: r.v for r in spark.read.parquet(gold).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(f"{gold}.__prev")


def test_rate_source_processing_time_lifecycle(spark):
    """T9 processingTime trigger + the rate source: start a continuous
    micro-batch query, wait for at least one non-empty batch, stop it
    cleanly, and check rows landed with the (timestamp, value) schema."""
    import time

    q = (spark.readStream.format("rate").option("rowsPerSecond", 50).load()
         .writeStream.format("memory").queryName("rate_smoke")
         .outputMode("append")
         .trigger(processingTime="250 milliseconds")
         .start())
    try:
        deadline = time.time() + 30
        while time.time() < deadline and spark.table("rate_smoke").count() == 0:
            time.sleep(0.25)
        n = spark.table("rate_smoke").count()
        assert n > 0, "rate source produced no rows within 30s"
        assert set(spark.table("rate_smoke").columns) == {"timestamp", "value"}
        assert q.isActive
    finally:
        q.stop()
    q.awaitTermination(30)
    assert not q.isActive


def test_stream_stream_left_outer_null_extension(spark, tmp_path):
    """J8 left-outer stream-stream join: matched rows emit immediately;
    an unmatched left row is held in state and emitted NULL-extended only
    once the watermark passes its eviction bound."""
    import pyspark.sql.functions as F

    left_rows = [
        (1, _ts(0), 7),              # no matching right row -> null-extended
        (2, _ts(5), 8),              # matches right id=102
        (3, _ts(120), 9),            # watermark advancer
    ]
    right_rows = [
        (102, _ts(5), 8, 42.0),
        (103, _ts(120), 9, 1.0),
    ]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        left_rows, "click_id long, click_ts timestamp, user_id long"
    ).coalesce(1).write.parquet(ldir)
    spark.createDataFrame(
        right_rows,
        "purchase_id long, purchase_ts timestamp, p_user long, value double",
    ).coalesce(1).write.parquet(rdir)

    lschema = spark.read.parquet(ldir).schema
    rschema = spark.read.parquet(rdir).schema
    left = (spark.readStream.schema(lschema).parquet(ldir)
            .withWatermark("click_ts", "10 minutes"))
    right = (spark.readStream.schema(rschema).parquet(rdir)
             .withWatermark("purchase_ts", "10 minutes"))
    joined = left.join(
        right,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id", "value")
    out = sp.run_to_memory(joined, "ss_left_outer", spark,
                           output_mode="append")
    rows = {r.click_id: r for r in out.collect()}
    assert rows[2].purchase_id == 102 and rows[2].value == 42.0
    assert rows[1].purchase_id is None and rows[1].value is None


def test_drop_duplicates_within_watermark(spark, stream_dir):
    """T7 via the dedicated API: dropDuplicatesWithinWatermark keeps one row
    per key and — unlike plain dropDuplicates — EVICTS key state once the
    watermark passes, so the state store is bounded on unbounded streams."""
    stream = (_read(spark, stream_dir)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "30 minutes")
              .dropDuplicatesWithinWatermark(["event_id"]))
    out = sp.run_to_memory(stream.select("event_id", "value"),
                           "ddww_out", spark, output_mode="append")
    ids = [r.event_id for r in out.collect()]
    assert sorted(ids) == [1, 2, 3, 4, 5]      # planted dup of id=3 dropped
    assert len(ids) == len(set(ids))


def test_observe_metrics_on_batch(spark):
    """The df.observe() API: accumulator-style metrics piggyback on a real
    action with no extra pass — the lightweight data-quality hook the
    streaming metrics listener complements."""
    from pyspark.sql import Observation

    obs = Observation("quality")
    df = (spark.range(1000)
          .withColumn("v", F.col("id") % 10)
          .observe(obs, F.count(F.lit(1)).alias("rows"),
                   F.sum(F.col("v")).alias("v_sum")))
    assert df.count() == 1000
    assert obs.get["rows"] == 1000
    assert obs.get["v_sum"] == 4500


def _has_protobuf() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _has_protobuf(), reason=(
    "transformWithStateInPandas needs the python protobuf package for its "
    "state-server protocol; not installed in this container and installs are "
    "forbidden (verified: driver worker crashes with ImportError from "
    "google.protobuf). applyInPandasWithState covers T8 arbitrary state."))
def test_transform_with_state_in_pandas(spark, stream_dir):
    """T8 via the Spark 4 transformWithStateInPandas API (successor to
    applyInPandasWithState): ValueState-backed running per-user totals on
    the RocksDB state store, drained with availableNow and checked against
    the batch aggregate of the same files."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = (self._state.get() if self._state.exists()
                        else (0, 0.0))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [total]})

        def close(self) -> None:
            pass

    before = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                            None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try:
        stream = _read(spark, stream_dir).select("user_id", "value")
        out = stream.groupBy("user_id").transformWithStateInPandas(
            RunningStats(),
            outputStructType="user_id long, n bigint, total double",
            outputMode="Append",
            timeMode="None",
        )
        got = sp.run_to_memory(out, "tws_out", spark, output_mode="append")
        # availableNow over the fixture = one batch -> one emission per user
        # carrying the final running totals (duplicate id=3 is NOT deduped
        # here; TWS is raw arbitrary state).
        rows = {r.user_id: r for r in got.collect()}
        batch = {r.user_id: r for r in
                 spark.read.parquet(f"{stream_dir}/*/*.parquet")
                 .groupBy("user_id")
                 .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
                 .collect()}
        assert set(rows) == set(batch)
        for uid, b in batch.items():
            assert rows[uid].n == b.n and rows[uid].total == b.total
    finally:
        if before is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", before)


def test_alert_rules_planted_slow_batch(spark):
    """evaluate_alerts over a planted metrics table: every slow batch fires
    SlowBatch, and rules union."""
    from gh_archive_data_pipeline_spark.streaming.metrics import (
        METRICS_SCHEMA, evaluate_alerts,
    )

    def row(q, b, dur):
        return (q, "qid", b, 100, 10.0, 10.0, dur, 5, 1024)

    metrics = spark.createDataFrame(
        [row("qa", 0, 100), row("qa", 1, 9000), row("qa", 2, 9500),
         row("qa", 3, 120), row("qb", 0, 9999), row("qb", 1, 80)],
        METRICS_SCHEMA)
    fired = evaluate_alerts(
        metrics, {"SlowBatch": "batch_duration_ms > 5000"}).collect()
    assert {(r.query_name, r.batch_id) for r in fired} == {
        ("qa", 1), ("qa", 2), ("qb", 0)}
    # multiple rules union; impossible rule contributes nothing
    both = evaluate_alerts(metrics, {
        "SlowBatch": "batch_duration_ms > 5000",
        "StateBlowup": "state_rows > 1000000",
    }).collect()
    assert {r.alert_name for r in both} == {"SlowBatch"}


def test_stream_alert_rules_query_end_to_end(spark):
    """q357 drains a real 4-batch stream and the NonEmptyBatch rule fires
    once per micro-batch with the batch's input rows; SlowBatch never."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    out = (all_queries()["q357_stream_alert_rules"]
           .fn(spark, "/root/testdata/sf0.001").collect())
    assert [r.alert_name for r in out] == ["NonEmptyBatch"] * 4
    assert sorted(r.batch_id for r in out) == [0, 1, 2, 3]
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert sum(r.input_rows for r in out) == ev.count()


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """Windowed stateful aggregation under the RocksDB state-store provider
    (the production choice for large state: bounded heap, incremental
    checkpoints) must produce the identical result set as the default
    HDFS-backed store. Provider is a per-query conf via the checkpoint's
    runtime conf scope."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    spark.range(1000).selectExpr(
        "timestamp_micros(CAST(1700000000000000 + id * 60000000 AS LONG)) AS ts",
        "CAST(id % 7 AS STRING) AS k",
        "CAST(id AS DOUBLE) AS v").write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    def drain(provider: str | None, name: str):
        old = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                             None)
        if provider:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                           provider)
        try:
            stream = spark.readStream.schema(schema).parquet(str(src))
            agg = (stream.withWatermark("ts", "2 hours")
                   .groupBy(F.window("ts", "1 hour"), "k")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.round(F.sum("v"), 2).alias("s")))
            q = (agg.writeStream.format("memory").queryName(name)
                 .outputMode("complete")
                 .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
            return {tuple(r) for r in spark.sql(
                f"SELECT window.start, k, n, s FROM {name}").collect()}
        finally:
            if provider:
                if old is None:
                    spark.conf.unset(
                        "spark.sql.streaming.stateStore.providerClass")
                else:
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.providerClass", old)

    rocks = drain(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider", "rocks_drain")
    default = drain(None, "default_drain")
    assert rocks == default
    assert len(rocks) > 0


def test_avro_binary_codec_golden_vectors_and_round_trip():
    """The pure-Python Avro body codec against the encoding spec's own
    zigzag-varint examples (Avro 1.12 spec, 'Binary Encoding' §): one wrong
    shift direction would still round-trip internally, so golden vectors
    are the cross-implementation pin."""
    import struct

    from gh_archive_data_pipeline_spark.streaming.avro_codec import (
        _read_varint, _zigzag_varint, decode_event_body, encode_event_body)

    # spec table: value -> hex
    golden = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03", 2: b"\x04",
              -64: b"\x7f", 64: b"\x80\x01", -65: b"\x81\x01"}
    for n, want in golden.items():
        assert _zigzag_varint(n) == want, n
        assert _read_varint(want, 0) == (n, len(want))
    # field order + layout: long, long, string(len+utf8), double(8 LE), string
    body = encode_event_body(1, -1, "ab", 2.5, "{}")
    assert body == (b"\x02" + b"\x01" + b"\x04ab"
                    + struct.pack("<d", 2.5) + b"\x04{}")
    assert decode_event_body(body) == (1, -1, "ab", 2.5, "{}")
    # utf-8 multibyte strings measure BYTE length, not characters
    body = encode_event_body(0, 0, "é", 0.0, "中")
    assert decode_event_body(body) == (0, 0, "é", 0.0, "中")
