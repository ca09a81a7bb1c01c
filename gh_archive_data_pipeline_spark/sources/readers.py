"""Readers over the engine's batch sources.

Covers the reference's scan surface (SURVEY.md §2.1):
- S2 JSON-with-explicit-schema (/root/reference/pipeline/airflow/dags/load_data_task.py:117-121)
- S3/S4 parquet lake scan (data_profiling.py:41)
plus the fixture loader used by every registry query.

Scale notes: all readers return lazily-planned DataFrames; filters/projections
applied by callers push down to the parquet scan through Catalyst (verified
via .explain → PushedFilters/ReadSchema). No data touches the driver.

Schema memo: a bare ``spark.read.parquet`` runs one Spark job per call to
infer the schema from the files' footers (~65 ms of driver time per read on
a small fixture, the largest per-call cost of a sub-second query).
:func:`read_parquet` — behind :func:`load_table` and every engine-artifact
read (index params, bands, shingles, codebooks, deletes) — infers once
per ``(path, source_stamp(path), spark.sql.legacy.parquet.nanosAsLong)``
and hands the schema back on later reads, the role a metastore plays for a
query engine. A rewritten or appended path changes its stamp and infers
again; files are still listed on every read, so a new partition is seen.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..pipeline.schema import CREATED_AT_FORMAT
from ..session import ensure_runtime_confs

# Fixture tables the driver pre-registers as DuckDB views (TESTDATA.md).
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")


def source_stamp(src: str, spark: SparkSession | None = None) -> float:
    """Freshness fingerprint of a source path (file or directory): the
    newest mtime of the path and its direct children, so a regenerated
    file, a rewritten table or an added/removed partition directory changes
    it. A local path is stat'ed directly; any other scheme (``hdfs://``,
    ``s3a://``) resolves through :func:`hadoop_fs`, which needs ``spark``.
    (An object store that reports no directory mtimes still sees a
    rewritten table through its new files' times.)"""
    url = urlparse(src)
    if url.scheme in ("", "file"):
        local = url.path if url.scheme else src
        stamps = [os.path.getmtime(local)]
        if os.path.isdir(local):
            stamps += [os.path.getmtime(os.path.join(local, f))
                       for f in os.listdir(local)]
        return max(stamps)
    fs, path = hadoop_fs(spark, src)
    st = fs.getFileStatus(path)
    stamps = [st.getModificationTime()]
    if st.isDirectory():
        stamps += [c.getModificationTime() for c in fs.listStatus(path)]
    return max(stamps) / 1000.0


def fixture_memo(table: str):
    """Decorator: build ``fn(spark, sf_dir, *extra)`` once per fixture
    state. The key is ``(sf_dir, source_stamp(<sf_dir>/<table>.parquet),
    *extra)``, so a regenerated fixture rebuilds instead of serving stale
    data. Every trained artifact and materialized index a registry query
    amortizes across invocations goes through this."""
    def deco(fn):
        cache: dict[tuple, object] = {}

        @functools.wraps(fn)
        def memo(spark: SparkSession, sf_dir: str, *extra):
            key = (sf_dir,
                   source_stamp(os.path.join(sf_dir, f"{table}.parquet"),
                                spark),
                   *extra)
            if key not in cache:
                cache[key] = fn(spark, sf_dir, *extra)
            return cache[key]

        return memo

    return deco


def scratch_dir(prefix: str) -> str:
    """A fresh local temp directory, removed when the interpreter exits."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` resolved through the JVM Hadoop API.

    ``os.path``/``shutil`` silently no-op on ``hdfs://`` / ``s3a://`` URIs —
    the deployments the materialized-index docstrings advertise — which
    would leave exactly the stale generations a rebuild claims to clear.
    Every existence check / recursive delete / rename on an index directory
    goes through this instead; for a plain local path the resolved FS is
    the local filesystem, so fixture behavior is unchanged."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# (path, source_stamp(path), nanosAsLong) -> the schema Spark inferred there
_SCHEMAS: dict[tuple, StructType] = {}
# (path, source_stamp(path), nanosAsLong) -> a small table's collected rows
_ROWS: dict[tuple, list] = {}


def _stamp_key(spark: SparkSession, path: str) -> tuple:
    """Memo key of a parquet read, taken after ``ensure_runtime_confs`` so
    the driver harness's plain session keys (and infers) exactly what the
    engine's own session does. nanosAsLong is part of the key because it
    changes the inferred type of a TIMESTAMP(NANOS) column."""
    ensure_runtime_confs(spark)
    return (path, source_stamp(path, spark),
            spark.conf.get(NANOS_AS_LONG, None))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job after
    the first read of a given file state (module docstring: the memo key).
    A partitioned directory's memoized schema carries its discovered
    partition columns with their inferred types (``bkt int``, ``ingest
    string``); Spark still lists the files on every read, so a partition
    appended since the first read is scanned."""
    key = _stamp_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def collect_parquet(spark: SparkSession, path: str) -> list:
    """The rows of a small parquet table (an index's one-row ``params``),
    collected once per file state on the same key as :func:`read_parquet`:
    a probe that checks its index's build parameters on every call starts
    no job, and a rebuilt index is read again."""
    key = _stamp_key(spark, path)
    if key not in _ROWS:
        _ROWS[key] = read_parquet(spark, path).collect()
    return _ROWS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical-encoding quirks.

    The scan goes through :func:`read_parquet`, so only the first read of
    a fixture file (per ``source_stamp`` and nanosAsLong setting) runs a
    schema-inference job; later reads of the unchanged file plan with the
    memoized schema and start no job before the caller's action.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (read as raw int64 via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain TIMESTAMP(MICROS)
    (read natively as timestamp_ntz). Either way callers get both:
      - ``ts``     timestamp_ntz (micros, matching DuckDB's read of the file)
      - ``ts_ns``  int64 nanos (exact event-time arithmetic without
                   interval types; also what a 100 TB layout would sort by)
    """
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        if dict(df.dtypes).get("ts") == "bigint":
            df = (
                df.withColumn("ts_ns", F.col("ts"))
                  .withColumn(
                      "ts",
                      F.timestamp_micros(F.expr("ts div 1000"))
                      .cast("timestamp_ntz"),
                  )
            )
        else:
            # Session tz is UTC (RUNTIME_CONFS), so ntz→timestamp keeps the
            # underlying micros unchanged.
            df = df.withColumn(
                "ts_ns",
                (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
                .cast("bigint"),
            )
    return df


def plan_size_bytes(df: DataFrame) -> int:
    """Optimizer-estimated size of ``df`` in bytes (plan statistics — no
    job). On any introspection failure returns ``sys.maxsize`` so callers
    treat the input as LARGE (the scale-safe default)."""
    import sys

    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return sys.maxsize


def scan_parallel(df: DataFrame) -> DataFrame:
    """Small-file parallelism gate, the one copy every scan-side compute
    site uses: when the scan has fewer partitions than the cluster has
    slots, round-robin repartition so downstream SCAN-SIDE compute
    (MinHash shingling and signatures, SRP hashing, md5 token vectors,
    bootstrap hashing, feature extraction, HOF vector math) uses every
    core instead of one.

    A single-row-group parquet file — the shape of every local fixture
    table — is unsplittable, so the scan and EVERYTHING until the first
    exchange otherwise run in ONE task (measured: the whole q419 scoring
    chain single-threaded on local[32]). Cluster scans have many splits,
    so ``getNumPartitions() >= defaultParallelism`` holds and this
    shuffle never happens at scale — the gate is input-layout-adaptive,
    not core-count-tuned, where an unconditional repartition would
    shuffle the entire (filtered) input. Use it ONLY where per-row
    compute dominates the scan: for scans feeding a plain aggregation
    the extra exchange of full-width rows costs more than the
    single-task partial agg.

    Round-robin placement (deterministic under Spark's
    sort-before-repartition) only moves rows between tasks; callers'
    results must not depend on row placement — true for every consumer
    here (per-row projections followed by key-grouped exact aggregates)."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def read_json_with_schema(spark: SparkSession, path: str, schema: StructType,
                          multi_line: bool = False) -> DataFrame:
    """JSON-lines scan with an explicit schema — no inference pass;
    TIMESTAMP_NTZ fields parse with the GH Archive ``created_at`` format.

    Parity with the reference's silver load
    (/root/reference/pipeline/airflow/dags/load_data_task.py:117-121); Spark
    reads ``.json.gz`` transparently so the same call serves the gz archive
    files at scale (one task per file — pair with a repartition after read
    since gzip is not splittable).
    """
    ensure_runtime_confs(spark)
    reader = (spark.read.schema(schema)
              .option("timestampNTZFormat", CREATED_AT_FORMAT))
    if multi_line:
        # Pretty-printed JSON (one object across many lines — the shape of
        # the reference's checked-in sample hour) parses only in multiLine
        # mode; note multiLine makes each FILE one task, so it's for small
        # sample/config payloads, never the bulk ingest path.
        reader = reader.option("multiLine", "true")
    return reader.json(path)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Raw-asset ingest (images/audio/video files → the lake's binary
    columns): Spark's ``binaryFile`` source yields one row per file —
    (path, modificationTime, length, content) — with directory-partition
    discovery, so a date-partitioned asset drop reads with partition
    pruning like any table. ``glob`` filters at FILE LISTING time
    (pathGlobFilter — unmatched files cost zero I/O, not a post-filter).
    Task sizing: file-to-partition packing is governed by the SESSION
    conf ``spark.sql.files.maxPartitionBytes`` (a reader .option of that
    name is silently ignored — verified), so size that conf for the asset
    mix before the action. The multimodal operators
    (operators/multimodal.py) consume exactly this shape: content stays
    an opaque binary column and never crosses a shuffle — extract
    features first, then aggregate."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
