"""The on-disk layout of a materialized index directory, shared by the
MinHash signature index (``operators/dedup.py``) and the IVF and SRP
vector indexes (``operators/similarity.py``). Every plane reads and writes
its index's metadata, generations and deletes through this module.

Layout under ``index_dir``:

- ``params``: one row holding the build's parameters. A probe or append
  called with other parameters is refused (:func:`check_params`), since a
  mismatched configuration would silently match nothing.
- ``<table>/ingest=<id>/<part>=<v>``: one generation per write. The build
  writes ``ingest=base``; each append writes its own ``ingest=<id>``
  (:func:`write_generation`) and OVERWRITES only that directory, so a
  retried batch (at-least-once delivery) replaces its own rows instead of
  duplicating them. Readers see ``ingest`` as a partition column they do
  not select.
- ``tombstones/delete=<uuid>``: one partition per :func:`delete` call,
  each with the one canonical column ``id`` (bigint), whatever the
  plane's own id column is called. Readers anti-join the union of all
  partitions out of their scans (:func:`live`); no index file moves.

A build (:func:`begin_build`) first deletes the index's own sub-trees:
``params``, ``tombstones`` and every table it is about to write. A build
over a used directory therefore gives the index a build into an empty one
gives: no earlier ingest generation or tombstone survives it, and a fresh
build is how a deleted id comes back. Anything else under ``index_dir`` is
left alone. The clear-then-write is not transactional (a Delta or Iceberg
table would make the swap atomic).

Paths go through the Hadoop FileSystem (:func:`readers.hadoop_fs`), so an
``hdfs://`` or ``s3a://`` index directory is cleared and probed like a
local one.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .readers import collect_parquet, hadoop_fs, read_parquet

BASE = "base"  # the build's own generation


def begin_build(spark: SparkSession, index_dir: str, tables,
                params: dict | None) -> None:
    """Start a build: delete ``params``, ``tombstones`` and each of
    ``tables`` under ``index_dir``, then write ``params`` as the one
    params row (ints as ``int``, strings as ``string``; ``None`` writes
    no row).

    The row is built in the JVM, as literals over a one-row
    ``spark.range``, so its write is a one-task job that starts no Python
    worker. A ``createDataFrame`` from a Python list plans a
    ``LogicalRDD`` whose write does start one: 2.3-2.5 s cold for one
    row on a 4-core host."""
    for sub in ("params", "tombstones", *tables):
        fs, path = hadoop_fs(spark, f"{index_dir}/{sub}")
        if fs.exists(path):
            fs.delete(path, True)
    if params is None:
        return
    (spark.range(1, numPartitions=1)
     .select(*[F.lit(v).cast("string" if isinstance(v, str) else "int")
               .alias(k) for k, v in params.items()])
     .write.mode("overwrite").parquet(f"{index_dir}/params"))


def check_params(spark: SparkSession, index_dir: str, *read: str,
                 **expected) -> tuple:
    """Refuse an index built with parameters other than ``expected``, and
    return the values of the ``read`` parameters in order. The row is
    collected once per ``params`` file state (:func:`collect_parquet`), so
    a repeated probe starts no job here and a rebuilt index is read again.
    A row without one of the named parameters comes from an older layout:
    that raises too, asking for a rebuild."""
    row = collect_parquet(spark, f"{index_dir}/params")[0].asDict()
    missing = [k for k in (*read, *expected) if k not in row]
    if missing:
        raise ValueError(
            f"index at {index_dir} has no {', '.join(missing)} parameter "
            "(an older layout); rebuild the index")
    built = tuple(row[k] for k in expected)
    got = tuple(expected.values())
    if got != built:
        raise ValueError(
            f"index at {index_dir} was built with ({', '.join(expected)})="
            f"{built}, called with {got}")
    return tuple(row[k] for k in read)


def check_ingest_id(ingest_id: str) -> None:
    """An append's generation id: 'base' would OVERWRITE the build's own
    generation; '/' or '=' produce broken partition paths; an empty or
    whitespace-only id writes a bare ``ingest=`` directory, an ambiguous
    partition value some readers surface as empty-string, which corrupts
    ingest=='base' generation splits (q386)."""
    if (not ingest_id.strip() or ingest_id == BASE
            or "/" in ingest_id or "=" in ingest_id):
        raise ValueError(f"invalid ingest_id: {ingest_id!r}")


def write_generation(df: DataFrame, index_dir: str, table: str,
                     ingest_id: str | None, part_col: str | None) -> None:
    """Overwrite the generation ``<table>/ingest=<ingest_id>`` with ``df``,
    partitioned by ``part_col`` when given. ``ingest_id=None`` writes the
    build's own ``ingest=base``; any other id is an append's and is
    checked first (:func:`check_ingest_id`). The caller shapes ``df``
    (e.g. a repartition on ``part_col`` for one file per partition)."""
    if ingest_id is None:
        ingest_id = BASE
    else:
        check_ingest_id(ingest_id)
    w = df.write.mode("overwrite")
    if part_col is not None:
        w = w.partitionBy(part_col)
    w.parquet(f"{index_dir}/{table}/ingest={ingest_id}")


def delete(spark: SparkSession, index_dir: str, ids: DataFrame,
           id_col: str) -> str:
    """Tombstone-delete ``ids[id_col]`` from the index at ``index_dir``:
    the removal plane a corpus needs to honor a takedown or an erasure
    request without rewriting the standing index synchronously.

    O(|delete|): the distinct ids land as one new ``tombstones/delete=<uuid>``
    partition with the canonical column ``id``; no index file moves.
    Every read through :func:`live` (the MinHash probe's band and shingle
    scans, the IVF and SRP searches' candidate scans) drops them. A
    tombstone suppresses the id entirely, so re-ingesting a deleted id
    needs a fresh build first (delete-then-append is not an update path).

    The partition name is a fresh uuid, not a dense counter: two
    concurrent deletes that both computed the same ``delete=<n>`` would
    overwrite each other and silently lose one caller's erasures. Readers
    discover partitions by listing. Returns the partition name."""
    name = f"delete={uuid.uuid4().hex}"
    (ids.select(F.col(id_col).cast("long").alias("id")).distinct()
     .write.mode("overwrite").parquet(f"{index_dir}/tombstones/{name}"))
    return name


def live(spark: SparkSession, index_dir: str, df: DataFrame,
         id_col: str) -> DataFrame:
    """``df`` without the rows whose ``id_col`` the index has tombstoned:
    a broadcast anti-join against every ``delete=`` partition (a backlog
    big enough to strain the broadcast calls for a fresh build over the
    survivors). With no tombstones ``df`` comes back unchanged; the
    existence check is a file-system call and starts no job."""
    fs, path = hadoop_fs(spark, f"{index_dir}/tombstones")
    if not fs.exists(path):
        return df
    tomb = read_parquet(spark, f"{index_dir}/tombstones")
    return df.join(F.broadcast(tomb.select(F.col("id").alias(id_col))),
                   id_col, "left_anti")
