"""Versioned parquet lake with time-travel reads — the capability slice of
the reference's Delta usage (overwrite + read-back,
/root/reference/pipeline/airflow/dags/load_data_task.py:140-147) done
natively, since the sandbox has no delta jars (see COVERAGE.md S3): every
write lands in an immutable ``v=N`` directory and a tiny JSON manifest is
swapped atomically to publish it. Readers resolve the manifest (or an
explicit version) and read only that directory — writers never mutate
published data, so concurrent readers are consistent without locks.

This is the core MVCC idea Delta/Iceberg implement with transaction logs;
the manifest here is the single-writer simplification (the reference's
Airflow DAG is single-writer per table too). Retention: every version
stays on disk, so time travel reaches any version ever written.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_manifest.json"


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST)


def current_version(path: str) -> int | None:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return int(json.load(f)["version"])


def write_version(df: DataFrame, path: str) -> int:
    """Write ``df`` as the next version of the table and publish it
    atomically. Returns the new version number."""
    prev = current_version(path)
    version = 0 if prev is None else prev + 1
    os.makedirs(path, exist_ok=True)
    vdir = os.path.join(path, f"v={version}")
    df.write.mode("overwrite").parquet(vdir)
    fd, tmp = tempfile.mkstemp(dir=path, prefix=".manifest_")
    with os.fdopen(fd, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, _manifest_path(path))  # atomic publish
    return version


def read_version(spark: SparkSession, path: str,
                 version: int | None = None) -> DataFrame:
    """Read the published version (default) or a specific one (time
    travel). Raises if the requested version was never written."""
    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no published version at {path}")
    vdir = os.path.join(path, f"v={v}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"version {v} not present at {path}")
    return spark.read.parquet(vdir)


def list_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(int(d.split("=", 1)[1]) for d in os.listdir(path)
                  if d.startswith("v="))


def _register_query() -> None:
    from pyspark.sql import functions as F

    from ..plans.registry import register
    from .readers import fixture_memo, load_table, scratch_dir

    # q247's versioned table per fixture state — built once, then
    # time-travel reads serve every repeated invocation
    @fixture_memo("orders")
    def demo_table(spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        path = os.path.join(scratch_dir("versioned_"), "t")
        write_version(orders.filter(F.col("o_orderstatus") == "F"), path)
        write_version(orders, path)
        return path

    @register(
        "q247_time_travel",
        sql="""
        SELECT 0 AS version,
               CAST(count(*) AS BIGINT) AS n_rows,
               false AS is_current
        FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), true FROM orders
        """,
    )
    def q247_time_travel(spark, sf_dir):
        """Versioned-lake time travel as a query: v0 snapshots the filled
        orders, v1 overwrites with ALL orders; reading version 0 after v1
        is published must still see the old snapshot (immutable v-dirs +
        atomic manifest, sources/versioned.py). The oracle recomputes both
        snapshots' counts from the raw table — if time travel leaked the
        overwrite into v0, the version-0 row count would betray it."""
        path = demo_table(spark, sf_dir)
        cur = current_version(path)
        rows = []
        for v in list_versions(path):
            rows.append((v, read_version(spark, path, v).count(), v == cur))
        return spark.createDataFrame(
            rows, "version int, n_rows bigint, is_current boolean")


_register_query()
