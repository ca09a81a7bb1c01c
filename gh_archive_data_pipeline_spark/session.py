"""SparkSession factory.

Mirrors the capability of the reference's session builder
(/root/reference/pipeline/connectors/spark_context_manager.py:46-73), tuned
for the driver's local[{SPARK_GRAFT_CPUS}] harness but with every knob
expressed the way a multi-executor cluster would want it (AQE, shuffle
partition sizing, Arrow transfers). The reference's MinIO/s3a credential
plumbing is an explicit opt-in through ``confs``, e.g.
``get_spark(confs={"spark.hadoop.fs.s3a.endpoint": ...})``, since the
local harness reads only local parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must be set at session-build time.
BUILD_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # local mode = single JVM: the driver heap carries all executor work;
    # size it to the host (overridable for small containers).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}

# Confs that are runtime-settable and REQUIRED for correctness against the
# fixtures regardless of who built the session (the driver harness builds its
# own). ensure_runtime_confs() is called by every reader in sources.readers.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read the raw int64 and convert in sources.readers.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp semantics matching the DuckDB oracle (naive/NTZ)
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "gh-archive-spark", master: str | None = None,
              confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession suitable for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]`` when the
    env var is unset). On a real cluster the caller passes the cluster master
    URL; nothing else in the engine assumes local mode.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in {**BUILD_CONFS, **RUNTIME_CONFS, **(confs or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine depends on.

    Safe to call on a session the engine did not build (e.g. the driver
    harness's session); every conf in RUNTIME_CONFS is runtime-mutable.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # already-set static conf or restricted — reads will surface it
    return spark
