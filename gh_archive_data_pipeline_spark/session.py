"""SparkSession factory.

Mirrors the capability of the reference's session builder
(/root/reference/pipeline/connectors/spark_context_manager.py:46-73), tuned
for a local[cores] harness sized to the host but with every knob
expressed the way a multi-executor cluster would want it (AQE, shuffle
partition sizing, Arrow transfers). The reference's MinIO/s3a credential
plumbing is an explicit opt-in through ``confs``, e.g.
``get_spark(confs={"spark.hadoop.fs.s3a.endpoint": ...})``, since the
local harness reads only local parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that must be set at session-build time (host_confs adds the two
# sized to the host).
BUILD_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
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


def host_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of CPUs this process may run
    on (its affinity mask, which a container's cpuset narrows)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def host_confs() -> dict[str, str]:
    """Build-time confs sized to this host: one shuffle partition per core
    (the core count the default master uses), and a driver heap of
    min(48g, 3/4 of physical memory) — local mode is one JVM, so the driver
    heap carries all executor work, and the last quarter stays for the
    Python workers and the OS. ``$SPARK_GRAFT_DRIVER_MEM`` overrides the
    heap for a deployment."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "spark.sql.shuffle.partitions": str(host_cores()),
        "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                                or f"{min(48 * 1024, phys_mb * 3 // 4)}m"),
    }


def get_spark(app_name: str = "gh-archive-spark", master: str | None = None,
              confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession suitable for the engine.

    ``master`` defaults to ``local[host_cores()]``. On a real cluster the
    caller passes the cluster master URL; nothing else in the engine assumes
    local mode.
    """
    if master is None:
        master = f"local[{host_cores()}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in {**host_confs(), **BUILD_CONFS, **RUNTIME_CONFS,
                       **(confs or {})}.items():
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
