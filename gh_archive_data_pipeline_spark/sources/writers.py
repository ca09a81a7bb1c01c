"""Writers — the reference's sink surface (SURVEY.md §2.2) rebuilt:

- K1/K5 partitioned parquet lake writes (Delta-optional)
- K3/K4 JDBC warehouse writes with bulk-load options
- K2 checkpointed streaming upsert sink (see streaming.pipeline)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None) -> None:
    """Lake write: overwrite ``path`` with ``df`` as parquet, optionally
    partitioned (reference Delta overwrite, load_data_task.py:140-145).
    ``maxRecordsPerFile`` is fixed at 5,000,000 so one partition cannot
    produce a multi-GB file at scale."""
    writer = df.write.mode("overwrite").option("maxRecordsPerFile", 5_000_000)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_delta(df: DataFrame, path: str, mode: str = "overwrite",
                overwrite_schema: bool = False) -> None:
    """Delta write when delta-spark jars are on the classpath (reference
    load_data_task.py:140-145); raises a clear error otherwise — the engine
    core deliberately depends only on parquet."""
    writer = df.write.format("delta").mode(mode)
    if overwrite_schema:
        writer = writer.option("overwriteSchema", "true")
    try:
        writer.save(path)
    except Exception as exc:  # pragma: no cover - jar-dependent
        raise RuntimeError(
            "Delta writer requires the delta-spark jars on the classpath; "
            "use write_parquet for the jar-free path"
        ) from exc


def jdbc_write_options(url: str, table: str,
                       isolation_level: str = "NONE",
                       batchsize: int = 10_000,
                       properties: dict[str, str] | None = None
                       ) -> dict[str, str]:
    """The exact option dict :func:`write_jdbc` hands the JDBC data source —
    factored pure so the warehouse-load contract is unit-testable in a
    sandbox with no database (the writer itself needs a live server; the
    options it would send do not). Caller ``properties`` layer on top but
    may not silently override the bulk-load keys — a property that changes
    ``isolationLevel``/``batchsize`` semantics must be passed through the
    named parameters where it's visible."""
    opts = {
        "url": url,
        "dbtable": table,
        # reference parity: isolationLevel=NONE bulk-load tuning
        # (load_data_task.py:199)
        "isolationLevel": isolation_level,
        "batchsize": str(batchsize),
    }
    for k, v in (properties or {}).items():
        if k in ("url", "dbtable", "isolationLevel", "batchsize"):
            raise ValueError(
                f"pass {k!r} via the named parameter, not properties")
        opts[k] = str(v)
    return opts


def jdbc_ddl_types(spark, url: str, schema) -> dict[str, str]:
    """Database column type per field — the CREATE TABLE DDL the JDBC
    writer would issue for ``schema`` against ``url``'s dialect, resolved
    through Spark's own JdbcDialect (dialect override first, common JDBC
    fallback second — the same lookup JdbcUtils.schemaString performs).
    Lets a deployment review/pin the warehouse DDL without a server:
    e.g. Postgres maps string→TEXT, double→FLOAT8,
    timestamp→TIMESTAMP WITH TIME ZONE."""
    jvm = spark._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    jdbc_utils = jvm.org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    out = {}
    for field in schema.fields:
        jdt = jvm.org.apache.spark.sql.types.DataType.fromJson(
            field.dataType.json())
        opt = dialect.getJDBCType(jdt)
        if not opt.isDefined():
            opt = jdbc_utils.getCommonJDBCType(jdt)
        if not opt.isDefined():
            raise ValueError(
                f"no JDBC type for column {field.name}: {field.dataType}")
        out[field.name] = opt.get().databaseTypeDefinition()
    return out


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               properties: dict[str, str] | None = None,
               isolation_level: str = "NONE",
               batchsize: int = 10_000,
               num_partitions: int | None = None) -> None:
    """Warehouse write (reference load_data_task.py:193-236). Keeps the
    reference's isolationLevel=NONE bulk-load tuning; numPartitions bounds
    concurrent connections — mandatory when 1000 executors each hold a
    JDBC connection. Options are built by :func:`jdbc_write_options` (the
    unit-tested contract); only the final ``save()`` needs a live server."""
    if num_partitions:
        df = df.coalesce(num_partitions)
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_write_options(url, table, isolation_level,
                                   batchsize, properties).items():
        writer = writer.option(k, v)
    writer.save()


