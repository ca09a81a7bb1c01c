"""Multi-dimensional lake layout: Z-order (Morton) interleaving.

Linear sort clusters one column at the cost of every other; bit-interleaving
two sort keys gives files whose min/max ranges are narrow in BOTH columns, so
data skipping prunes on either predicate. This is the Spark-native analog of
Delta/Iceberg `OPTIMIZE ZORDER BY` — we compute the Morton code as a plain
column expression (pure bit arithmetic, whole-stage codegen); a writer
range-partitions and sorts on it (`repartitionByRange(n, "zval")
.sortWithinPartitions("zval")`) to lay the files out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table

ZBITS = 10  # bits per dimension → 20-bit Morton code


def _interleave_sql(x_sql: str, y_sql: str, spark_dialect: bool) -> str:
    """Morton-code SQL: x bits at even positions, y bits at odd. Spark uses
    shiftleft/shiftright functions; DuckDB uses << >> operators."""
    terms = []
    for i in range(ZBITS):
        if spark_dialect:
            terms.append(f"shiftleft(shiftright({x_sql}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y_sql}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x_sql} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y_sql} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_X = f"cast(user_id % {1 << ZBITS} as bigint)"
_Y_SPARK = f"cast((hour(ts) * 60 + minute(ts)) % {1 << ZBITS} as bigint)"
_Y_DUCK = f"cast((datepart('hour', ts) * 60 + datepart('minute', ts)) % {1 << ZBITS} as bigint)"


@register(
    "q131_zorder_layout",
    sql=f"""
    SELECT event_id,
           {_X} AS x_bucket,
           {_Y_DUCK} AS y_bucket,
           {_interleave_sql(_X, _Y_DUCK, spark_dialect=False)} AS zval
    FROM events
    ORDER BY zval, event_id
    LIMIT 200
    """,
)
def q131_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key computation over events (user bucket × minute-of-day):
    the layout key a writer would range-partition and sort by so reads
    filtering on either user or time prune files. Pure bit arithmetic —
    one narrow projection, TakeOrderedAndProject for the preview rows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.expr(_X).alias("x_bucket"),
            F.expr(_Y_SPARK).alias("y_bucket"),
            F.expr(
                _interleave_sql(_X, _Y_SPARK, spark_dialect=True)
            ).alias("zval"),
        )
        .orderBy("zval", "event_id")
        .limit(200)
    )
