"""Skew-handling operators: salting for hot keys (SURVEY.md §4 "100 TB design
levers"). AQE's skew-join handling (enabled in session.BUILD_CONFS) splits
oversized shuffle partitions at runtime; these operators are the *static*
counterpart for the cases AQE can't fix — a skewed aggregation key, or a
skewed join where the hot key's rows exceed one task even after splitting.

Both transforms are semantics-preserving: results are bit-identical to the
unsalted plan (oracle-checked by q74/q75), only the shuffle layout changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..plans.registry import register


def salted_sum_count(df: DataFrame, keys: list[str],
                     value_col: str) -> DataFrame:
    """Two-phase sum/count aggregation with an explicit salt stage.

    Phase 1 shuffles on (keys, salt) — a hot key spreads over 16
    reducers instead of melting one; phase 2 merges the per-salt partials
    on the original keys, a shuffle whose cardinality is |groups|·16, tiny
    by construction. The salt is derived deterministically (xxhash64 of
    ``o_orderkey``), so re-runs produce identical partials.

    Spark's HashAggregate already does map-side partials; salting matters
    when one *reduce* group is still too large — e.g. a single group whose
    per-group state (distinct tracking, collect_list) exceeds an executor.
    """
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col("o_orderkey")),
                                            F.lit(16)))
    partial = (salted.groupBy(*keys, "__salt")
               .agg(F.sum(value_col).alias("__psum"),
                    F.count(F.lit(1)).alias("__pcnt")))
    return (partial.groupBy(*keys)
            .agg(F.sum("__psum").alias("total"),
                 F.sum("__pcnt").alias("n")))


def salted_join(left: DataFrame, right: DataFrame, key: str,
                salt_from: Column | None = None) -> DataFrame:
    """Equi-join with a salted key: the skewed (left) side gets a
    deterministic salt in [0, 8); the small-but-not-broadcastable right side
    is replicated 8 times with every salt value. The join key becomes
    (key, salt), so the hot key's rows land on 8 reducers instead of one.

    Cost model: right side grows S×; use only when right ≪ left and the
    broadcast threshold is out of reach. Output equals the plain join
    exactly — salting never changes semantics, only placement.
    """
    if salt_from is None:
        salt_from = F.monotonically_increasing_id()
    lsalted = left.withColumn("__salt", F.pmod(F.xxhash64(salt_from),
                                               F.lit(8)))
    rsalted = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return lsalted.join(rsalted, [key, "__salt"]).drop("__salt")


@register(
    "q74_salted_agg",
    sql="""
    SELECT o_orderpriority, round(sum(o_totalprice), 2) AS total,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q74_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew lever, oracle-proven semantics-preserving: two-phase salted
    aggregation over a low-cardinality (≤5 groups ⇒ maximally skewed
    reduce) key equals the plain GROUP BY bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    out = salted_sum_count(orders, ["o_orderpriority"], "o_totalprice")
    return out.select("o_orderpriority",
                      F.round("total", 2).alias("total"), "n")


@register(
    "q75_salted_join",
    sql="""
    SELECT n.n_name, count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q75_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew lever #2: customer⋈nation with the 25-row dimension replicated
    across 8 salt buckets — the fallback layout for a dim too big to
    broadcast joined on a hot key. Oracle-checked equal to the plain join."""
    cust = (load_table(spark, sf_dir, "customer")
            .select(F.col("c_nationkey").alias("nationkey"),
                    "c_custkey", "c_acctbal"))
    nation = (load_table(spark, sf_dir, "nation")
              .select(F.col("n_nationkey").alias("nationkey"), "n_name"))
    joined = salted_join(cust, nation, "nationkey",
                         salt_from=F.col("c_custkey"))
    return (joined.groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_acctbal")))
