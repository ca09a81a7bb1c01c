"""Window-function catalog (SURVEY.md §2.7, W1-W4).

The reference has no window functions; its analytics endpoints (Trino/
Postgres) imply them. All four families here, each with a total-order
tie-break so results are engine-portable.

Scale note: a window over PARTITION BY k shuffles once on k and sorts within
partitions — same cost envelope as a groupBy on k. The dangerous shape is a
window with no PARTITION BY (single-partition sort); q22 is the only one and
is bounded to the orders table on purpose (rank over a global metric is a
driver-choice query, not a fact-table query, at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q19 — ranking: top-3 parts per brand (W1)
# --------------------------------------------------------------------------
@register(
    "q19_top_parts_per_brand",
    sql="""
    SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice, rn
    FROM (SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey) AS rn
          FROM part) t
    WHERE rn <= 3
    """,
)
def q19_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 row_number. Catalyst rewrites rn<=k filters over row_number into a
    WindowGroupLimit (top-k per group without materializing full ranks)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey",
                F.round("p_retailprice", 2).alias("p_retailprice"), "rn")
    )


# --------------------------------------------------------------------------
# q20 — lag/lead: inter-event gaps per user (W2)
# --------------------------------------------------------------------------
@register(
    "q20_event_gaps",
    sql="""
    SELECT user_id, event_id,
           CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS BIGINT) AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q20_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 lag/lead. Event-time arithmetic runs on the raw int64 nanos column
    (ts_ns, see sources.readers) ÷ 1000 → exact integer micros, no interval
    or float rounding on either engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("ts_ns div 1000")
    return ev.select(
        "user_id", "event_id",
        (us - F.lag(us).over(w)).cast("bigint").alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --------------------------------------------------------------------------
# q21 — frames: running totals and moving averages (W3)
# --------------------------------------------------------------------------
@register(
    "q21_running_totals",
    sql="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg3
    FROM events
    """,
)
def q21_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 frames: cumulative sum + 3-row moving average, one sorted window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .alias("running_value"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg3"),
    )


# --------------------------------------------------------------------------
# q22 — ntile / percent_rank / cume_dist (W4)
# --------------------------------------------------------------------------
@register(
    "q22_order_quartiles",
    sql="""
    SELECT o_orderkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def q22_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 distribution functions over a global order. Global window = single
    partition; acceptable for a driver-choice ranking, never for a fact scan
    (documented limit; use partitioned ranks at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# --------------------------------------------------------------------------
# q97 — gaps-and-islands (activity streaks)
# --------------------------------------------------------------------------
@register(
    "q97_activity_streaks",
    sql="""
    WITH d AS (
      SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS h
      FROM events
    ),
    g AS (
      SELECT user_id, h,
             h - row_number() OVER (PARTITION BY user_id ORDER BY h)
                 * INTERVAL 1 HOUR AS grp
      FROM d
    )
    SELECT user_id,
           min(h) AS streak_start,
           count(*) AS streak_hours
    FROM g GROUP BY user_id, grp
    HAVING count(*) >= 3
    """,
)
def q97_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active hours per user
    (the row_number-difference trick — a constant per island), keeping
    streaks >= 3h. One distinct + one window + one groupBy, all partitioned
    by user — three stages of the same key, zero extra shuffles."""
    ev = load_table(spark, sf_dir, "events")
    d = (ev.select("user_id", F.date_trunc("hour", "ts").alias("h"))
         .distinct())
    w = Window.partitionBy("user_id").orderBy("h")
    g = d.withColumn(
        "grp",
        F.col("h") - F.make_interval(hours=F.row_number().over(w)))
    return (g.groupBy("user_id", "grp")
            .agg(F.min("h").alias("streak_start"),
                 F.count(F.lit(1)).alias("streak_hours"))
            .filter(F.col("streak_hours") >= 3)
            .drop("grp"))


# --------------------------------------------------------------------------
# q98 — ratio-to-report (share-of-total windows)
# --------------------------------------------------------------------------
@register(
    "q98_revenue_share",
    sql="""
    WITH rev AS (
      SELECT n.n_regionkey, c.c_nationkey,
             sum(o.o_totalprice) AS nation_rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_regionkey, c.c_nationkey
    )
    SELECT n_regionkey, c_nationkey,
           round(nation_rev, 2) AS nation_rev,
           round(nation_rev / sum(nation_rev) OVER (), 6) AS global_share,
           round(nation_rev / sum(nation_rev)
                 OVER (PARTITION BY n_regionkey), 6) AS region_share
    FROM rev
    """,
)
def q98_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its region and
    of the world. The empty-frame global window runs on the 25-row aggregate,
    not the fact table — aggregate first, window the tiny result."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    rev = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "c_nationkey")
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    w_all = Window.partitionBy()
    w_region = Window.partitionBy("n_regionkey")
    return rev.select(
        "n_regionkey", "c_nationkey",
        F.round("nation_rev", 2).alias("nation_rev"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_all), 6)
        .alias("global_share"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w_region), 6)
        .alias("region_share"),
    )


# --------------------------------------------------------------------------
# q102 — first/last/nth value window functions
# --------------------------------------------------------------------------
@register(
    "q102_first_last_nth",
    sql="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS last_v,
           nth_value(value, 3) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS third_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q102_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family completion: first_value / last_value / nth_value with
    explicit full frames — last_value over the default frame is the classic
    silent-wrong-answer (it returns the CURRENT row); the full-frame spec
    here is the correct form and the oracle pins it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id", "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w_full).alias("last_v"),
        F.nth_value("value", 3).over(w_full).alias("third_v"),
    )


# --------------------------------------------------------------------------
# q109 — RANGE frame over event time (interval window without self-join)
# --------------------------------------------------------------------------
@register(
    "q109_range_frame_rolling_sum",
    sql="""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ), 2) AS rolling_1h_value,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_1h_events
    FROM events
    """,
)
def q109_range_frame_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 RANGE frame on event time: per-user trailing-1-hour rolling sum
    and count — the value-based frame (all rows within the interval,
    regardless of row count), expressed with rangeBetween over epoch
    MICROseconds, the full precision of ``ts``: ordering by whole seconds
    would make two events of one user within the same second peers, each
    counting the other. This replaces the quadratic self-join formulation
    of trailing windows with one sort per user partition."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.sum("value").over(w), 2).alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_events"),
    )


@register(
    "q197_rolling_median",
    sql="""
    SELECT user_id, event_id,
           round(median(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                 4) AS rolling_median5
    FROM events
    """,
)
def q197_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median over the trailing 5 events per user — a window
    aggregate Spark has no built-in for (percentiles aren't supported over
    row frames). Composition: collect_list over the frame → array_sort →
    middle element (mean of the two middles for even prefixes), all JVM-side
    higher-order functions, so the cost is O(k log k) per row for frame
    width k with zero Python. The DuckDB oracle uses its native windowed
    median — an independent implementation pinning the interpolation
    convention."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, Window.currentRow))
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    mid_lo = F.element_at(arr, (n / 2).cast("int"))
    median = F.when(n % 2 == 1, mid_odd).otherwise((mid_lo + mid_hi) / 2.0)
    return ev.select("user_id", "event_id",
                     F.round(median, 4).alias("rolling_median5"))


@register(
    "q240_grouping_sets_topk",
    sql="""
    WITH per_group AS (
        SELECT CASE WHEN g = 0 THEN 'brand' ELSE 'type' END AS dim,
               coalesce(p_brand, p_type) AS dim_value,
               p_partkey, p_retailprice
        FROM (
            SELECT p_brand, p_type, p_partkey, p_retailprice,
                   grouping(p_brand) AS g
            FROM part
            GROUP BY GROUPING SETS ((p_brand, p_partkey, p_retailprice),
                                    (p_type, p_partkey, p_retailprice))
        )
    )
    SELECT dim, dim_value, p_partkey,
           round(p_retailprice, 2) AS retail_price
    FROM (
        SELECT *, row_number() OVER (PARTITION BY dim, dim_value
                                     ORDER BY p_retailprice DESC, p_partkey)
                      AS rn
        FROM per_group
    ) WHERE rn <= 3
    """,
)
def q240_grouping_sets_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priciest parts per brand AND per type from ONE grouping-sets
    pass — the multi-hierarchy leaderboard without scanning the fact twice:
    GROUPING SETS replicates rows per dimension inside the aggregate
    (grouping() disambiguates), then a single WindowGroupLimit ranks both
    hierarchies at once."""
    part = load_table(spark, sf_dir, "part")
    # GROUPING SETS with per-set grouping() disambiguation is SQL-surface;
    # run the identical text through spark.sql (same plan as the oracle).
    part.createOrReplaceTempView("part_gs_v")
    return spark.sql("""
        WITH per_group AS (
            SELECT CASE WHEN grouping(p_brand) = 0 THEN 'brand' ELSE 'type'
                   END AS dim,
                   coalesce(p_brand, p_type) AS dim_value,
                   p_partkey, p_retailprice,
                   grouping(p_brand) AS g
            FROM part_gs_v
            GROUP BY GROUPING SETS ((p_brand, p_partkey, p_retailprice),
                                    (p_type, p_partkey, p_retailprice))
        )
        SELECT dim, dim_value, p_partkey,
               round(p_retailprice, 2) AS retail_price
        FROM (
            SELECT dim, dim_value, p_partkey, p_retailprice,
                   row_number() OVER (PARTITION BY dim, dim_value
                                      ORDER BY p_retailprice DESC, p_partkey)
                       AS rn
            FROM per_group
        ) WHERE rn <= 3
    """)
