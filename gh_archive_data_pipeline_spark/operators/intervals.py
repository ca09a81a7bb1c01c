"""Interval-overlap join, bucketized.

A naive point-in-interval join is a range (theta) join — BroadcastNestedLoop
or a cartesian explosion at scale. The standard distributed rewrite buckets
both sides by a grid aligned to the interval length: each interval explodes
to the buckets it covers (bounded fan-out), points map to exactly one
bucket, and the join becomes an EQUI join on the bucket key with the exact
containment predicate as a residual filter. Shuffle cost is linear in input
(+ interval fan-out), never quadratic — the same trick q42's LSH banding
uses for similarity, applied to time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table

BUCKET_SEC = 86_400  # grid aligned to the fixture promos' 1-day intervals


def bucketed_interval_join(points: DataFrame, ts: str, intervals: DataFrame,
                           start: str, end: str) -> DataFrame:
    """Inner-join points to every interval containing them ([start, end]
    closed), via the bucket-grid equi join. Intervals spanning B buckets
    replicate B times (choose bucket_sec ≈ typical interval length to keep
    B small); points never replicate."""
    def bucket_of(col: Column) -> Column:
        return (F.unix_timestamp(col) / BUCKET_SEC).cast("bigint")

    iv = intervals.withColumn(
        "_bucket",
        F.explode(F.sequence(bucket_of(F.col(start)), bucket_of(F.col(end)))),
    )
    pt = points.withColumn("_bucket", bucket_of(F.col(ts)))
    return (
        pt.join(iv, "_bucket")
        .where(F.col(ts).between(F.col(start), F.col(end)))
        .drop("_bucket")
    )


@register(
    "q150_interval_overlap_join",
    sql="""
    WITH promos AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS promo_start,
               CAST(date_trunc('day', ts) AS TIMESTAMP)
                   + INTERVAL 1 DAY - INTERVAL 1 SECOND AS promo_end,
               round(sum(value), 2) AS day_revenue
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY day_revenue DESC, promo_start LIMIT 5
    )
    SELECT strftime(p.promo_start, '%Y-%m-%d') AS promo_day,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN promos p
      ON e.ts BETWEEN p.promo_start AND p.promo_end
    GROUP BY 1, 2
    """,
)
def q150_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join without a range join: activity during the top-5
    purchase-revenue days (whole-day promo intervals). The interval side is
    derived (aggregate → top-5), then the bucketized equi join runs — the
    plan contains a hash join on the bucket key, not a nested-loop range
    join, so it survives both sides growing by 1000×."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    promos = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(day.alias("promo_start"))
        .agg(F.round(F.sum("value"), 2).alias("day_revenue"))
        .orderBy(F.desc("day_revenue"), "promo_start")
        .limit(5)
        .select(
            "promo_start",
            (F.col("promo_start") + F.expr("INTERVAL 1 DAY")
             - F.expr("INTERVAL 1 SECOND")).alias("promo_end"),
        )
    )
    joined = bucketed_interval_join(
        ev.select("ts", "event_type", "value"), "ts",
        promos, "promo_start", "promo_end",
    )
    return (
        joined.groupBy(
            F.date_format("promo_start", "yyyy-MM-dd").alias("promo_day"),
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
