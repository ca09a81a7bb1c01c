"""As-of (point-in-time) join — SURVEY.md §2.5 J7.

Spark has no built-in as-of join; the classic scalable realization is the
union-sort trick: tag both sides, union on the join key, sort by
(key, ts, side) within key partitions, and carry the right side's values
forward with last(ignorenulls) over an unbounded-preceding frame. One
shuffle + one sort — the same cost envelope as a groupBy on the key, vs the
quadratic range join a naive `l.ts >= r.ts` theta join would plan.

Tie semantics: a right row at exactly ts == left ts IS visible (inclusive
`>=`), matching DuckDB's ASOF JOIN, because the right side sorts before the
left side at equal timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ..plans.registry import register


def asof_join(left: DataFrame, right: DataFrame, on: str | list[str],
              left_ts: str, right_ts: str, value_cols: list[str]) -> DataFrame:
    """Left as-of join: for each left row, the most recent right row with
    ``right_ts <= left_ts`` on the same key(s).

    ``value_cols`` are the right-side columns to carry; they appear in the
    output as ``<col>_p`` (plus ``<right_ts>_p``).
    """
    keys = [on] if isinstance(on, str) else list(on)
    carried = [right_ts, *value_cols]
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"{c}_p") for c in carried],
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(dict(r.dtypes)[f"{c}_p"]).alias(f"{c}_p")
          for c in carried],
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(*keys).orderBy("__ts", "__side")
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned.select(
        "*",
        *[F.last(f"{c}_p", ignorenulls=True).over(w)
          .alias(f"__filled_{c}") for c in carried],
    )
    out = filled.filter(F.col("__side") == 1)
    for c in carried:
        out = out.drop(f"{c}_p").withColumnRenamed(f"__filled_{c}", f"{c}_p")
    return out.drop("__ts", "__side")


@register(
    "q53_asof_last_purchase",
    sql="""
    SELECT e.event_id, e.user_id, e.event_type,
           p.ts    AS purchase_ts_asof,
           p.value AS purchase_value_asof
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q53_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 as-of join: enrich every event with the user's most recent purchase
    at-or-before the event time (NULL if none yet) — checked against DuckDB's
    native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "value"))
    joined = asof_join(
        ev.select("event_id", "user_id", "event_type", "ts"),
        purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return joined.select(
        "event_id", "user_id", "event_type",
        F.col("ts_p").alias("purchase_ts_asof"),
        F.col("value_p").alias("purchase_value_asof"),
    )


def asof_join_cogroup(left: DataFrame, right: DataFrame,
                      left_on: str, right_on: str,
                      left_ts: str, right_ts: str,
                      value_col: str) -> DataFrame:
    """As-of join via cogrouped applyInPandas (U4's cogroup surface): both
    sides shuffle once on the key, each key's two groups meet in one Python
    function, and pandas merge_asof does the per-key point-in-time match.

    Independent implementation of the same semantics as :func:`asof_join`
    (union-sort) — the registry checks BOTH against DuckDB's native ASOF
    JOIN, so the two algorithms cross-validate. Prefer the union-sort form
    in hot paths (no Python); cogroup is the template for per-key logic
    pandas has but Spark lacks (interpolation, curve fitting, ffill with
    limits)."""
    import pandas as pd

    lcols = left.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields
    ) + f", {right_ts}_asof timestamp_ntz, {value_col}_asof double"

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        l = l.sort_values(left_ts)
        r = (r[[right_ts, value_col]].sort_values(right_ts)
             .rename(columns={right_ts: f"{right_ts}_asof",
                              value_col: f"{value_col}_asof"}))
        if r.empty:
            l[f"{right_ts}_asof"] = pd.NaT
            l[f"{value_col}_asof"] = float("nan")
            return l[lcols + [f"{right_ts}_asof", f"{value_col}_asof"]]
        m = pd.merge_asof(l, r, left_on=left_ts, right_on=f"{right_ts}_asof",
                          direction="backward", allow_exact_matches=True)
        return m[lcols + [f"{right_ts}_asof", f"{value_col}_asof"]]

    return (left.groupBy(left_on).cogroup(right.groupBy(right_on))
            .applyInPandas(merge, schema=out_schema))


@register(
    "q110_cogroup_asof",
    sql="""
    SELECT e.event_id, e.user_id, e.event_type,
           p.ts    AS ts_asof,
           p.value AS value_asof
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q110_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 cogroup surface: the q53 as-of semantics re-implemented with
    cogrouped applyInPandas + pandas merge_asof, checked against DuckDB's
    native ASOF JOIN — two independent algorithms, one oracle."""
    ev = load_table(spark, sf_dir, "events")
    # NB: rename the right side's columns — cogrouping a DataFrame with a
    # projection of ITSELF hits self-join attribute dedup, which can prune
    # the right child down to the conflicting names' first occurrence.
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("p_ts"),
                         F.col("value").alias("p_value")))
    left = ev.select("event_id", "user_id", "event_type", "ts")
    joined = asof_join_cogroup(left, purchases,
                               left_on="user_id", right_on="p_user_id",
                               left_ts="ts", right_ts="p_ts",
                               value_col="p_value")
    return joined.select("event_id", "user_id", "event_type",
                         F.col("p_ts_asof").alias("ts_asof"),
                         F.col("p_value_asof").alias("value_asof"))


@register(
    "q237_nearest_event_join",
    sql="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
        WHERE event_type = 'click'
    ),
    candidates AS (
        SELECT p.event_id, p.user_id,
               c.click_id,
               abs(epoch_us(c.click_ts) - epoch_us(p.ts)) AS dist_us,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY abs(epoch_us(c.click_ts) - epoch_us(p.ts)),
                            c.click_ts, c.click_id) AS rn
        FROM purchases p JOIN clicks c
          ON c.user_id = p.user_id
         AND c.click_ts BETWEEN p.ts - INTERVAL 1 HOUR
                            AND p.ts + INTERVAL 1 HOUR
    )
    SELECT event_id, user_id, click_id,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM candidates WHERE rn = 1
    """,
)
def q237_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor temporal join — the as-of variant DuckDB's ASOF
    can't express (backward-only): each purchase matched to the closest
    click within ±1 h, ties to the earlier click. Banded equi-join on
    user_id with the time band as a residual predicate, then a per-purchase
    WindowGroupLimit argmin — candidate sets stay band-bounded, so cost is
    O(matches), not O(n²). The same plan with a bucketed time key is the
    unbounded-scale version (operators/intervals.py)."""
    from ..sources.readers import load_table
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", F.col("ts").alias("p_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("click_ts")))
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")))
    dist = F.abs(us("click_ts") - us("p_ts"))
    w = Window.partitionBy("event_id").orderBy(dist, "click_ts", "click_id")
    return (joined.withColumn("dist_us", dist)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "user_id", "click_id",
                    F.col("dist_us").cast("bigint").alias("dist_us")))
