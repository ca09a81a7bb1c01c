"""Feature-engineering operators: robust scaling, grouped regression,
forward fill, fuzzy matching — the numeric-preparation plane a training
pipeline runs after filtering (reference analytics surface:
/root/reference/README.md:7; profiling plane data_profiling.py).

All plans are two-phase where a global statistic is needed: aggregate the
statistic first (tiny result), broadcast it back over the fact — never a
global sort or a per-row subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import register
from ..sources.readers import load_table, scan_parallel


@register(
    "q135_winsorized_scaling",
    sql="""
    WITH p AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(any_value(p.p01), 2) AS p01,
           round(any_value(p.p99), 2) AS p99,
           CAST(sum(CASE WHEN l.l_extendedprice < p.p01
                           OR l.l_extendedprice > p.p99
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(l.l_extendedprice), 2) AS mean_raw,
           round(avg(least(greatest(l.l_extendedprice, p.p01), p.p99)), 2)
               AS mean_winsorized
    FROM lineitem l JOIN p USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q135_winsorized_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (1%/99%-clipped) robust scaling audit per return flag:
    exact percentile bounds, clip counts, and mean before/after clipping.
    Two-phase plan: the exact per-group percentiles aggregate down to 3 rows,
    broadcast back over the fact scan — the fact shuffles once on the group
    key and the percentile table never exceeds group cardinality.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("p01"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99"))
    out_of_band = (F.col("l_extendedprice") < F.col("p01")) | (
        F.col("l_extendedprice") > F.col("p99")
    )
    return (
        li.join(F.broadcast(p), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.any_value("p01"), 2).alias("p01"),
            F.round(F.any_value("p99"), 2).alias("p99"),
            F.sum(out_of_band.cast("int")).cast("bigint").alias("n_clipped"),
            F.round(F.avg("l_extendedprice"), 2).alias("mean_raw"),
            F.round(F.avg(clipped), 2).alias("mean_winsorized"),
        )
    )


# Grouped linear regression from EXACT moments. Float sums are
# summation-order-sensitive (regr_slope straight off doubles flipped a 6th
# decimal between Spark and DuckDB), so both engines sum fixed-point decimals
# — exact and order-independent — and only then run the identical IEEE-double
# slope/intercept/r² arithmetic on the finished moments. x is integer seconds
# since 2024-01-01 (fits DECIMAL(9,0) for the 30-day fixture window), y is
# value rounded to 4dp (DECIMAL(12,4)).
_REGR_BODY = """
    WITH m AS (
        SELECT event_type,
               count(*)      AS n,
               sum(xs)       AS sx,
               sum(y4)       AS sy,
               sum(xs * y4)  AS sxy,
               sum(xs * xs)  AS sxx,
               sum(y4 * y4)  AS syy
        FROM (SELECT event_type,
                     CAST({epoch_sec} - 1704067200 AS DECIMAL(9,0))  AS xs,
                     CAST(value AS DECIMAL(12,4))                    AS y4
              FROM {table})
        GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 86400.0, 6) AS slope_per_day,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 4) AS intercept,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
    FROM m
"""


@register(
    "q136_group_regression",
    sql=_REGR_BODY.format(epoch_sec="CAST(floor(epoch(ts)) AS BIGINT)",
                          table="events"),
)
def q136_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: value drift per day for each event
    type, from the five regression moments (n, Σx, Σy, Σxy, Σx², Σy²).
    The moments are distributive aggregates — one partial-aggregated shuffle
    on the 5-key group column, same shape as a plain grouped sum at 100 TB —
    and they're summed as fixed-point decimals so the result is exact and
    independent of partitioning/summation order (a run on 10 partitions and
    a run on 10,000 produce bit-identical slopes)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_regr_v")
    return spark.sql(_REGR_BODY.format(epoch_sec="unix_timestamp(ts)",
                                       table="events_regr_v"))


@register(
    "q138_forward_fill",
    sql="""
    WITH sparse AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
        FROM events
    )
    SELECT user_id, event_id,
           round(last_value(purchase_value IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
               AS last_purchase_value
    FROM sparse
    """,
)
def q138_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): carry each user's most recent purchase value
    across their subsequent events — the gap-filling step for sparse signals
    before feature extraction. One shuffle on user_id, partition-local sort,
    `last(ignorenulls)` over the running frame; no spine materialization
    (complementing q91's resample, which fills a dense spine with zeros).
    """
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "user_id", "event_id", "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return sparse.select(
        "user_id", "event_id",
        F.round(F.last("purchase_value", ignorenulls=True).over(w), 2)
        .alias("last_purchase_value"),
    )


@register(
    "q137_fuzzy_pairs",
    sql="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    """,
)
def q137_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate candidates by edit distance, blocked on
    (brand, size): the classic blocked string-similarity join — the
    blocking key bounds the quadratic comparison to within-block pairs
    (the same candidate-then-verify shape as MinHash/LSH in
    operators/dedup.py, with levenshtein as the verifier). The self-join
    shuffles once on the block key; no unblocked cross product exists in
    the plan.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a, b = part.alias("a"), part.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .where(dist <= 12)
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            dist.cast("bigint").alias("edit_distance"),
        )
    )


@register(
    "q210_pit_features",
    sql="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           round(p.value, 2) AS purchase_value,
           CAST(count(CASE WHEN e.event_type = 'click' THEN 1 END) AS BIGINT)
               AS clicks_7d,
           CAST(count(CASE WHEN e.event_type = 'view'
                             AND e.ts >= p.ts - INTERVAL 1 DAY THEN 1 END)
                AS BIGINT) AS views_1d,
           round(coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                   THEN e.value END), 0), 2)
               AS prior_spend_7d
    FROM purchases p LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 7 DAY
     AND e.ts < p.ts
    GROUP BY p.event_id, p.user_id, p.value
    """,
)
def q210_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature assembly — the feature-store join that
    must never see the future: for every purchase, trailing-window behavior
    counts (7-day clicks, 1-day views, 7-day prior spend) built strictly
    from events BEFORE the purchase timestamp. The join is an equi-join on
    user_id with a range predicate, so it shuffles each side once on the
    user key and AQE handles per-user skew; there is no per-feature
    re-scan — one pass produces all three features via conditional
    aggregation. At 100 TB the same plan runs with the history side
    bucketed by user_id."""
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id"), F.col("user_id"),
                         F.col("ts").alias("p_ts"),
                         F.col("value").alias("p_value")))
    hist = ev.select(F.col("user_id").alias("h_user"), "event_type",
                     F.col("ts").alias("h_ts"), F.col("value").alias("h_value"))
    joined = purchases.join(
        hist,
        (F.col("h_user") == F.col("user_id"))
        & (F.col("h_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
        & (F.col("h_ts") < F.col("p_ts")),
        "left")
    return (joined.groupBy("event_id", "user_id", "p_value")
            .agg(F.count(F.when(F.col("event_type") == "click", 1))
                 .cast("bigint").alias("clicks_7d"),
                 F.count(F.when((F.col("event_type") == "view")
                                & (F.col("h_ts") >= F.col("p_ts")
                                   - F.expr("INTERVAL 1 DAY")), 1))
                 .cast("bigint").alias("views_1d"),
                 F.round(F.coalesce(
                     F.sum(F.when(F.col("event_type") == "purchase",
                                  F.col("h_value"))), F.lit(0)), 2)
                 .alias("prior_spend_7d"))
            .select("event_id", "user_id",
                    F.round("p_value", 2).alias("purchase_value"),
                    "clicks_7d", "views_1d", "prior_spend_7d"))


@register(
    "q211_loo_target_encoding",
    sql="""
    WITH stats AS (
        SELECT o_orderpriority,
               sum(o_totalprice) AS s, count(*) AS n
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderkey, o.o_orderpriority,
           round(CASE WHEN n > 1 THEN (s - o_totalprice) / (n - 1) END, 4)
               AS loo_priority_mean
    FROM orders o JOIN stats USING (o_orderpriority)
    """,
)
def q211_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe (leave-one-out) target encoding: each order's category
    feature is the mean total price of its priority class EXCLUDING the
    order itself — (sum - x) / (n - 1) — so the encoded feature never
    contains the row's own target. Category stats are a 5-row broadcast;
    the fact table is scanned once. Single-member categories encode NULL
    rather than a self-leaking value."""
    orders = load_table(spark, sf_dir, "orders")
    stats = (orders.groupBy("o_orderpriority")
             .agg(F.sum("o_totalprice").alias("s"),
                  F.count(F.lit(1)).alias("n")))
    loo = F.when(F.col("n") > 1,
                 (F.col("s") - F.col("o_totalprice")) / (F.col("n") - 1))
    return (orders.join(F.broadcast(stats), "o_orderpriority")
            .select("o_orderkey", "o_orderpriority",
                    F.round(loo, 4).alias("loo_priority_mean")))


@register(
    "q218_churn_labels",
    sql="""
    WITH bounds AS (SELECT max(ts) AS horizon FROM events),
    anchors AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    )
    SELECT a.event_id, a.user_id,
           CAST(count(e.ts) AS BIGINT) AS future_events_7d,
           (count(e.ts) = 0) AS churned_7d,
           (a.ts + INTERVAL 7 DAY > horizon) AS censored
    FROM anchors a
    CROSS JOIN bounds
    LEFT JOIN events e
      ON e.user_id = a.user_id
     AND e.ts > a.ts AND e.ts <= a.ts + INTERVAL 7 DAY
    GROUP BY a.event_id, a.user_id, a.ts, horizon
    """,
)
def q218_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label generation — the forward-looking mirror of q210's features:
    for each purchase, did the user go silent for the next 7 days
    (churned_7d), with a censoring flag when the 7-day window runs past the
    observation horizon (those labels are not trustworthy and a training
    set must drop or re-date them). Same single user-keyed range-join
    envelope as the feature side, so features and labels co-partition and
    their final join is exchange-free."""
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("horizon"))
    anchors = (ev.filter(F.col("event_type") == "purchase")
               .select("event_id", "user_id", F.col("ts").alias("a_ts")))
    future = ev.select(F.col("user_id").alias("f_user"),
                       F.col("ts").alias("f_ts"))
    j = anchors.crossJoin(F.broadcast(horizon)).join(
        future,
        (F.col("f_user") == F.col("user_id"))
        & (F.col("f_ts") > F.col("a_ts"))
        & (F.col("f_ts") <= F.col("a_ts") + F.expr("INTERVAL 7 DAY")),
        "left")
    return (j.groupBy("event_id", "user_id", "a_ts", "horizon")
            .agg(F.count("f_ts").cast("bigint").alias("future_events_7d"))
            .select("event_id", "user_id", "future_events_7d",
                    (F.col("future_events_7d") == 0).alias("churned_7d"),
                    (F.col("a_ts") + F.expr("INTERVAL 7 DAY")
                     > F.col("horizon")).alias("censored")))


@register(
    "q259_mahalanobis_outliers",
    sql="""
    WITH gaps AS (
        SELECT event_id, event_type, value,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        FROM events
    ),
    feat AS (
        SELECT event_id, event_type, value,
               gap_us::DOUBLE / 1000000 AS gap_s
        FROM gaps WHERE gap_us IS NOT NULL
    ),
    stats AS (
        SELECT event_type,
               avg(value) AS mu_v, var_samp(value) AS var_v,
               avg(gap_s) AS mu_g, var_samp(gap_s) AS var_g
        FROM feat GROUP BY event_type
    )
    SELECT f.event_id, f.event_type,
           round(sqrt((f.value - mu_v) * (f.value - mu_v) / var_v
                      + (f.gap_s - mu_g) * (f.gap_s - mu_g) / var_g), 4)
               AS mdist
    FROM feat f JOIN stats USING (event_type)
    ORDER BY mdist DESC, event_id
    LIMIT 50
    """,
)
def q259_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outliers by diagonal Mahalanobis distance over two
    derived features (event value, inter-event gap): per-type moments
    broadcast back onto the feature rows, distance is expression-only, top
    50 reported — the multi-feature upgrade of q120's single-column
    z-score. Full-covariance Mahalanobis adds the inverse-covariance
    broadcast; same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    feat = (ev.select("event_id", "event_type", "value",
                      ((us - prev).cast("double") / 1_000_000).alias("gap_s"))
            .filter(F.col("gap_s").isNotNull()))
    stats = (feat.groupBy("event_type")
             .agg(F.avg("value").alias("mu_v"),
                  F.var_samp("value").alias("var_v"),
                  F.avg("gap_s").alias("mu_g"),
                  F.var_samp("gap_s").alias("var_g")))
    d2 = ((F.col("value") - F.col("mu_v")) ** 2 / F.col("var_v")
          + (F.col("gap_s") - F.col("mu_g")) ** 2 / F.col("var_g"))
    return (feat.join(F.broadcast(stats), "event_type")
            .select("event_id", "event_type",
                    F.round(F.sqrt(d2), 4).alias("mdist"))
            .orderBy(F.desc("mdist"), "event_id")
            .limit(50))


@register(
    "q260_feature_hashing",
    sql="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    hashed AS (
        SELECT DISTINCT token,
               CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 256
                   AS bucket
        FROM tok
    ),
    per_bucket AS (
        SELECT bucket, count(*) AS n_tokens FROM hashed GROUP BY bucket
    )
    SELECT CAST(count(*) AS BIGINT)                        AS used_buckets,
           CAST(sum(n_tokens) AS BIGINT)                   AS vocab_size,
           CAST(sum(CASE WHEN n_tokens > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                           AS colliding_buckets,
           CAST(sum(CASE WHEN n_tokens > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
                                                           AS colliding_tokens,
           CAST(max(n_tokens) AS BIGINT)                   AS worst_bucket
    FROM per_bucket
    """,
)
def q260_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick audited: distinct vocabulary hashed into 256
    feature buckets (md5-based — portable, seedless), with the collision
    accounting (how many buckets hold 2+ tokens, how many tokens share)
    that decides whether the bucket count is big enough for a linear model.
    Shuffles carry (token) then (bucket) keys only."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select(F.explode(F.split("text", " ")).alias("token"))
           .distinct())
    bucket = (F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
              .cast("bigint") % 256)
    per_bucket = (tok.select(bucket.alias("bucket"))
                  .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens")))
    coll = F.when(F.col("n_tokens") > 1, F.col("n_tokens")).otherwise(0)
    return per_bucket.agg(
        F.count(F.lit(1)).cast("bigint").alias("used_buckets"),
        F.sum("n_tokens").cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("n_tokens") > 1, 1).otherwise(0)).cast("bigint")
        .alias("colliding_buckets"),
        F.sum(coll).cast("bigint").alias("colliding_tokens"),
        F.max("n_tokens").cast("bigint").alias("worst_bucket"))


@register(
    "q261_ab_exposure",
    sql="""
    WITH assignment AS (
        SELECT user_id,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                          AS BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant,
               min(CASE WHEN event_type = 'click' THEN ts END) AS first_click
        FROM events GROUP BY user_id
    ),
    outcomes AS (
        SELECT a.user_id, a.variant,
               max(CASE WHEN e.event_type = 'purchase'
                          AND e.ts > a.first_click THEN 1 ELSE 0 END)
                   AS converted
        FROM assignment a LEFT JOIN events e ON e.user_id = a.user_id
        WHERE a.first_click IS NOT NULL
        GROUP BY a.user_id, a.variant
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS exposed_users,
           CAST(sum(converted) AS BIGINT) AS converters,
           round(avg(converted::DOUBLE), 6) AS conversion_rate
    FROM outcomes GROUP BY variant
    """,
)
def q261_ab_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-based A/B analysis: users hash-assigned to variants
    (seeded md5 — the deterministic bucketing a real experiment platform
    uses), exposure = first click, outcome = any purchase AFTER exposure —
    the post-exposure filter that naive conversion comparisons omit.
    Complements q163's Welch z-test with the correct denominator
    construction; one user-keyed join, residue rollup."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1-"),
                                          F.col("user_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint") % 2 == 0,
        "control").otherwise("treatment")
    assignment = (ev.groupBy("user_id")
                  .agg(F.min(F.when(F.col("event_type") == "click",
                                    F.col("ts"))).alias("first_click"))
                  .withColumn("variant", variant)
                  .filter(F.col("first_click").isNotNull()))
    e2 = ev.select(F.col("user_id").alias("u2"), "event_type",
                   F.col("ts").alias("e_ts"))
    outcomes = (assignment.join(e2, F.col("u2") == F.col("user_id"), "left")
                .groupBy("user_id", "variant")
                .agg(F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("e_ts") > F.col("first_click")),
                                  1).otherwise(0)).alias("converted")))
    return (outcomes.groupBy("variant")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exposed_users"),
                 F.sum("converted").cast("bigint").alias("converters"),
                 F.round(F.avg(F.col("converted").cast("double")), 6)
                 .alias("conversion_rate")))


@register(
    "q262_stratified_rates",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN user_id % 3 = 0 THEN 'heavy' ELSE 'light' END
                   AS stratum,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS clicked
        FROM events GROUP BY user_id
    ),
    strata AS (
        SELECT stratum,
               count(*) AS n_users,
               sum(CASE WHEN clicked = 1 THEN 1 ELSE 0 END) AS n_clicked,
               sum(CASE WHEN clicked = 1 AND converted = 1
                        THEN 1 ELSE 0 END) AS n_conv
        FROM per_user GROUP BY stratum
    )
    SELECT stratum,
           CAST(n_users AS BIGINT)  AS n_users,
           CAST(n_clicked AS BIGINT) AS n_clicked,
           round(n_conv::DOUBLE / n_clicked, 6) AS rate_in_stratum,
           round(sum(n_conv) OVER ()::DOUBLE
                 / sum(n_clicked) OVER (), 6)   AS pooled_rate,
           round(sum(n_conv::DOUBLE / n_clicked * n_users) OVER ()
                 / sum(n_users) OVER (), 6)     AS stratum_weighted_rate
    FROM strata
    """,
)
def q262_stratified_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified vs pooled conversion rates — the Simpson's-paradox guard:
    per-stratum rates alongside the naive pooled rate and the
    population-weighted rate; when they disagree, the pooled number is
    confounded by stratum mix. Windows run on the 2-row strata residue."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("converted"),
                     F.max(F.when(F.col("event_type") == "click", 1)
                           .otherwise(0)).alias("clicked"))
                .withColumn("stratum",
                            F.when(F.col("user_id") % 3 == 0, "heavy")
                            .otherwise("light")))
    strata = (per_user.groupBy("stratum")
              .agg(F.count(F.lit(1)).alias("n_users"),
                   F.sum("clicked").alias("n_clicked"),
                   F.sum(F.when((F.col("clicked") == 1)
                                & (F.col("converted") == 1), 1)
                         .otherwise(0)).alias("n_conv")))
    w = Window.partitionBy()
    rate = F.col("n_conv").cast("double") / F.col("n_clicked")
    return strata.select(
        "stratum",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_clicked").cast("bigint").alias("n_clicked"),
        F.round(rate, 6).alias("rate_in_stratum"),
        F.round(F.sum("n_conv").over(w).cast("double")
                / F.sum("n_clicked").over(w), 6).alias("pooled_rate"),
        F.round(F.sum(rate * F.col("n_users")).over(w)
                / F.sum("n_users").over(w), 6)
        .alias("stratum_weighted_rate"))


@register(
    "q263_jackknife_se",
    sql="""
    WITH per_nation AS (
        SELECT c_nationkey, sum(c_acctbal) AS t, count(*) AS n
        FROM customer GROUP BY c_nationkey
    ),
    tot AS (SELECT sum(t) AS big_t, sum(n) AS big_n,
                   count(*)::DOUBLE AS g FROM per_nation),
    loo AS (
        SELECT c_nationkey,
               (big_t - t) / (big_n - n) AS stat_i,
               big_t / big_n AS stat_all, g
        FROM per_nation CROSS JOIN tot
    )
    SELECT round(min(stat_all), 6) AS mean_balance,
           round(sqrt((min(g) - 1) / min(g)
                      * sum((stat_i - stat_all) * (stat_i - stat_all))), 6)
               AS jackknife_se,
           CAST(min(g) AS BIGINT) AS n_groups
    FROM loo
    """,
)
def q263_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error for a ratio statistic
    (mean account balance): recompute the estimate without each nation,
    SE = sqrt((g-1)/g · Σ(θ_i - θ)²) — the distribution-free uncertainty a
    dashboards-with-error-bars pipeline attaches to every aggregate, and
    entirely expressible as one residue pass (25 leave-one-out stats from
    the per-nation sums, no resampling)."""
    cust = load_table(spark, sf_dir, "customer")
    per_nation = (cust.groupBy("c_nationkey")
                  .agg(F.sum("c_acctbal").alias("t"),
                       F.count(F.lit(1)).alias("n")))
    tot = per_nation.agg(F.sum("t").alias("big_t"),
                         F.sum("n").alias("big_n"),
                         F.count(F.lit(1)).cast("double").alias("g"))
    loo = (per_nation.crossJoin(F.broadcast(tot))
           .select(((F.col("big_t") - F.col("t"))
                    / (F.col("big_n") - F.col("n"))).alias("stat_i"),
                   (F.col("big_t") / F.col("big_n")).alias("stat_all"),
                   "g"))
    dev = (F.col("stat_i") - F.col("stat_all"))
    return loo.agg(
        F.round(F.min("stat_all"), 6).alias("mean_balance"),
        F.round(F.sqrt((F.min("g") - 1) / F.min("g")
                       * F.sum(dev * dev)), 6).alias("jackknife_se"),
        F.min("g").cast("bigint").alias("n_groups"))


@register(
    "q264_ks_statistic",
    sql="""
    WITH flagged AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    tot AS (
        SELECT sum(is_a)::DOUBLE AS na, sum(is_b)::DOUBLE AS nb FROM flagged
    ),
    cdf AS (
        SELECT value,
               sum(is_a) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS ca,
               sum(is_b) OVER (ORDER BY value
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cb
        FROM flagged
    ),
    stepped AS (
        SELECT value, max(ca) AS ca, max(cb) AS cb
        FROM cdf GROUP BY value
    )
    SELECT round(max(abs(ca / na - cb / nb)), 6) AS ks_stat,
           CAST(min(na) AS BIGINT) AS n_click,
           CAST(min(nb) AS BIGINT) AS n_purchase
    FROM stepped CROSS JOIN tot
    """,
)
def q264_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (click vs purchase value
    distributions): max CDF gap via running counts over the merged sorted
    values, collapsed to one row per distinct value so ties are handled
    exactly. The global ordered window is the known single-partition stage
    on the residue — at 100 TB the same statistic computes from per-bucket
    counts (equi-width CDF) with a bounded error instead of a total sort."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("value",
                  F.when(F.col("event_type") == "click", 1).otherwise(0)
                  .alias("is_a"),
                  F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                  .alias("is_b")))
    tot = ev.agg(F.sum("is_a").cast("double").alias("na"),
                 F.sum("is_b").cast("double").alias("nb"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
    cdf = ev.select("value",
                    F.sum("is_a").over(w).alias("ca"),
                    F.sum("is_b").over(w).alias("cb"))
    stepped = cdf.groupBy("value").agg(F.max("ca").alias("ca"),
                                       F.max("cb").alias("cb"))
    return (stepped.crossJoin(F.broadcast(tot))
            .agg(F.round(F.max(F.abs(F.col("ca") / F.col("na")
                                     - F.col("cb") / F.col("nb"))), 6)
                 .alias("ks_stat"),
                 F.min("na").cast("bigint").alias("n_click"),
                 F.min("nb").cast("bigint").alias("n_purchase")))


@register(
    "q265_exact_auc",
    sql="""
    WITH scored AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS score,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS label
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT label,
               rank() OVER (ORDER BY score) AS min_rank,
               count(*) OVER (PARTITION BY score) AS tie_n
        FROM scored
    ),
    midranked AS (
        SELECT label, min_rank + (tie_n - 1) / 2.0 AS mid_rank
        FROM ranked
    ),
    agg AS (
        SELECT sum(CASE WHEN label = 1 THEN mid_rank END) AS rank_sum,
               sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)::DOUBLE AS np,
               sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)::DOUBLE AS nn
        FROM midranked
    )
    SELECT round((rank_sum - np * (np + 1) / 2) / nullif(np * nn, 0), 6)
               AS auc,
           CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg
    FROM agg
    """,
)
def q265_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC by the Mann-Whitney rank identity, with proper
    mid-rank tie handling (min-rank + (ties-1)/2 — integer-exact, so both
    engines agree to the last bit before the single division): does click
    count predict purchasing? The model-eval metric as a two-window pass
    over the per-user residue; at 100 TB the same identity computes from a
    score-histogram (ranks from cumulative counts) without a global sort."""
    ev = load_table(spark, sf_dir, "events")
    scored = (ev.groupBy("user_id")
              .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                         .otherwise(0)).alias("score"),
                   F.max(F.when((F.col("event_type") == "purchase")
                                & (F.col("value") > 250), 1)
                         .otherwise(0)).alias("label")))
    w_rank = Window.orderBy("score")
    w_tie = Window.partitionBy("score")
    ranked = scored.select(
        "label",
        (F.rank().over(w_rank)
         + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0).alias("mid_rank"))
    agg = ranked.agg(
        F.sum(F.when(F.col("label") == 1, F.col("mid_rank"))).alias("rank_sum"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("double")
        .alias("np"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("double")
        .alias("nn"))
    return agg.select(
        F.round((F.col("rank_sum") - F.col("np") * (F.col("np") + 1) / 2)
                / F.nullif(F.col("np") * F.col("nn"), F.lit(0.0)), 6)
        .alias("auc"),
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"))


@register(
    "q266_odds_ratio",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                   AS exposed,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS outcome
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT sum(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END)
                   ::DOUBLE AS a,
               sum(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END)
                   ::DOUBLE AS b,
               sum(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END)
                   ::DOUBLE AS c,
               sum(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END)
                   ::DOUBLE AS d
        FROM per_user
    )
    SELECT CAST(a AS BIGINT) AS n11, CAST(b AS BIGINT) AS n10,
           CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
           round(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)), 6)
               AS odds_ratio,
           round(exp(ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)))
                     - 1.96 * sqrt(1/(a+0.5) + 1/(b+0.5)
                                   + 1/(c+0.5) + 1/(d+0.5))), 6) AS ci_low,
           round(exp(ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)))
                     + 1.96 * sqrt(1/(a+0.5) + 1/(b+0.5)
                                   + 1/(c+0.5) + 1/(d+0.5))), 6) AS ci_high
    FROM cells
    """,
)
def q266_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio (Haldane-Anscombe corrected) with the Woolf 95% CI: does
    having signed up associate with high-value purchasing? Exact integer
    cells → one deterministic float expression; the CI crossing 1.0 is the
    readable no-effect test next to q173's chi-square. Single reduction +
    1-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "signup", 1)
                           .otherwise(0)).alias("exposed"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).alias("outcome")))
    def cell(e, o):
        return F.sum(F.when((F.col("exposed") == e) & (F.col("outcome") == o),
                            1).otherwise(0)).cast("double")
    cells = per_user.agg(cell(1, 1).alias("a"), cell(1, 0).alias("b"),
                         cell(0, 1).alias("c"), cell(0, 0).alias("d"))
    # Haldane-Anscombe +0.5 on every cell: keeps the estimator finite when
    # a cell is empty (sf0.001 has no unexposed users), standard practice.
    a, b = F.col("a") + 0.5, F.col("b") + 0.5
    c, d = F.col("c") + 0.5, F.col("d") + 0.5
    orr = (a * d) / (b * c)
    se = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    return cells.select(
        F.col("a").cast("bigint").alias("n11"),
        F.col("b").cast("bigint").alias("n10"),
        F.col("c").cast("bigint").alias("n01"),
        F.col("d").cast("bigint").alias("n00"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(orr) - 1.96 * se), 6).alias("ci_low"),
        F.round(F.exp(F.log(orr) + 1.96 * se), 6).alias("ci_high"))


@register(
    "q267_expanding_target_encoding",
    sql="""
    SELECT o_orderkey, o_orderpriority,
           floor(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                      OVER (
                     PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS DOUBLE)
                 / count(*) OVER (
                     PARTITION BY o_orderpriority
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 / 100.0 * 10000 + 0.5) / 10000 AS past_priority_mean
    FROM orders
    """,
)
def q267_expanding_target_encoding(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """TIME-safe target encoding — the streaming-world sibling of q211's
    leave-one-out: each order's category feature is the mean total of
    STRICTLY EARLIER orders in its priority class (expanding window,
    1 PRECEDING), so the feature at time t is computable at time t. First
    order per class encodes NULL (no history), exactly as a live scorer
    would. One window on the category partitioning.

    The expanding mean runs over exact integer CENTS (sum bigint / count),
    and BOTH roundings use floor(x·scale + 0.5) — pure IEEE ops,
    bit-identical across engines — instead of round(): engines accumulate
    running double sums in different orders AND implement round()
    differently near ties (BigDecimal half-up vs float math), and a 4dp
    edge flip at sf0.01 (251250.6733 vs .6732) is invisible to a 1e-9
    tolerance but fatal to an exact value hash."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, -1))
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    mean = (F.sum(cents).over(w).cast("double")
            / F.count(F.lit(1)).over(w) / 100.0)
    return orders.select(
        "o_orderkey", "o_orderpriority",
        (F.floor(mean * 10000 + 0.5) / 10000).alias("past_priority_mean"))


@register(
    "q268_decay_score",
    sql="""
    WITH bounds AS (SELECT max(ts) AS now_ts FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(exp(-0.1 * (epoch_us(now_ts) - epoch_us(ts))
                         / 86400000000.0)), 4) AS decay_score
    FROM events CROSS JOIN bounds
    GROUP BY user_id
    """,
)
def q268_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: Σ exp(-λ·age_days) per user (λ=0.1 —
    half-life ≈ a week) — the decayed-frequency score rankers and
    churn models consume instead of raw counts, computable in one
    map-side-combined aggregation (each event contributes independently, so
    no window needed, unlike EWMA's sequential weighting)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("now_ts"))
    age_days = ((F.unix_micros(F.col("now_ts").cast("timestamp"))
                 - F.unix_micros(F.col("ts").cast("timestamp")))
                / 86_400_000_000.0)
    return (ev.crossJoin(F.broadcast(bounds))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.round(F.sum(F.exp(-0.1 * age_days)), 4)
                 .alias("decay_score")))


@register(
    "q272_fold_stability",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('fold-' || user_id), 1, 8)) AS BIGINT)
                   % 5 AS fold,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    per_fold AS (
        SELECT fold, count(*) AS n,
               avg(converted::DOUBLE) AS rate
        FROM per_user GROUP BY fold
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(n AS BIGINT) AS n_users,
           round(rate, 6) AS conversion_rate,
           round(avg(rate) OVER (), 6) AS mean_rate,
           round(stddev_samp(rate) OVER (), 6) AS rate_sd
    FROM per_fold
    """,
)
def q272_fold_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric stability across 5 content-hash folds: the conversion rate
    recomputed per deterministic fold with the cross-fold mean and standard
    deviation — the cheap sanity check that a headline metric isn't driven
    by a handful of users (high fold SD → investigate before shipping the
    number). Hash-fold assignment reuses q88's portable md5 bucketing."""
    ev = load_table(spark, sf_dir, "events")
    fold = (F.conv(F.substring(F.md5(F.concat(F.lit("fold-"),
                                              F.col("user_id").cast("string"))),
                               1, 8), 16, 10).cast("bigint") % 5)
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("converted"))
                .withColumn("fold", fold))
    per_fold = (per_user.groupBy("fold")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.avg(F.col("converted").cast("double")).alias("rate")))
    w = Window.partitionBy()
    return per_fold.select(
        F.col("fold").cast("bigint").alias("fold"),
        F.col("n").cast("bigint").alias("n_users"),
        F.round("rate", 6).alias("conversion_rate"),
        F.round(F.avg("rate").over(w), 6).alias("mean_rate"),
        F.round(F.stddev_samp("rate").over(w), 6).alias("rate_sd"))


@register(
    "q280_rate_ratio_test",
    sql="""
    WITH bounds AS (
        SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) / 86400000000.0
                   AS span_days
        FROM events
    ),
    counts AS (
        SELECT sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::DOUBLE
                   AS n_err,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
                   AS n_buy
        FROM events
    )
    SELECT CAST(n_err AS BIGINT) AS n_error,
           CAST(n_buy AS BIGINT) AS n_purchase,
           round(n_err / span_days, 4) AS error_per_day,
           round(n_buy / span_days, 4) AS purchase_per_day,
           round(n_err / n_buy, 6) AS rate_ratio,
           round(exp(ln(n_err / n_buy) - 1.96 * sqrt(1/n_err + 1/n_buy)), 6)
               AS ci_low,
           round(exp(ln(n_err / n_buy) + 1.96 * sqrt(1/n_err + 1/n_buy)), 6)
               AS ci_high
    FROM counts CROSS JOIN bounds
    """,
)
def q280_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate-ratio with its Wald 95% CI (exp(ln RR ±
    1.96·√(1/n₁+1/n₂))): error events per purchase event over the same
    exposure window — the incident-rate comparison an SRE/quality review
    reads (CI excluding 1 = the rates genuinely differ). One reduction,
    1-row closed-form arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    bounds = ev.agg(((us(F.max("ts")) - us(F.min("ts"))) / 86_400_000_000.0)
                    .alias("span_days"))
    counts = ev.agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("double").alias("n_err"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double").alias("n_buy"))
    rr = F.col("n_err") / F.col("n_buy")
    se = F.sqrt(1 / F.col("n_err") + 1 / F.col("n_buy"))
    return (counts.crossJoin(F.broadcast(bounds))
            .select(F.col("n_err").cast("bigint").alias("n_error"),
                    F.col("n_buy").cast("bigint").alias("n_purchase"),
                    F.round(F.col("n_err") / F.col("span_days"), 4)
                    .alias("error_per_day"),
                    F.round(F.col("n_buy") / F.col("span_days"), 4)
                    .alias("purchase_per_day"),
                    F.round(rr, 6).alias("rate_ratio"),
                    F.round(F.exp(F.log(rr) - 1.96 * se), 6).alias("ci_low"),
                    F.round(F.exp(F.log(rr) + 1.96 * se), 6).alias("ci_high")))


@register(
    "q282_decision_stump",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS score,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS label
        FROM events GROUP BY user_id
    ),
    thresholds AS (SELECT unnest(generate_series(1, 20)) AS t),
    cells AS (
        SELECT t,
               sum(CASE WHEN score >= t THEN 1 ELSE 0 END)::DOUBLE AS n_hi,
               sum(CASE WHEN score >= t AND label = 1 THEN 1 ELSE 0 END)
                   ::DOUBLE AS p_hi,
               sum(CASE WHEN score < t THEN 1 ELSE 0 END)::DOUBLE AS n_lo,
               sum(CASE WHEN score < t AND label = 1 THEN 1 ELSE 0 END)
                   ::DOUBLE AS p_lo,
               count(*)::DOUBLE AS n,
               sum(label)::DOUBLE AS p
        FROM per_user CROSS JOIN thresholds
        GROUP BY t
    ),
    scored AS (
        SELECT t, n_hi, n_lo,
               round(
                 (CASE WHEN p > 0 AND p < n THEN
                    -(p/n)*ln(p/n) - (1-p/n)*ln(1-p/n) ELSE 0 END)
                 - (n_hi/n) * (CASE WHEN p_hi > 0 AND p_hi < n_hi THEN
                     -(p_hi/n_hi)*ln(p_hi/n_hi)
                     - (1-p_hi/n_hi)*ln(1-p_hi/n_hi) ELSE 0 END)
                 - (n_lo/n) * (CASE WHEN p_lo > 0 AND p_lo < n_lo THEN
                     -(p_lo/n_lo)*ln(p_lo/n_lo)
                     - (1-p_lo/n_lo)*ln(1-p_lo/n_lo) ELSE 0 END), 6)
                   AS info_gain
        FROM cells WHERE n_hi > 0 AND n_lo > 0
    )
    SELECT CAST(t AS BIGINT) AS threshold,
           CAST(n_hi AS BIGINT) AS n_above,
           CAST(n_lo AS BIGINT) AS n_below,
           info_gain
    FROM scored
    ORDER BY info_gain DESC, t
    LIMIT 1
    """,
)
def q282_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-level decision tree fit as a query: the click-count threshold
    with maximal information gain for predicting high-value purchase —
    exhaustive candidate evaluation (20 thresholds × per-user reduction via
    a broadcast cross join, one aggregation) with exact Shannon entropy.
    This is how a tree learner's split search distributes: candidates
    broadcast, one pass computes every split's statistics."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                           .otherwise(0)).alias("score"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).alias("label")))
    spark_thresholds = ev.sparkSession.range(1, 21).select(
        F.col("id").alias("t"))
    cells = (per_user.crossJoin(F.broadcast(spark_thresholds))
             .groupBy("t")
             .agg(*[e.cast("double").alias(a) for e, a in [
                 (F.sum(F.when(F.col("score") >= F.col("t"), 1).otherwise(0)),
                  "n_hi"),
                 (F.sum(F.when((F.col("score") >= F.col("t"))
                               & (F.col("label") == 1), 1).otherwise(0)),
                  "p_hi"),
                 (F.sum(F.when(F.col("score") < F.col("t"), 1).otherwise(0)),
                  "n_lo"),
                 (F.sum(F.when((F.col("score") < F.col("t"))
                               & (F.col("label") == 1), 1).otherwise(0)),
                  "p_lo"),
                 (F.count(F.lit(1)), "n"),
                 (F.sum("label"), "p")]]))

    def ent(p, n):
        q = p / n
        return F.when((p > 0) & (p < n),
                      -q * F.log(q) - (1 - q) * F.log(1 - q)).otherwise(0.0)

    gain = F.round(
        ent(F.col("p"), F.col("n"))
        - (F.col("n_hi") / F.col("n")) * ent(F.col("p_hi"), F.col("n_hi"))
        - (F.col("n_lo") / F.col("n")) * ent(F.col("p_lo"), F.col("n_lo")), 6)
    return (cells.filter((F.col("n_hi") > 0) & (F.col("n_lo") > 0))
            .select(F.col("t").cast("bigint").alias("threshold"),
                    F.col("n_hi").cast("bigint").alias("n_above"),
                    F.col("n_lo").cast("bigint").alias("n_below"),
                    gain.alias("info_gain"))
            .orderBy(F.desc("info_gain"), "threshold")
            .limit(1))


@register(
    "q283_anova_f",
    sql="""
    WITH groups AS (
        SELECT o_orderpriority AS g, count(*)::DOUBLE AS n,
               avg(o_totalprice) AS m, var_samp(o_totalprice) AS v
        FROM orders GROUP BY o_orderpriority
    ),
    grand AS (
        SELECT sum(n * m) / sum(n) AS gm, sum(n) AS big_n,
               count(*)::DOUBLE AS k
        FROM groups
    )
    SELECT CAST(min(k) AS BIGINT) AS n_groups,
           CAST(min(big_n) AS BIGINT) AS n_total,
           round(sum(n * (m - gm) * (m - gm)) / (min(k) - 1), 4)
               AS between_ms,
           round(sum((n - 1) * v) / (min(big_n) - min(k)), 4) AS within_ms,
           round((sum(n * (m - gm) * (m - gm)) / (min(k) - 1))
                 / (sum((n - 1) * v) / (min(big_n) - min(k))), 6) AS f_stat
    FROM groups CROSS JOIN grand
    """,
)
def q283_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic: does order priority explain any variance
    in order totals? Between-group vs within-group mean squares from
    per-group moments only — the k-group generalization of q163's
    two-sample z-test, one reduction plus 5-row residue arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    groups = (orders.groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).cast("double").alias("n"),
                   F.avg("o_totalprice").alias("m"),
                   F.var_samp("o_totalprice").alias("v")))
    grand = groups.agg((F.sum(F.col("n") * F.col("m")) / F.sum("n"))
                       .alias("gm"),
                       F.sum("n").alias("big_n"),
                       F.count(F.lit(1)).cast("double").alias("k"))
    between = F.sum(F.col("n") * (F.col("m") - F.col("gm"))
                    * (F.col("m") - F.col("gm"))) / (F.min("k") - 1)
    within = F.sum((F.col("n") - 1) * F.col("v")) \
        / (F.min("big_n") - F.min("k"))
    return (groups.crossJoin(F.broadcast(grand))
            .agg(F.min("k").cast("bigint").alias("n_groups"),
                 F.min("big_n").cast("bigint").alias("n_total"),
                 F.round(between, 4).alias("between_ms"),
                 F.round(within, 4).alias("within_ms"),
                 F.round(between / within, 6).alias("f_stat")))


@register(
    "q284_effect_size",
    sql="""
    WITH g AS (
        SELECT event_type, count(*)::DOUBLE AS n,
               avg(value) AS m, var_samp(value) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ),
    wide AS (
        SELECT max(CASE WHEN event_type = 'click' THEN n END) AS n1,
               max(CASE WHEN event_type = 'click' THEN m END) AS m1,
               max(CASE WHEN event_type = 'click' THEN v END) AS v1,
               max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
               max(CASE WHEN event_type = 'purchase' THEN m END) AS m2,
               max(CASE WHEN event_type = 'purchase' THEN v END) AS v2
        FROM g
    )
    SELECT round(m1 - m2, 4) AS mean_diff,
           round(sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 4)
               AS pooled_sd,
           round((m1 - m2)
                 / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)), 6)
               AS cohens_d
    FROM wide
    """,
)
def q284_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size (pooled-SD standardized mean difference) for
    click vs purchase values — the practical-significance number that
    belongs next to every p-value the stats plane produces (q163 z, q173
    chi-square, q283 F): a tiny d with a significant p = big data, no
    effect. Residue-only arithmetic from per-group moments."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase")))
    g = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              F.avg("value").alias("m"), F.var_samp("value").alias("v")))
    def pick(c, t):
        return F.max(F.when(F.col("event_type") == t, F.col(c)))
    wide = g.agg(pick("n", "click").alias("n1"), pick("m", "click").alias("m1"),
                 pick("v", "click").alias("v1"),
                 pick("n", "purchase").alias("n2"),
                 pick("m", "purchase").alias("m2"),
                 pick("v", "purchase").alias("v2"))
    pooled = F.sqrt(((F.col("n1") - 1) * F.col("v1")
                     + (F.col("n2") - 1) * F.col("v2"))
                    / (F.col("n1") + F.col("n2") - 2))
    return wide.select(
        F.round(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        F.round(pooled, 4).alias("pooled_sd"),
        F.round((F.col("m1") - F.col("m2")) / pooled, 6).alias("cohens_d"))


_Q286_REPLICAS = 32
# Poisson(1) inverse-CDF thresholds: cumulative e^-1 * sum(1/k!), k=0..5
_Q286_CDF = ("0.3678794412", "0.7357588823", "0.9196986029",
             "0.9810118431", "0.9963401532", "0.9994058152")


def _q286_u_sql(g: int, lane: int) -> str:
    """One 32-bit uniform: lane ``lane`` (of 4) of the per-group md5."""
    off = 1 + 8 * lane
    return (f"CAST(('0x' || substr(md5('boot-{g}-' || "
            f"CAST(event_id AS VARCHAR)), {off}, 8)) AS BIGINT)"
            " / 4294967296.0")


def _q286_oracle() -> str:
    """Generate the DuckDB twin of the single-pass bootstrap below: the
    same 64 aggregate expressions, means unnested from a list."""
    ws, aggs, ms = [], [], []
    for b in range(_Q286_REPLICAS):
        g, lane = divmod(b, 4)
        u = _q286_u_sql(g, lane)
        case = " ".join(f"WHEN {u} < {t} THEN {k}"
                        for k, t in enumerate(_Q286_CDF))
        ws.append(f"CASE {case} ELSE 6 END AS w{b}")
        aggs.append(f"sum(w{b} * value) AS s{b}, sum(w{b}) AS c{b}")
        ms.append(f"s{b} / c{b}")
    return f"""
    WITH f AS (
        SELECT value, {', '.join(ws)}
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT count(*) AS n, avg(value) AS pm, {', '.join(aggs)}
        FROM f
    ),
    m AS (
        SELECT n, pm, unnest([{', '.join(ms)}]) AS m FROM s
    )
    SELECT CAST(min(n) AS BIGINT) AS n_rows,
           round(min(pm), 4) AS point_mean,
           round(avg(m), 4) AS boot_mean,
           round(stddev_samp(m), 6) AS boot_se,
           round(min(pm) - 1.96 * stddev_samp(m), 4) AS ci_lo,
           round(min(pm) + 1.96 * stddev_samp(m), 4) AS ci_hi
    FROM m
    """


@register("q286_poisson_bootstrap", sql=_q286_oracle())
def q286_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: the distributed-scale resampling method. A true
    bootstrap resamples n rows WITH replacement — impossible to coordinate
    across executors — but each row's multiplicity in a replica is
    asymptotically Poisson(1), so every row independently draws 32 Poisson
    weights (deterministic md5-derived uniforms through the Poisson(1)
    inverse CDF) and each replica mean is one weighted aggregation.

    Round-4 form: each 128-bit md5 yields FOUR 32-bit uniforms, so hashing
    is 8 md5/row instead of 32 (seeded 'boot-{group}-'), and the 32 weights
    are built inside array higher-order functions — ONE small lambda tree
    that Catalyst analyzes once, not 64 named CASE columns (a measured
    ~6 s of driver-side analysis time at that width). posexplode then fans
    each row into its 32 (replica, weight) pairs — only (b, w, value)
    triples widen, never the hashes — and groupBy(b) partial-aggregates
    map-side, so the shuffle is 32 tiny partial rows per partition
    regardless of fact size. No driver collect; the replica residue (32
    means) broadcasts into the final CI aggregate."""
    ev = scan_parallel(load_table(spark, sf_dir, "events")
                       .filter(F.col("event_type") == "purchase")
                       .select("event_id", "value"))
    hashes = F.array(*[
        F.md5(F.concat(F.lit(f"boot-{g}-"), F.col("event_id").cast("string")))
        for g in range(_Q286_REPLICAS // 4)])
    u_arr = F.flatten(F.transform(hashes, lambda h: F.array(*[
        F.conv(F.substring(h, 1 + 8 * lane, 8), 16, 10).cast("bigint")
        / F.lit(4294967296.0) for lane in range(4)])))
    # w = #thresholds below u: branch-free Poisson(1) inverse CDF, u bound
    # once per element by the lambda (no duplicated conv(substr(md5)) trees)
    w_arr = F.transform(u_arr, lambda u: sum(
        (u >= float(t)).cast("int") for t in _Q286_CDF))
    pairs = ev.select("value", F.posexplode(w_arr).alias("b", "w"))
    rep_means = (pairs.groupBy("b")
                 .agg((F.sum(F.col("w") * F.col("value")) / F.sum("w"))
                      .alias("m")))
    point = ev.agg(F.avg("value").alias("pm"), F.count(F.lit(1)).alias("n"))
    return (rep_means.crossJoin(F.broadcast(point))
            .agg(F.min("n").cast("bigint").alias("n_rows"),
                 F.round(F.min("pm"), 4).alias("point_mean"),
                 F.round(F.avg("m"), 4).alias("boot_mean"),
                 F.round(F.stddev_samp("m"), 6).alias("boot_se"),
                 F.round(F.min("pm") - 1.96 * F.stddev_samp("m"), 4)
                 .alias("ci_lo"),
                 F.round(F.min("pm") + 1.96 * F.stddev_samp("m"), 4)
                 .alias("ci_hi")))


@register(
    "q287_fdr_bh",
    sql="""
    WITH g AS (
        SELECT avg(c_acctbal) AS gm, stddev_pop(c_acctbal) AS gs
        FROM customer
    ),
    per_nation AS (
        SELECT n.n_name, count(*)::DOUBLE AS n, avg(c.c_acctbal) AS m
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    z AS (
        SELECT n_name, n,
               abs((m - g.gm) / (g.gs / sqrt(n))) AS az
        FROM per_nation CROSS JOIN g
    ),
    p AS (
        SELECT n_name, n,
               az,
               2 * (exp(-az * az / 2) / 2.5066282746310002)
                 * (0.319381530 * (1 / (1 + 0.2316419 * az))
                    - 0.356563782 * pow(1 / (1 + 0.2316419 * az), 2)
                    + 1.781477937 * pow(1 / (1 + 0.2316419 * az), 3)
                    - 1.821255978 * pow(1 / (1 + 0.2316419 * az), 4)
                    + 1.330274429 * pow(1 / (1 + 0.2316419 * az), 5))
                   AS pval
        FROM z
    ),
    ranked AS (
        SELECT n_name, n, az, pval,
               row_number() OVER (ORDER BY pval, n_name) AS rnk,
               count(*) OVER () AS m_hyp
        FROM p
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN pval <= rnk * 0.10 / m_hyp THEN rnk END)
                   OVER () AS k
        FROM ranked
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_cust,
           round(az, 4) AS abs_z, round(pval, 6) AS p_value,
           CAST(rnk AS BIGINT) AS p_rank,
           round(rnk * 0.10 / m_hyp, 6) AS bh_threshold,
           CAST(CASE WHEN k IS NOT NULL AND rnk <= k THEN 1 ELSE 0 END
                AS BIGINT) AS rejected
    FROM cut
    ORDER BY p_rank
    """,
)
def q287_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over 25 simultaneous
    hypotheses (is each nation's mean account balance shifted from the
    global mean?). Per-nation z from two tiny aggregates (global moments
    broadcast over the per-nation reduction), two-sided p via the
    Abramowitz-Stegun 7.1.26 normal-tail polynomial (pure arithmetic, so
    the DuckDB oracle reproduces it bit-for-bit), then the BH step-up rule
    as window functions: reject every p ranked at or below the largest rank
    whose p <= rank/m * alpha. The multiple-testing guard every metrics
    plane that fans out per-segment tests (q163, q280, q283) needs."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    g = cust.agg(F.avg("c_acctbal").alias("gm"),
                 F.stddev_pop("c_acctbal").alias("gs"))
    per_nation = (cust.join(F.broadcast(nation),
                            cust.c_nationkey == nation.n_nationkey)
                  .groupBy("n_name")
                  .agg(F.count(F.lit(1)).cast("double").alias("n"),
                       F.avg("c_acctbal").alias("m")))
    az = F.abs((F.col("m") - F.col("gm")) / (F.col("gs") / F.sqrt("n")))
    t = 1 / (1 + 0.2316419 * F.col("az"))
    pval = (2 * (F.exp(-F.col("az") * F.col("az") / 2) / 2.5066282746310002)
            * (0.319381530 * t - 0.356563782 * F.pow(t, 2)
               + 1.781477937 * F.pow(t, 3) - 1.821255978 * F.pow(t, 4)
               + 1.330274429 * F.pow(t, 5)))
    ranked = (per_nation.crossJoin(F.broadcast(g))
              .withColumn("az", az)
              .withColumn("pval", pval)
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy("pval", "n_name")))
              .withColumn("m_hyp", F.count(F.lit(1)).over(
                  Window.partitionBy())))
    cut = ranked.withColumn(
        "k", F.max(F.when(F.col("pval") <= F.col("rnk") * 0.10
                          / F.col("m_hyp"), F.col("rnk")))
        .over(Window.partitionBy()))
    return (cut.select(
        "n_name", F.col("n").cast("bigint").alias("n_cust"),
        F.round("az", 4).alias("abs_z"),
        F.round("pval", 6).alias("p_value"),
        F.col("rnk").cast("bigint").alias("p_rank"),
        F.round(F.col("rnk") * 0.10 / F.col("m_hyp"), 6)
        .alias("bh_threshold"),
        F.when(F.col("k").isNotNull() & (F.col("rnk") <= F.col("k")), 1)
        .otherwise(0).cast("bigint").alias("rejected"))
        .orderBy("p_rank"))


@register(
    "q288_isotonic_calibration",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
                     12) AS score,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS label
        FROM events GROUP BY user_id
    ),
    bins AS (
        SELECT score, count(*)::DOUBLE AS w, avg(label::DOUBLE) AS y
        FROM per_user GROUP BY score
    ),
    pre AS (
        SELECT score, w, y,
               sum(w) OVER (ORDER BY score) AS cw,
               sum(w * y) OVER (ORDER BY score) AS cwy
        FROM bins
    ),
    inner_min AS (
        SELECT i.score AS score, j.score AS j_score,
               min((k.cwy - j.cwy + j.w * j.y) / (k.cw - j.cw + j.w))
                   AS seg_min
        FROM pre i
        JOIN pre j ON j.score <= i.score
        JOIN pre k ON k.score >= i.score
        GROUP BY i.score, j.score
    ),
    iso AS (
        SELECT score, max(seg_min) AS iso_val
        FROM inner_min GROUP BY score
    )
    SELECT CAST(b.score AS BIGINT) AS score,
           CAST(b.w AS BIGINT) AS n_users,
           round(b.y, 6) AS raw_rate,
           round(i.iso_val, 6) AS iso_rate
    FROM bins b JOIN iso i USING (score)
    ORDER BY score
    """,
)
def q288_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of conversion rate vs engagement
    score — the model-calibration step between raw bin rates and a served
    probability. Spark side: one reduction to <=13 (score, weight, rate)
    bins, then the weighted pool-adjacent-violators algorithm in a single
    bounded applyInPandas group (functions/udfs.py:pav_isotonic). The
    DuckDB oracle solves the SAME optimization through the O(B^3) minimax
    identity iso[i] = max_{j<=i} min_{k>=i} wmean(j..k) on the tiny bin
    relation — two genuinely different algorithms, one answer, which is
    the strongest kind of oracle check."""
    from ..functions.udfs import pav_isotonic

    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.least(F.sum(F.when(F.col("event_type") == "click", 1)
                                   .otherwise(0)), F.lit(12)).alias("score"),
                     F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).alias("label")))
    bins = (per_user.groupBy("score")
            .agg(F.count(F.lit(1)).cast("double").alias("w"),
                 F.avg(F.col("label").cast("double")).alias("y")))
    return (bins.withColumn("g", F.lit(0))
            .groupBy("g")
            .applyInPandas(
                pav_isotonic,
                "score bigint, n_users bigint, raw_rate double, "
                "iso_rate double")
            .orderBy("score"))


@register(
    "q290_cuped",
    sql="""
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2 AS mid_us
        FROM events
    ),
    per_user AS (
        SELECT user_id,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                          AS BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant,
               sum(CASE WHEN epoch_us(ts) <= b.mid_us THEN 1 ELSE 0 END)
                   ::DOUBLE AS x,
               coalesce(sum(CASE WHEN epoch_us(ts) > b.mid_us
                                 THEN value END), 0) AS y
        FROM events CROSS JOIN bounds b
        GROUP BY user_id
    ),
    stats AS (
        SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS mx
        FROM per_user
    ),
    adj AS (
        SELECT variant, y,
               y - s.theta * (x - s.mx) AS y_adj
        FROM per_user CROSS JOIN stats s
    ),
    pooled AS (
        SELECT min(s.theta) AS theta,
               1 - var_pop(y_adj) / var_pop(y) AS var_red
        FROM adj CROSS JOIN stats s
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(y), 4) AS raw_mean,
           round(avg(y_adj), 4) AS adj_mean,
           round(min(p.theta), 6) AS theta,
           round(min(p.var_red), 6) AS var_reduction
    FROM adj CROSS JOIN pooled p
    GROUP BY variant
    ORDER BY variant
    """,
)
def q290_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B plane (q261/q163): adjust each
    user's experiment-period metric by their PRE-period activity,
    y' = y - theta * (x - mean(x)) with theta = cov(x,y)/var(x) — the
    industry-standard trick that shrinks metric variance (here measured as
    `var_reduction`) without biasing the treatment/control difference.
    Pre/post split at the time midpoint; assignment is the same md5 hash
    split as q261. Two reductions over the per-user residue: one for the
    pooled moments (broadcast back), one for the per-arm means."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(((F.unix_micros(F.min("ts").cast("timestamp"))
                      + F.unix_micros(F.max("ts").cast("timestamp"))) / 2)
                    .alias("mid_us"))
    variant = (F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("exp1-"),
                                          F.col("user_id").cast("string"))),
                           1, 8), 16, 10).cast("bigint") % 2 == 0,
        "control").otherwise("treatment"))
    per_user = (ev.crossJoin(F.broadcast(bounds))
                .groupBy("user_id")
                .agg(F.sum(F.when(F.unix_micros(F.col("ts")
                                                .cast("timestamp"))
                                  <= F.col("mid_us"), 1)
                           .otherwise(0)).cast("double").alias("x"),
                     F.coalesce(
                         F.sum(F.when(F.unix_micros(F.col("ts")
                                                    .cast("timestamp"))
                                      > F.col("mid_us"),
                                      F.col("value"))), F.lit(0.0))
                     .alias("y"))
                .withColumn("variant", variant))
    stats = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
        F.avg("x").alias("mx"))
    adj = (per_user.crossJoin(F.broadcast(stats))
           .withColumn("y_adj", F.col("y") - F.col("theta")
                       * (F.col("x") - F.col("mx"))))
    pooled = (adj.agg(F.min("theta").alias("theta"),
                      (1 - F.var_pop("y_adj") / F.var_pop("y"))
                      .alias("var_red")))
    return (adj.crossJoin(F.broadcast(pooled.withColumnRenamed(
                "theta", "p_theta")))
            .groupBy("variant")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.round(F.avg("y"), 4).alias("raw_mean"),
                 F.round(F.avg("y_adj"), 4).alias("adj_mean"),
                 F.round(F.min("p_theta"), 6).alias("theta"),
                 F.round(F.min("var_red"), 6).alias("var_reduction"))
            .orderBy("variant"))


@register(
    "q292_conformal_interval",
    sql="""
    WITH split AS (
        SELECT *, CAST(('0x' || substr(md5('conf-' || o_orderkey), 1, 8))
                       AS BIGINT) % 10 AS b
        FROM orders
    ),
    model AS (
        SELECT o_orderpriority, avg(o_totalprice) AS pred
        FROM split WHERE b <= 5 GROUP BY o_orderpriority
    ),
    qhat AS (
        SELECT s.o_orderpriority,
               quantile_cont(abs(s.o_totalprice - m.pred), 0.9) AS q_hat
        FROM split s JOIN model m USING (o_orderpriority)
        WHERE s.b IN (6, 7)
        GROUP BY s.o_orderpriority
    )
    SELECT s.o_orderpriority,
           round(min(m.pred), 4) AS pred,
           round(min(q.q_hat), 4) AS q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           round(avg(CASE WHEN abs(s.o_totalprice - m.pred) <= q.q_hat
                          THEN 1.0 ELSE 0.0 END), 6) AS coverage
    FROM split s
    JOIN model m USING (o_orderpriority)
    JOIN qhat q USING (o_orderpriority)
    WHERE s.b IN (8, 9)
    GROUP BY s.o_orderpriority
    ORDER BY s.o_orderpriority
    """,
)
def q292_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: hash-split orders 60/20/20
    into train/calibration/test, fit a trivial per-priority mean model on
    train, take the 90th-percentile absolute residual on calibration as
    the interval half-width q_hat, then measure empirical coverage on the
    held-out test split — the distribution-free way to attach honest
    uncertainty to ANY point model, and at scale it is just three grouped
    aggregations over one deterministic md5 split (no row ever moves twice:
    the model and q_hat residues broadcast back onto the fact)."""
    orders = load_table(spark, sf_dir, "orders")
    b = (F.conv(F.substring(
        F.md5(F.concat(F.lit("conf-"), F.col("o_orderkey").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 10)
    split = orders.withColumn("b", b)
    model = (split.filter(F.col("b") <= 5)
             .groupBy("o_orderpriority")
             .agg(F.avg("o_totalprice").alias("pred")))
    resid = F.abs(F.col("o_totalprice") - F.col("pred"))
    qhat = (split.filter(F.col("b").isin(6, 7))
            .join(F.broadcast(model), "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.percentile(resid, 0.9).alias("q_hat")))
    return (split.filter(F.col("b").isin(8, 9))
            .join(F.broadcast(model), "o_orderpriority")
            .join(F.broadcast(qhat), "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.round(F.min("pred"), 4).alias("pred"),
                 F.round(F.min("q_hat"), 4).alias("q_hat"),
                 F.count(F.lit(1)).cast("bigint").alias("n_test"),
                 F.round(F.avg(F.when(resid <= F.col("q_hat"), 1.0)
                               .otherwise(0.0)), 6).alias("coverage"))
            .orderBy("o_orderpriority"))


@register(
    "q293_quota_allocation",
    sql="""
    WITH counts AS (
        SELECT n.n_name, count(*)::DOUBLE AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    shares AS (
        SELECT n_name, n_cust,
               1000.0 * n_cust / sum(n_cust) OVER () AS exact_share,
               floor(1000.0 * n_cust / sum(n_cust) OVER ()) AS base
        FROM counts
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY exact_share - base DESC, n_name)
                   AS frac_rank,
               1000 - sum(base) OVER () AS leftover
        FROM shares
    )
    SELECT n_name, CAST(n_cust AS BIGINT) AS n_cust,
           round(exact_share, 4) AS exact_share,
           CAST(base + CASE WHEN frac_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS final_alloc
    FROM ranked
    ORDER BY n_name
    """,
)
def q293_quota_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder quota allocation: split a fixed sampling budget
    (1000 rows) across nation strata exactly proportional to population —
    floor every exact share, then hand the leftover units to the largest
    fractional remainders (deterministic tie-break on name). This is how a
    stratified-sampling plan turns real-valued proportions into integer
    per-stratum quotas that sum EXACTLY to the budget, with no
    floating-point drift; the whole computation happens on the 25-row
    stratum residue after one reduction."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = (cust.join(F.broadcast(nation),
                        cust.c_nationkey == nation.n_nationkey)
              .groupBy("n_name")
              .agg(F.count(F.lit(1)).cast("double").alias("n_cust")))
    everything = Window.partitionBy()
    shares = counts.withColumn(
        "exact_share",
        1000.0 * F.col("n_cust") / F.sum("n_cust").over(everything)) \
        .withColumn("base", F.floor("exact_share"))
    ranked = (shares.withColumn(
        "frac_rank", F.row_number().over(
            Window.orderBy(F.desc(F.col("exact_share") - F.col("base")),
                           "n_name")))
        .withColumn("leftover", 1000 - F.sum("base").over(everything)))
    return (ranked.select(
        "n_name", F.col("n_cust").cast("bigint").alias("n_cust"),
        F.round("exact_share", 4).alias("exact_share"),
        (F.col("base") + F.when(F.col("frac_rank") <= F.col("leftover"), 1)
         .otherwise(0)).cast("bigint").alias("final_alloc"))
        .orderBy("n_name"))


@register(
    "q294_brier_decomposition",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('cal-' || user_id), 1, 8))
                    AS BIGINT) % 2 AS half,
               least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
                     12) AS score,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::DOUBLE AS y
        FROM events GROUP BY user_id
    ),
    model AS (
        SELECT score, avg(y) AS p
        FROM per_user WHERE half = 0 GROUP BY score
    ),
    test AS (
        SELECT t.y, m.p, t.score
        FROM per_user t JOIN model m USING (score)
        WHERE t.half = 1
    ),
    per_bin AS (
        SELECT score, min(p) AS p, count(*)::DOUBLE AS n_b, avg(y) AS ybar_b
        FROM test GROUP BY score
    ),
    overall AS (
        SELECT avg(y) AS ybar, count(*)::DOUBLE AS n, avg((p - y) * (p - y))
                   AS brier
        FROM test
    )
    SELECT CAST(min(o.n) AS BIGINT) AS n_test,
           round(min(o.brier), 6) AS brier,
           round(sum(b.n_b * (b.p - b.ybar_b) * (b.p - b.ybar_b)) / min(o.n),
                 6) AS reliability,
           round(sum(b.n_b * (b.ybar_b - o.ybar) * (b.ybar_b - o.ybar))
                 / min(o.n), 6) AS resolution,
           round(min(o.ybar) * (1 - min(o.ybar)), 6) AS uncertainty
    FROM per_bin b CROSS JOIN overall o
    """,
)
def q294_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score — the calibration audit that
    pairs with q288's isotonic fit: train per-score-bin conversion
    probabilities on half the users (md5 split), score the other half, and
    split the mean squared error into reliability (miscalibration) minus
    resolution (discrimination) plus irreducible uncertainty, which sum
    back to the Brier score as an identity. Everything reduces to bin
    residues; the model broadcasts onto the held-out half."""
    ev = load_table(spark, sf_dir, "events")
    half = (F.conv(F.substring(
        F.md5(F.concat(F.lit("cal-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    per_user = (ev.groupBy("user_id")
                .agg(F.least(F.sum(F.when(F.col("event_type") == "click", 1)
                                   .otherwise(0)), F.lit(12)).alias("score"),
                     F.max(F.when(F.col("event_type") == "purchase", 1)
                           .otherwise(0)).cast("double").alias("y"))
                .withColumn("half", half))
    model = (per_user.filter(F.col("half") == 0)
             .groupBy("score").agg(F.avg("y").alias("p")))
    test = (per_user.filter(F.col("half") == 1)
            .join(F.broadcast(model), "score")
            .select("score", "y", "p"))
    per_bin = (test.groupBy("score")
               .agg(F.min("p").alias("p"),
                    F.count(F.lit(1)).cast("double").alias("n_b"),
                    F.avg("y").alias("ybar_b")))
    overall = test.agg(F.avg("y").alias("ybar"),
                       F.count(F.lit(1)).cast("double").alias("n"),
                       F.avg((F.col("p") - F.col("y"))
                             * (F.col("p") - F.col("y"))).alias("brier"))
    return (per_bin.crossJoin(F.broadcast(overall))
            .agg(F.min("n").cast("bigint").alias("n_test"),
                 F.round(F.min("brier"), 6).alias("brier"),
                 F.round(F.sum(F.col("n_b")
                               * (F.col("p") - F.col("ybar_b"))
                               * (F.col("p") - F.col("ybar_b")))
                         / F.min("n"), 6).alias("reliability"),
                 F.round(F.sum(F.col("n_b")
                               * (F.col("ybar_b") - F.col("ybar"))
                               * (F.col("ybar_b") - F.col("ybar")))
                         / F.min("n"), 6).alias("resolution"),
                 F.round(F.min("ybar") * (1 - F.min("ybar")), 6)
                 .alias("uncertainty")))


@register(
    "q296_ols_normal_equations",
    sql="""
    WITH feats AS (
        SELECT l.l_orderkey,
               sum(l.l_quantity) AS x1,
               count(*)::DOUBLE AS x2,
               min(o.o_totalprice) AS y
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey
    ),
    mom AS (
        SELECT count(*)::DOUBLE AS n,
               avg(x1) AS m1, avg(x2) AS m2, avg(y) AS my,
               var_pop(x1) AS c11, covar_pop(x1, x2) AS c12,
               var_pop(x2) AS c22,
               covar_pop(x1, y) AS c1y, covar_pop(x2, y) AS c2y,
               var_pop(y) AS cyy
        FROM feats
    ),
    beta AS (
        SELECT n, m1, m2, my, cyy,
               (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
               (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
        FROM mom
    ),
    fit AS (
        SELECT b.n, b.my - b.b1 * b.m1 - b.b2 * b.m2 AS b0, b.b1, b.b2,
               avg(pow(f.y - (b.my - b.b1 * b.m1 - b.b2 * b.m2)
                       - b.b1 * f.x1 - b.b2 * f.x2, 2)) / b.cyy AS sse_frac
        FROM feats f CROSS JOIN beta b
        GROUP BY b.n, b.my, b.b1, b.b2, b.m1, b.m2, b.cyy
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           round(b0, 4) AS beta0, round(b1, 4) AS beta1,
           round(b2, 4) AS beta2,
           round(1 - sse_frac, 6) AS r2
    FROM fit
    """,
)
def q296_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature linear regression fit entirely in aggregates — the
    normal-equations pattern that scales to any row count because the
    model solve touches only MOMENTS: one pass computes the centered
    second-moment (Gram) matrix via var_pop/covar_pop, the 2x2 system is
    solved in closed form (Cramer), and a second pass broadcasts the
    coefficients back to score R^2. Centering the features first keeps the
    determinant well-conditioned (raw X'X products would cancel 10+
    digits). The k-feature generalization aggregates the k x k Gram matrix
    the same way and solves on the driver — the classic distributed-ML
    pattern q136's single-feature slope is a special case of."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    feats = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("x1"),
                  F.count(F.lit(1)).cast("double").alias("x2"),
                  F.min("o_totalprice").alias("y")))
    mom = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x1").alias("m1"), F.avg("x2").alias("m2"),
        F.avg("y").alias("my"),
        F.var_pop("x1").alias("c11"), F.covar_pop("x1", "x2").alias("c12"),
        F.var_pop("x2").alias("c22"),
        F.covar_pop("x1", "y").alias("c1y"),
        F.covar_pop("x2", "y").alias("c2y"),
        F.var_pop("y").alias("cyy"))
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    beta = mom.select(
        "n", "m1", "m2", "my", "cyy",
        ((F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det)
        .alias("b1"),
        ((F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det)
        .alias("b2"))
    pred_err = (F.col("y")
                - (F.col("my") - F.col("b1") * F.col("m1")
                   - F.col("b2") * F.col("m2"))
                - F.col("b1") * F.col("x1") - F.col("b2") * F.col("x2"))
    return (feats.crossJoin(F.broadcast(beta))
            .groupBy("n", "my", "b1", "b2", "m1", "m2", "cyy")
            .agg((F.avg(F.pow(pred_err, 2)) / F.col("cyy"))
                 .alias("sse_frac"))
            .select(F.col("n").cast("bigint").alias("n_orders"),
                    F.round(F.col("my") - F.col("b1") * F.col("m1")
                            - F.col("b2") * F.col("m2"), 4).alias("beta0"),
                    F.round("b1", 4).alias("beta1"),
                    F.round("b2", 4).alias("beta2"),
                    F.round(1 - F.col("sse_frac"), 6).alias("r2")))


@register(
    "q305_wasserstein_1d",
    sql="""
    WITH s AS (
        SELECT value AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    tot AS (SELECT sum(c)::DOUBLE AS nc, sum(p)::DOUBLE AS np FROM s),
    byv AS (SELECT v, sum(c) AS dc, sum(p) AS dp FROM s GROUP BY v),
    cdf AS (
        SELECT v,
               sum(dc) OVER (ORDER BY v) / t.nc AS f1,
               sum(dp) OVER (ORDER BY v) / t.np AS f2,
               lead(v) OVER (ORDER BY v) AS nv
        FROM byv CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_values,
           round(sum(abs(f1 - f2) * (nv - v)), 4) AS w1_distance,
           round(max(abs(f1 - f2)), 6) AS ks_gap
    FROM cdf WHERE nv IS NOT NULL
    """,
)
def q305_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the click and
    purchase value distributions — the drift metric that, unlike KS (q264)
    or PSI (q205), weighs HOW FAR mass moved, not just that it moved:
    W1 = integral of |F1 - F2| over the merged support, computed exactly
    as a running-CDF window with lead() step widths. Same
    residue-single-partition contract as q264 (one row per DISTINCT value
    after the groupBy); at 100 TB the integral computes from per-bucket
    CDFs with bounded error instead of the exact support."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase")))
    s = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"))
    tot = s.agg(F.sum("c").cast("double").alias("nc"),
                F.sum("p").cast("double").alias("np"))
    byv = s.groupBy("v").agg(F.sum("c").alias("dc"), F.sum("p").alias("dp"))
    w = Window.orderBy("v")
    cdf = (byv.crossJoin(F.broadcast(tot))
           .select("v",
                   (F.sum("dc").over(w) / F.col("nc")).alias("f1"),
                   (F.sum("dp").over(w) / F.col("np")).alias("f2"),
                   F.lead("v").over(w).alias("nv")))
    gap = F.abs(F.col("f1") - F.col("f2"))
    return (cdf.filter(F.col("nv").isNotNull())
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_values"),
                 F.round(F.sum(gap * (F.col("nv") - F.col("v"))), 4)
                 .alias("w1_distance"),
                 F.round(F.max(gap), 6).alias("ks_gap")))


@register(
    "q306_tail_dependence",
    sql="""
    WITH th AS (
        SELECT quantile_cont(l_quantity, 0.95) AS qh,
               quantile_cont(l_quantity, 0.05) AS ql,
               quantile_cont(l_extendedprice, 0.95) AS ph,
               quantile_cont(l_extendedprice, 0.05) AS pl
        FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(min(th.qh), 4) AS qty_p95,
           round(min(th.ph), 4) AS price_p95,
           round(sum(CASE WHEN l_quantity > th.qh
                           AND l_extendedprice > th.ph
                          THEN 1.0 ELSE 0.0 END)
                 / nullif(sum(CASE WHEN l_quantity > th.qh
                              THEN 1.0 ELSE 0.0 END), 0), 6)
               AS lambda_upper,
           round(sum(CASE WHEN l_quantity <= th.ql
                           AND l_extendedprice <= th.pl
                          THEN 1.0 ELSE 0.0 END)
                 / nullif(sum(CASE WHEN l_quantity <= th.ql
                              THEN 1.0 ELSE 0.0 END), 0), 6)
               AS lambda_lower
    FROM lineitem CROSS JOIN th
    """,
)
def q306_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence coefficients between quantity and price:
    given one variable is in its extreme 5% tail, how often is the other
    too? Pearson correlation (q119) misses exactly this — two variables
    can be uncorrelated in the bulk yet move together in the tails (the
    co-extreme behavior that breaks capacity plans and risk models). One
    percentile aggregate broadcasts four thresholds back over the fact;
    the conditional fractions are plain filtered ratios."""
    li = load_table(spark, sf_dir, "lineitem")
    th = li.agg(F.percentile("l_quantity", 0.95).alias("qh"),
                F.percentile("l_quantity", 0.05).alias("ql"),
                F.percentile("l_extendedprice", 0.95).alias("ph"),
                F.percentile("l_extendedprice", 0.05).alias("pl"))
    up_cond = F.when(F.col("l_quantity") > F.col("qh"), 1.0).otherwise(0.0)
    up_both = F.when((F.col("l_quantity") > F.col("qh"))
                     & (F.col("l_extendedprice") > F.col("ph")), 1.0) \
        .otherwise(0.0)
    lo_cond = F.when(F.col("l_quantity") <= F.col("ql"), 1.0).otherwise(0.0)
    lo_both = F.when((F.col("l_quantity") <= F.col("ql"))
                     & (F.col("l_extendedprice") <= F.col("pl")), 1.0) \
        .otherwise(0.0)
    return (li.crossJoin(F.broadcast(th))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.round(F.min("qh"), 4).alias("qty_p95"),
                 F.round(F.min("ph"), 4).alias("price_p95"),
                 F.round(F.sum(up_both)
                         / F.nullif(F.sum(up_cond), F.lit(0.0)), 6)
                 .alias("lambda_upper"),
                 F.round(F.sum(lo_both)
                         / F.nullif(F.sum(lo_cond), F.lit(0.0)), 6)
                 .alias("lambda_lower")))


@register(
    "q308_srm_check",
    sql="""
    WITH assign AS (
        SELECT CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                    AS BIGINT) % 2 AS arm
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    counts AS (
        SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1
        FROM assign
    ),
    chi AS (
        SELECT n0, n1,
               pow(n0 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2)
               + pow(n1 - (n0 + n1) / 2, 2) / ((n0 + n1) / 2) AS x2
        FROM counts
    )
    SELECT CAST(n0 AS BIGINT) AS n_control,
           CAST(n1 AS BIGINT) AS n_treatment,
           round(x2, 6) AS chi2,
           round(2 * (exp(-x2 / 2) / 2.5066282746310002)
                 * (0.319381530 * (1 / (1 + 0.2316419 * sqrt(x2)))
                    - 0.356563782 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 2)
                    + 1.781477937 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 3)
                    - 1.821255978 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 4)
                    + 1.330274429 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 5)),
                 6) AS p_value,
           CAST(CASE WHEN 2 * (exp(-x2 / 2) / 2.5066282746310002)
                 * (0.319381530 * (1 / (1 + 0.2316419 * sqrt(x2)))
                    - 0.356563782 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 2)
                    + 1.781477937 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 3)
                    - 1.821255978 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 4)
                    + 1.330274429 * pow(1 / (1 + 0.2316419 * sqrt(x2)), 5))
                 < 0.001 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
    FROM chi
    """,
)
def q308_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate every experiment
    readout must pass before anyone reads q261/q290's treatment effects: a
    1-df chi-square of observed arm counts against the designed 50/50
    split, with the p-value through the chi-square(1) = Z^2 identity and
    the same A&S normal-tail polynomial as q287 (pure arithmetic, so the
    oracle matches bit-for-bit). p < 0.001 flags broken randomization —
    the industry threshold, because SRM at scale is essentially never
    chance. One distinct + one reduction; everything else is residue
    arithmetic on a single row."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    counts = (ev.select("user_id").distinct()
              .select(arm.alias("arm"))
              .agg(F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
                   .cast("double").alias("n0"),
                   F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
                   .cast("double").alias("n1")))
    half = (F.col("n0") + F.col("n1")) / 2
    chi = counts.withColumn(
        "x2", F.pow(F.col("n0") - half, 2) / half
        + F.pow(F.col("n1") - half, 2) / half)
    z = F.sqrt(F.col("x2"))
    t = 1 / (1 + 0.2316419 * z)
    pval = (2 * (F.exp(-F.col("x2") / 2) / 2.5066282746310002)
            * (0.319381530 * t - 0.356563782 * F.pow(t, 2)
               + 1.781477937 * F.pow(t, 3) - 1.821255978 * F.pow(t, 4)
               + 1.330274429 * F.pow(t, 5)))
    return chi.select(
        F.col("n0").cast("bigint").alias("n_control"),
        F.col("n1").cast("bigint").alias("n_treatment"),
        F.round("x2", 6).alias("chi2"),
        F.round(pval, 6).alias("p_value"),
        F.when(pval < 0.001, 1).otherwise(0).cast("bigint")
        .alias("srm_flag"))


@register(
    "q313_effect_heterogeneity",
    sql="""
    WITH per_user AS (
        SELECT e.user_id,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || e.user_id), 1, 8))
                          AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm,
               coalesce(sum(CASE WHEN e.event_type = 'purchase'
                                 THEN e.value END), 0) AS y,
               min(c.c_mktsegment) AS seg
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.user_id
    ),
    cells AS (
        SELECT seg,
               sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::DOUBLE AS nt,
               avg(CASE WHEN arm = 1 THEN y END) AS mt,
               var_samp(CASE WHEN arm = 1 THEN y END) AS vt,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::DOUBLE AS nc,
               avg(CASE WHEN arm = 0 THEN y END) AS mc,
               var_samp(CASE WHEN arm = 0 THEN y END) AS vc
        FROM per_user GROUP BY seg
    ),
    eff AS (
        SELECT seg, nt, nc,
               mt - mc AS d,
               vt / nt + vc / nc AS v
        FROM cells WHERE nt > 1 AND nc > 1
    ),
    wtd AS (
        SELECT seg, nt, nc, d, 1 / v AS w FROM eff WHERE v > 0
    ),
    pooled AS (
        SELECT sum(w * d) / sum(w) AS pe,
               count(*)::DOUBLE AS k
        FROM wtd
    ),
    q AS (
        SELECT min(p.pe) AS pe, min(p.k) AS k,
               sum(w.w * (w.d - p.pe) * (w.d - p.pe)) AS qstat
        FROM wtd w CROSS JOIN pooled p
    )
    SELECT w.seg,
           CAST(w.nt AS BIGINT) AS n_treat,
           CAST(w.nc AS BIGINT) AS n_ctrl,
           round(w.d, 6) AS effect,
           round(min(q.pe), 6) AS pooled_effect,
           round(min(q.qstat), 6) AS cochran_q,
           round(greatest(0, (min(q.qstat) - (min(q.k) - 1))
                             / nullif(min(q.qstat), 0)), 6) AS i_squared
    FROM wtd w CROSS JOIN q
    GROUP BY w.seg, w.nt, w.nc, w.d
    ORDER BY w.seg
    """,
)
def q313_effect_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treatment-effect heterogeneity meta-analysis across customer
    segments: per-segment conversion lift with its variance, the
    inverse-variance pooled (fixed-effect) estimate, Cochran's Q and the
    I^2 statistic — the readout that says whether one experiment number is
    honest or the effect differs by segment (I^2 near 1 = don't ship a
    single global decision). Reuses q261's hash assignment; everything
    after the per-user reduction is residue arithmetic on <= 5 segment
    cells."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    per_user = (ev.join(F.broadcast(cust),
                        ev.user_id == cust.c_custkey)
                .groupBy("user_id")
                .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))), F.lit(0.0)).alias("y"),
                     F.min("c_mktsegment").alias("seg"))
                .withColumn("arm", arm))
    t_y = F.when(F.col("arm") == 1, F.col("y"))
    c_y = F.when(F.col("arm") == 0, F.col("y"))
    cells = (per_user.groupBy("seg")
             .agg(F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
                  .cast("double").alias("nt"),
                  F.avg(t_y).alias("mt"), F.var_samp(t_y).alias("vt"),
                  F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
                  .cast("double").alias("nc"),
                  F.avg(c_y).alias("mc"), F.var_samp(c_y).alias("vc")))
    eff = (cells.filter((F.col("nt") > 1) & (F.col("nc") > 1))
           .withColumn("d", F.col("mt") - F.col("mc"))
           .withColumn("v", F.col("vt") / F.col("nt")
                       + F.col("vc") / F.col("nc")))
    wtd = eff.filter(F.col("v") > 0).withColumn("w", 1 / F.col("v"))
    pooled = wtd.agg((F.sum(F.col("w") * F.col("d")) / F.sum("w"))
                     .alias("pe"),
                     F.count(F.lit(1)).cast("double").alias("k"))
    q = (wtd.crossJoin(F.broadcast(pooled))
         .agg(F.min("pe").alias("pe"), F.min("k").alias("k"),
              F.sum(F.col("w") * (F.col("d") - F.col("pe"))
                    * (F.col("d") - F.col("pe"))).alias("qstat")))
    return (wtd.crossJoin(F.broadcast(q))
            .groupBy("seg", "nt", "nc", "d")
            .agg(F.round(F.min("pe"), 6).alias("pooled_effect"),
                 F.round(F.min("qstat"), 6).alias("cochran_q"),
                 F.round(F.greatest(
                     F.lit(0.0),
                     (F.min("qstat") - (F.min("k") - 1))
                     / F.nullif(F.min("qstat"), F.lit(0.0))), 6)
                 .alias("i_squared"))
            .select("seg",
                    F.col("nt").cast("bigint").alias("n_treat"),
                    F.col("nc").cast("bigint").alias("n_ctrl"),
                    F.round("d", 6).alias("effect"),
                    "pooled_effect", "cochran_q", "i_squared")
            .orderBy("seg"))


@register(
    "q314_threshold_selection",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
                     12) AS score,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS label
        FROM events GROUP BY user_id
    ),
    th AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10,11,12]) AS t),
    conf AS (
        SELECT th.t,
               sum(CASE WHEN score >= th.t AND label = 1
                        THEN 1 ELSE 0 END)::DOUBLE AS tp,
               sum(CASE WHEN score >= th.t AND label = 0
                        THEN 1 ELSE 0 END)::DOUBLE AS fp,
               sum(CASE WHEN score < th.t AND label = 1
                        THEN 1 ELSE 0 END)::DOUBLE AS fn,
               sum(CASE WHEN score < th.t AND label = 0
                        THEN 1 ELSE 0 END)::DOUBLE AS tn
        FROM per_user CROSS JOIN th
        GROUP BY th.t
    ),
    scored AS (
        SELECT t, tp, fp, fn, tn,
               tp / nullif(tp + fp, 0) AS prec,
               tp / nullif(tp + fn, 0) AS rec,
               2 * tp / nullif(2 * tp + fp + fn, 0) AS f1,
               tp / nullif(tp + fn, 0) + tn / nullif(tn + fp, 0) - 1
                   AS youden
        FROM conf
    )
    SELECT CAST(t AS BIGINT) AS threshold,
           round(coalesce(prec, 0), 6) AS precision_,
           round(coalesce(rec, 0), 6) AS recall_,
           round(coalesce(f1, 0), 6) AS f1,
           round(coalesce(youden, 0), 6) AS youden_j,
           CAST(CASE WHEN f1 = max(f1) OVER () THEN 1 ELSE 0 END AS BIGINT)
               AS is_best_f1
    FROM scored
    ORDER BY threshold
    """,
)
def q314_threshold_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-threshold selection for the engagement-score classifier:
    the full confusion matrix at every candidate threshold in one
    aggregation pass (threshold dimension broadcast against the per-user
    residue, exactly q282's candidate-evaluation shape), scored with
    precision / recall / F1 / Youden's J, and the F1-argmax flagged. The
    companion to q265's threshold-free AUC — AUC says the score ranks
    well, this says where to CUT it."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.least(F.sum(F.when(F.col("event_type") == "click", 1)
                                   .otherwise(0)), F.lit(12)).alias("score"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).alias("label")))
    th = spark.range(1, 13).select(F.col("id").alias("t"))
    pos = F.col("score") >= F.col("t")
    conf = (per_user.crossJoin(F.broadcast(th))
            .groupBy("t")
            .agg(*[e.cast("double").alias(a) for e, a in [
                (F.sum(F.when(pos & (F.col("label") == 1), 1).otherwise(0)),
                 "tp"),
                (F.sum(F.when(pos & (F.col("label") == 0), 1).otherwise(0)),
                 "fp"),
                (F.sum(F.when(~pos & (F.col("label") == 1), 1).otherwise(0)),
                 "fn"),
                (F.sum(F.when(~pos & (F.col("label") == 0), 1).otherwise(0)),
                 "tn")]]))
    prec = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0.0))
    rec = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0.0))
    f1 = 2 * F.col("tp") / F.nullif(2 * F.col("tp") + F.col("fp")
                                    + F.col("fn"), F.lit(0.0))
    spec = F.col("tn") / F.nullif(F.col("tn") + F.col("fp"), F.lit(0.0))
    scored = (conf.withColumn("prec", prec).withColumn("rec", rec)
              .withColumn("f1", f1).withColumn("youden", rec + spec - 1))
    return (scored.select(
        F.col("t").cast("bigint").alias("threshold"),
        F.round(F.coalesce("prec", F.lit(0.0)), 6).alias("precision_"),
        F.round(F.coalesce("rec", F.lit(0.0)), 6).alias("recall_"),
        F.round(F.coalesce("f1", F.lit(0.0)), 6).alias("f1"),
        F.round(F.coalesce("youden", F.lit(0.0)), 6).alias("youden_j"),
        F.when(F.col("f1") == F.max("f1").over(Window.partitionBy()), 1)
        .otherwise(0).cast("bigint").alias("is_best_f1"))
        .orderBy("threshold"))


@register(
    "q319_mde_power",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0) AS y,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                          AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm
        FROM events GROUP BY user_id
    ),
    moments AS (
        SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::DOUBLE AS nt,
               sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::DOUBLE AS nc,
               var_samp(y) AS v, avg(y) AS mean_y
        FROM per_user
    )
    SELECT CAST(nt AS BIGINT) AS n_treat,
           CAST(nc AS BIGINT) AS n_ctrl,
           round(mean_y, 4) AS mean_outcome,
           round(sqrt(v), 4) AS sd_outcome,
           round((1.959964 + 0.841621) * sqrt(v / nt + v / nc), 4)
               AS mde_absolute,
           round((1.959964 + 0.841621) * sqrt(v / nt + v / nc)
                 / nullif(mean_y, 0), 6) AS mde_relative
    FROM moments
    """,
)
def q319_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at 80% power / 5% two-sided alpha for the
    per-user purchase-value metric under q261's hash split — the DESIGN
    half of the experiment plane (q163/q261/q290/q308/q313 are all
    readouts): MDE = (z_{0.975} + z_{0.80}) * SE of the arm difference,
    with the standard constants 1.959964 and 0.841621 as exact literals so
    both engines agree to the bit. Read it as "don't bother launching
    unless you expect at least an mde_relative lift". One per-user
    reduction, one moments row, pure residue arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    per_user = (ev.groupBy("user_id")
                .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))), F.lit(0.0)).alias("y"))
                .withColumn("arm", arm))
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("double")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("double")
        .alias("nc"),
        F.var_samp("y").alias("v"), F.avg("y").alias("mean_y"))
    mde = (1.959964 + 0.841621) * F.sqrt(F.col("v") / F.col("nt")
                                         + F.col("v") / F.col("nc"))
    return m.select(
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_ctrl"),
        F.round("mean_y", 4).alias("mean_outcome"),
        F.round(F.sqrt("v"), 4).alias("sd_outcome"),
        F.round(mde, 4).alias("mde_absolute"),
        F.round(mde / F.nullif(F.col("mean_y"), F.lit(0.0)), 6)
        .alias("mde_relative"))


@register(
    "q326_join_size_estimate",
    sql="""
    WITH ha AS (
        SELECT o_custkey % 16 AS b, count(*)::DOUBLE AS na,
               count(DISTINCT o_custkey)::DOUBLE AS da
        FROM orders GROUP BY 1
    ),
    hb AS (
        SELECT c_custkey % 16 AS b, count(*)::DOUBLE AS nb,
               count(DISTINCT c_custkey)::DOUBLE AS db
        FROM customer GROUP BY 1
    ),
    est AS (
        SELECT sum(ha.na * hb.nb / greatest(ha.da, hb.db)) AS est_rows
        FROM ha JOIN hb USING (b)
    ),
    actual AS (
        SELECT count(*)::DOUBLE AS act_rows
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT CAST(round(e.est_rows, 0) AS BIGINT) AS estimated_rows,
           CAST(a.act_rows AS BIGINT) AS actual_rows,
           round(abs(e.est_rows - a.act_rows) / a.act_rows, 6) AS rel_error
    FROM est e CROSS JOIN actual a
    """,
)
def q326_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based join cardinality estimation — the formula inside
    every cost-based optimizer, run as a query so its accuracy is
    measurable: bucket both join keys into 16 hash buckets, estimate the
    per-bucket join output as na*nb/max(distinct_a, distinct_b) (the
    uniform-frequency assumption), sum, and compare against the true join
    count. A large rel_error on YOUR key distribution is exactly when the
    optimizer mis-plans this join at 100 TB and an explicit broadcast /
    salting hint earns its keep (q74/q75). Histograms are 16-row
    residues; only the ground-truth join touches data at full width."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ha = (orders.groupBy((F.col("o_custkey") % 16).alias("b"))
          .agg(F.count(F.lit(1)).cast("double").alias("na"),
               F.count_distinct("o_custkey").cast("double").alias("da")))
    hb = (cust.groupBy((F.col("c_custkey") % 16).alias("b"))
          .agg(F.count(F.lit(1)).cast("double").alias("nb"),
               F.count_distinct("c_custkey").cast("double").alias("db")))
    est = (ha.join(hb, "b")
           .agg(F.sum(F.col("na") * F.col("nb")
                      / F.greatest("da", "db")).alias("est_rows")))
    actual = (orders.join(cust, orders.o_custkey == cust.c_custkey)
              .agg(F.count(F.lit(1)).cast("double").alias("act_rows")))
    return (est.crossJoin(F.broadcast(actual))
            .select(F.round("est_rows", 0).cast("bigint")
                    .alias("estimated_rows"),
                    F.col("act_rows").cast("bigint").alias("actual_rows"),
                    F.round(F.abs(F.col("est_rows") - F.col("act_rows"))
                            / F.col("act_rows"), 6).alias("rel_error")))


@register(
    "q327_huber_regression",
    sql="""
    WITH pts AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    ols AS (
        SELECT covar_pop(x, y) / var_pop(x) AS b1,
               avg(y) - covar_pop(x, y) / var_pop(x) * avg(x) AS b0
        FROM pts
    ),
    resid AS (
        SELECT p.x, p.y, abs(p.y - o.b0 - o.b1 * p.x) AS ar
        FROM pts p CROSS JOIN ols o
    ),
    scale AS (
        SELECT quantile_cont(ar, 0.5) / 0.6745 AS s FROM resid
    ),
    wtd AS (
        SELECT x, y,
               least(1.0, 1.345 * sc.s / nullif(ar, 0)) AS w
        FROM resid CROSS JOIN scale sc
    ),
    huber AS (
        SELECT (sum(w * x * y) / sum(w)
                - (sum(w * x) / sum(w)) * (sum(w * y) / sum(w)))
               / (sum(w * x * x) / sum(w)
                  - (sum(w * x) / sum(w)) * (sum(w * x) / sum(w))) AS hb1,
               sum(w * y) / sum(w) AS wy, sum(w * x) / sum(w) AS wx,
               count(*)::DOUBLE AS n, sum(CASE WHEN w < 1 THEN 1 ELSE 0 END)
                   ::DOUBLE AS n_downweighted
        FROM wtd
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(n_downweighted AS BIGINT) AS n_downweighted,
           round((SELECT b1 FROM ols), 6) AS ols_slope,
           round(hb1, 6) AS huber_slope,
           round(wy - hb1 * wx, 4) AS huber_intercept
    FROM huber
    """,
)
def q327_huber_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step Huber robust regression (IRLS with the standard c = 1.345
    tuning and MAD scale): fit OLS, compute robust residual scale
    (median/0.6745), downweight residuals beyond c*scale with w =
    min(1, c*s/|r|), refit with weighted moments. Heavy-tailed price data
    moves OLS; the Huber step pulls the slope back toward the bulk —
    n_downweighted says how many rows were doing the pulling. Three
    aggregate passes over the fact (moments, residual quantile, weighted
    moments) with only scalar broadcasts between: the iterative-
    reweighting pattern expressed in aggregates, extendable to k steps
    by repetition."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(F.col("l_quantity").alias("x"),
                    F.col("l_extendedprice").alias("y"))
    b1 = F.covar_pop("x", "y") / F.var_pop("x")
    ols = pts.agg(b1.alias("b1"),
                  (F.avg("y") - b1 * F.avg("x")).alias("b0"))
    resid = (pts.crossJoin(F.broadcast(ols))
             .withColumn("ar", F.abs(F.col("y") - F.col("b0")
                                     - F.col("b1") * F.col("x"))))
    scale = resid.agg((F.percentile("ar", 0.5) / 0.6745).alias("s"))
    wtd = (resid.crossJoin(F.broadcast(scale))
           .withColumn("w", F.least(
               F.lit(1.0),
               1.345 * F.col("s") / F.nullif(F.col("ar"), F.lit(0.0)))))
    sw = F.sum("w")
    wx, wy = F.sum(F.col("w") * F.col("x")) / sw, \
        F.sum(F.col("w") * F.col("y")) / sw
    hb1 = ((F.sum(F.col("w") * F.col("x") * F.col("y")) / sw - wx * wy)
           / (F.sum(F.col("w") * F.col("x") * F.col("x")) / sw - wx * wx))
    huber = wtd.agg(hb1.alias("hb1"), wy.alias("wy"), wx.alias("wx"),
                    F.count(F.lit(1)).cast("double").alias("n"),
                    F.sum(F.when(F.col("w") < 1, 1).otherwise(0))
                    .cast("double").alias("n_downweighted"))
    return (huber.crossJoin(F.broadcast(ols))
            .select(F.col("n").cast("bigint").alias("n_rows"),
                    F.col("n_downweighted").cast("bigint")
                    .alias("n_downweighted"),
                    F.round("b1", 6).alias("ols_slope"),
                    F.round("hb1", 6).alias("huber_slope"),
                    F.round(F.col("wy") - F.col("hb1") * F.col("wx"), 4)
                    .alias("huber_intercept")))


@register(
    "q328_diff_in_diff",
    sql="""
    WITH bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2 AS mid_us
        FROM events
    ),
    cells AS (
        SELECT CASE WHEN c.c_nationkey % 5 = 0 THEN 1 ELSE 0 END AS treated,
               CASE WHEN epoch_us(e.ts) > b.mid_us THEN 1 ELSE 0 END
                   AS post,
               e.value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        CROSS JOIN bounds b
        WHERE e.event_type = 'purchase'
    ),
    m AS (
        SELECT treated, post, avg(value) AS mv, count(*)::DOUBLE AS n,
               var_samp(value) AS v
        FROM cells GROUP BY treated, post
    ),
    wide AS (
        SELECT max(CASE WHEN treated = 1 AND post = 1 THEN mv END) AS t1,
               max(CASE WHEN treated = 1 AND post = 0 THEN mv END) AS t0,
               max(CASE WHEN treated = 0 AND post = 1 THEN mv END) AS c1,
               max(CASE WHEN treated = 0 AND post = 0 THEN mv END) AS c0,
               sum(v / n) AS var_did
        FROM m
    )
    SELECT round(t1 - t0, 4) AS treated_change,
           round(c1 - c0, 4) AS control_change,
           round((t1 - t0) - (c1 - c0), 4) AS did_estimate,
           round(sqrt(var_did), 4) AS did_se,
           round(((t1 - t0) - (c1 - c0)) / sqrt(var_did), 6) AS did_z
    FROM wide
    """,
)
def q328_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: purchase value change for a "treated"
    customer group (one nation bucket) net of the change every other
    group experienced — the quasi-experimental estimator for rollouts
    that CAN'T be randomized (q261/q290 need a real split; DiD needs
    only a before/after and a comparison group). Four cell means from one
    reduction, the 2x2 double difference, and its SE from summed cell
    variances. Parallel-trends is the assumption to check — q307's ACF
    and q298's trend test on the PRE period are the diagnostics."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    bounds = ev.agg(((F.unix_micros(F.min("ts").cast("timestamp"))
                      + F.unix_micros(F.max("ts").cast("timestamp"))) / 2)
                    .alias("mid_us"))
    cells = (ev.filter(F.col("event_type") == "purchase")
             .join(F.broadcast(cust), ev.user_id == cust.c_custkey)
             .crossJoin(F.broadcast(bounds))
             .select(F.when(F.col("c_nationkey") % 5 == 0, 1).otherwise(0)
                     .alias("treated"),
                     F.when(F.unix_micros(F.col("ts").cast("timestamp"))
                            > F.col("mid_us"), 1).otherwise(0).alias("post"),
                     "value"))
    m = (cells.groupBy("treated", "post")
         .agg(F.avg("value").alias("mv"),
              F.count(F.lit(1)).cast("double").alias("n"),
              F.var_samp("value").alias("v")))
    def pick(t, p):
        return F.max(F.when((F.col("treated") == t) & (F.col("post") == p),
                            F.col("mv")))
    wide = m.agg(pick(1, 1).alias("t1"), pick(1, 0).alias("t0"),
                 pick(0, 1).alias("c1"), pick(0, 0).alias("c0"),
                 F.sum(F.col("v") / F.col("n")).alias("var_did"))
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    return wide.select(
        F.round(F.col("t1") - F.col("t0"), 4).alias("treated_change"),
        F.round(F.col("c1") - F.col("c0"), 4).alias("control_change"),
        F.round(did, 4).alias("did_estimate"),
        F.round(F.sqrt("var_did"), 4).alias("did_se"),
        F.round(did / F.sqrt("var_did"), 6).alias("did_z"))


@register(
    "q329_hill_tail_index",
    sql="""
    WITH ranked AS (
        SELECT o_totalprice AS x,
               row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                   AS rnk
        FROM orders
    ),
    topk AS (
        SELECT x, rnk,
               max(CASE WHEN rnk = 201 THEN x END) OVER () AS xk
        FROM ranked WHERE rnk <= 201
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           round(min(xk), 2) AS threshold,
           round(1 / avg(ln(x / xk)), 6) AS hill_alpha,
           round(avg(ln(x / xk)), 6) AS mean_log_excess
    FROM topk WHERE rnk <= 200
    """,
)
def q329_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over the top-200 order
    values: alpha = 1 / mean(ln(x_i / x_(k+1))). The continuous-value
    sibling of q309's discrete power-law fit and q277's Zipf slope —
    alpha <= 2 means infinite variance (sample means of revenue never
    stabilize; medians and trimmed means are mandatory), alpha <= 1 means
    infinite MEAN. One top-k window over the fact (TakeOrdered shape at
    scale), then residue arithmetic on 200 rows."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
    ranked = orders.select(F.col("o_totalprice").alias("x"),
                           F.row_number().over(w).alias("rnk")) \
        .filter(F.col("rnk") <= 201)
    everything = Window.partitionBy()
    topk = ranked.withColumn(
        "xk", F.max(F.when(F.col("rnk") == 201, F.col("x")))
        .over(everything))
    return (topk.filter(F.col("rnk") <= 200)
            .agg(F.count(F.lit(1)).cast("bigint").alias("k"),
                 F.round(F.min("xk"), 2).alias("threshold"),
                 F.round(1 / F.avg(F.log(F.col("x") / F.col("xk"))), 6)
                 .alias("hill_alpha"),
                 F.round(F.avg(F.log(F.col("x") / F.col("xk"))), 6)
                 .alias("mean_log_excess")))


@register(
    "q330_capture_recapture",
    sql="""
    WITH du AS (SELECT DISTINCT user_id FROM events),
    marks AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('cap1-' || user_id), 1, 8))
                    AS BIGINT) / 4294967296.0 < 0.4 AS s1,
               CAST(('0x' || substr(md5('cap2-' || user_id), 1, 8))
                    AS BIGINT) / 4294967296.0 < 0.4 AS s2
        FROM du
    )
    SELECT CAST(count(*) AS BIGINT) AS true_population,
           CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample1,
           CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample2,
           CAST(sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both,
           round((sum(CASE WHEN s1 THEN 1 ELSE 0 END) + 1.0)
                 * (sum(CASE WHEN s2 THEN 1 ELSE 0 END) + 1.0)
                 / (sum(CASE WHEN s1 AND s2 THEN 1 ELSE 0 END) + 1.0) - 1,
                 4) AS chapman_estimate
    FROM marks
    """,
)
def q330_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) population estimation: two independent
    deterministic 40% hash samples of the user base; the overlap rate
    estimates the total population as (n1+1)(n2+1)/(m+1) - 1. This is how
    you size a population you can only SAMPLE — duplicate pairs a blocking
    strategy missed (q302's denominator at production scale), users of an
    unlogged surface — and the query carries its own ground truth for
    calibration. One distinct + one row of residue arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("user_id").distinct()
    def mark(salt):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt), F.col("user_id").cast("string"))),
            1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0)) < 0.4
    marks = du.select(mark("cap1-").alias("s1"), mark("cap2-").alias("s2"))
    n1 = F.sum(F.when(F.col("s1"), 1).otherwise(0))
    n2 = F.sum(F.when(F.col("s2"), 1).otherwise(0))
    m = F.sum(F.when(F.col("s1") & F.col("s2"), 1).otherwise(0))
    return marks.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_population"),
        n1.cast("bigint").alias("n_sample1"),
        n2.cast("bigint").alias("n_sample2"),
        m.cast("bigint").alias("n_both"),
        F.round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1, 4)
        .alias("chapman_estimate"))


@register(
    "q331_quantile_treatment_effect",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0) AS y,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                          AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm
        FROM events GROUP BY user_id
    ),
    wide AS (
        SELECT quantile_cont(CASE WHEN arm = 1 THEN y END, 0.25) AS t25,
               quantile_cont(CASE WHEN arm = 0 THEN y END, 0.25) AS c25,
               quantile_cont(CASE WHEN arm = 1 THEN y END, 0.50) AS t50,
               quantile_cont(CASE WHEN arm = 0 THEN y END, 0.50) AS c50,
               quantile_cont(CASE WHEN arm = 1 THEN y END, 0.75) AS t75,
               quantile_cont(CASE WHEN arm = 0 THEN y END, 0.75) AS c75,
               quantile_cont(CASE WHEN arm = 1 THEN y END, 0.90) AS t90,
               quantile_cont(CASE WHEN arm = 0 THEN y END, 0.90) AS c90
        FROM per_user
    ),
    stacked AS (
        SELECT 0.25 AS quantile, t25 AS qt, c25 AS qc FROM wide
        UNION ALL SELECT 0.50, t50, c50 FROM wide
        UNION ALL SELECT 0.75, t75, c75 FROM wide
        UNION ALL SELECT 0.90, t90, c90 FROM wide
    )
    SELECT CAST(quantile AS DOUBLE) AS quantile,
           round(qt, 4) AS treat_q,
           round(qc, 4) AS ctrl_q,
           round(qt - qc, 4) AS qte
    FROM stacked
    ORDER BY quantile
    """,
)
def q331_quantile_treatment_effect(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Quantile treatment effects at the quartiles and P90: the
    DISTRIBUTIONAL experiment readout that mean-based estimators
    (q261/q290/q163) cannot give — a lift concentrated in the top decile
    with a flat median is a whale effect, not a broad one, and ships a
    different product decision. Per-arm interpolated quantiles from one
    per-user reduction with the quantile grid broadcast; Spark
    `percentile` and DuckDB `quantile_cont` agree exactly (q16's
    established bridge)."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    per_user = (ev.groupBy("user_id")
                .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))), F.lit(0.0)).alias("y"))
                .withColumn("arm", arm))
    t_y = F.when(F.col("arm") == 1, F.col("y"))
    c_y = F.when(F.col("arm") == 0, F.col("y"))
    # percentile percentages must be foldable literals in Spark, so the
    # quantile grid is 8 aggregate expressions on one row, then stacked
    wide = per_user.agg(*[
        F.percentile(col, q).alias(f"{side}_{int(q * 100)}")
        for q in (0.25, 0.5, 0.75, 0.9)
        for side, col in (("t", t_y), ("c", c_y))])
    stacked = wide.select(F.expr(
        "stack(4, "
        + ", ".join(f"{q}D, t_{int(q * 100)}, c_{int(q * 100)}"
                    for q in (0.25, 0.5, 0.75, 0.9))
        + ") AS (quantile, qt, qc)"))
    return (stacked.select(
        "quantile",
        F.round("qt", 4).alias("treat_q"),
        F.round("qc", 4).alias("ctrl_q"),
        F.round(F.col("qt") - F.col("qc"), 4).alias("qte"))
        .orderBy("quantile"))


@register(
    "q337_cluster_robust_se",
    sql="""
    WITH ev AS (
        SELECT user_id, value,
               CASE WHEN CAST(('0x' || substr(md5('exp1-' || user_id), 1, 8))
                          AS BIGINT) % 2 = 0 THEN 0 ELSE 1 END AS arm
        FROM events WHERE event_type = 'purchase'
    ),
    naive AS (
        SELECT sqrt(var_samp(CASE WHEN arm = 1 THEN value END)
                    / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    + var_samp(CASE WHEN arm = 0 THEN value END)
                    / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)) AS se,
               count(*)::DOUBLE AS n_events
        FROM ev
    ),
    per_user AS (
        SELECT user_id, min(arm) AS arm, avg(value) AS uy
        FROM ev GROUP BY user_id
    ),
    clustered AS (
        SELECT sqrt(var_samp(CASE WHEN arm = 1 THEN uy END)
                    / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    + var_samp(CASE WHEN arm = 0 THEN uy END)
                    / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)) AS se,
               count(*)::DOUBLE AS n_users
        FROM per_user
    )
    SELECT CAST(n.n_events AS BIGINT) AS n_events,
           CAST(c.n_users AS BIGINT) AS n_users,
           round(n.se, 6) AS naive_event_se,
           round(c.se, 6) AS cluster_user_se,
           round(c.se / n.se, 4) AS design_effect_ratio
    FROM naive n CROSS JOIN clustered c
    """,
)
def q337_cluster_robust_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analysis-unit bug, quantified: randomization is per USER
    (q261's hash) but purchase events repeat per user, so the naive
    event-level standard error pretends to more independent observations
    than exist. Both SEs from the same scan — event-level (wrong) and
    user-aggregated (right) — and their ratio, the design effect a
    reviewer multiplies every too-good p-value by. Ratio near 1 here
    means low within-user correlation; on real data it is routinely 2-5x,
    which silently converts q163-style significant results into noise."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type") == "purchase"))
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("exp1-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    evm = ev.select("user_id", "value").withColumn("arm", arm)

    def two_arm_se(df, col):
        t = F.when(F.col("arm") == 1, F.col(col))
        c = F.when(F.col("arm") == 0, F.col(col))
        return df.agg(
            F.sqrt(F.var_samp(t) / F.sum(F.when(F.col("arm") == 1, 1)
                                         .otherwise(0))
                   + F.var_samp(c) / F.sum(F.when(F.col("arm") == 0, 1)
                                           .otherwise(0))).alias("se"),
            F.count(F.lit(1)).cast("double").alias("n"))

    naive = two_arm_se(evm, "value")
    per_user = (evm.groupBy("user_id")
                .agg(F.min("arm").alias("arm"), F.avg("value").alias("uy")))
    clustered = two_arm_se(per_user, "uy")
    return (naive.withColumnRenamed("se", "nse")
            .withColumnRenamed("n", "n_events")
            .crossJoin(F.broadcast(
                clustered.withColumnRenamed("se", "cse")
                .withColumnRenamed("n", "n_users")))
            .select(F.col("n_events").cast("bigint").alias("n_events"),
                    F.col("n_users").cast("bigint").alias("n_users"),
                    F.round("nse", 6).alias("naive_event_se"),
                    F.round("cse", 6).alias("cluster_user_se"),
                    F.round(F.col("cse") / F.col("nse"), 4)
                    .alias("design_effect_ratio")))


@register(
    "q338_regression_discontinuity",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS r,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END)::DOUBLE AS y
        FROM events GROUP BY user_id
    ),
    win AS (
        SELECT r - 13 AS x, y,
               CASE WHEN r >= 13 THEN 1 ELSE 0 END AS side
        FROM per_user WHERE r BETWEEN 8 AND 18
    ),
    fits AS (
        SELECT side, count(*)::DOUBLE AS n,
               avg(y) AS my, avg(x) AS mx,
               covar_pop(x, y) / nullif(var_pop(x), 0) AS slope
        FROM win GROUP BY side
    ),
    wide AS (
        SELECT max(CASE WHEN side = 1 THEN my - slope * mx END) AS y_above,
               max(CASE WHEN side = 0 THEN my - slope * mx END) AS y_below,
               max(CASE WHEN side = 1 THEN n END) AS n_above,
               max(CASE WHEN side = 0 THEN n END) AS n_below
        FROM fits
    )
    SELECT CAST(n_below AS BIGINT) AS n_below,
           CAST(n_above AS BIGINT) AS n_above,
           round(y_below, 6) AS fitted_below,
           round(y_above, 6) AS fitted_above,
           round(y_above - y_below, 6) AS rd_jump
    FROM wide
    """,
)
def q338_regression_discontinuity(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Regression-discontinuity estimate at a click-count cutoff of 13
    (the median, so both sides are populated at every fixture scale)
    (the shape of "users above the threshold got the feature"): fit a
    local linear trend of high-value conversion separately on each side
    within a ±5 bandwidth and report the fitted-value JUMP at the cutoff
    — the causal effect under the continuity assumption, from pure moment
    arithmetic (covar/var per side). The third causal design in the
    plane: randomized (q261/q290), parallel-trends (q328), and now
    threshold-assignment; no fixture discontinuity exists, so rd_jump ~ 0
    is the correct placebo readout."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                           .otherwise(0)).alias("r"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).cast("double").alias("y")))
    win = (per_user.filter(F.col("r").between(8, 18))
           .select((F.col("r") - 13).alias("x"), "y",
                   F.when(F.col("r") >= 13, 1).otherwise(0).alias("side")))
    fits = (win.groupBy("side")
            .agg(F.count(F.lit(1)).cast("double").alias("n"),
                 F.avg("y").alias("my"), F.avg("x").alias("mx"),
                 (F.covar_pop("x", "y")
                  / F.nullif(F.var_pop("x"), F.lit(0.0))).alias("slope")))
    def pick(side, expr):
        return F.max(F.when(F.col("side") == side, expr))
    intercept = F.col("my") - F.col("slope") * F.col("mx")
    wide = fits.agg(pick(1, intercept).alias("y_above"),
                    pick(0, intercept).alias("y_below"),
                    pick(1, F.col("n")).alias("n_above"),
                    pick(0, F.col("n")).alias("n_below"))
    return wide.select(
        F.col("n_below").cast("bigint").alias("n_below"),
        F.col("n_above").cast("bigint").alias("n_above"),
        F.round("y_below", 6).alias("fitted_below"),
        F.round("y_above", 6).alias("fitted_above"),
        F.round(F.col("y_above") - F.col("y_below"), 6).alias("rd_jump"))


@register(
    "q339_price_index",
    sql="""
    WITH bounds AS (
        SELECT (epoch_us(min(l_shipdate)) + epoch_us(max(l_shipdate))) / 2
                   AS mid_us
        FROM lineitem
    ),
    period AS (
        SELECT l_partkey,
               CASE WHEN epoch_us(l_shipdate) <= b.mid_us
                    THEN 0 ELSE 1 END AS p,
               sum(l_quantity) AS q,
               sum(l_extendedprice) / sum(l_quantity) AS price
        FROM lineitem CROSS JOIN bounds b
        GROUP BY l_partkey, 2
    ),
    both_periods AS (
        SELECT a.l_partkey, a.q AS q0, a.price AS p0,
               b.q AS q1, b.price AS p1
        FROM period a JOIN period b
          ON a.l_partkey = b.l_partkey AND a.p = 0 AND b.p = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(p1 * q0) / sum(p0 * q0), 6) AS laspeyres,
           round(sum(p1 * q1) / sum(p0 * q1), 6) AS paasche,
           round(sqrt((sum(p1 * q0) / sum(p0 * q0))
                      * (sum(p1 * q1) / sum(p0 * q1))), 6) AS fisher
    FROM both_periods
    """,
)
def q339_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between the first and
    second half of the shipping history: the canonical basket-weighted
    answer to "did prices rise, holding the MIX constant?" — the number a
    naive average-price delta gets wrong whenever the product mix shifts
    (Simpson again, q262's cousin in economics). Per-(part, period)
    unit-price residue, inner-joined to parts present in BOTH periods,
    then three weighted ratios. At 100 TB the period reduction is one
    map-side-combined shuffle keyed on partkey."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(((F.unix_micros(F.min("l_shipdate").cast("timestamp"))
                      + F.unix_micros(F.max("l_shipdate").cast("timestamp")))
                     / 2).alias("mid_us"))
    p = F.when(F.unix_micros(F.col("l_shipdate").cast("timestamp"))
               <= F.col("mid_us"), 0).otherwise(1)
    period = (li.crossJoin(F.broadcast(bounds))
              .groupBy("l_partkey", p.alias("p"))
              .agg(F.sum("l_quantity").alias("q"),
                   (F.sum("l_extendedprice") / F.sum("l_quantity"))
                   .alias("price")))
    a = period.filter(F.col("p") == 0).select(
        "l_partkey", F.col("q").alias("q0"), F.col("price").alias("p0"))
    b = period.filter(F.col("p") == 1).select(
        "l_partkey", F.col("q").alias("q1"), F.col("price").alias("p1"))
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(F.col("p0") * F.col("q1"))
    return (a.join(b, "l_partkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                 F.round(lasp, 6).alias("laspeyres"),
                 F.round(paas, 6).alias("paasche"),
                 F.round(F.sqrt(lasp * paas), 6).alias("fisher")))


@register(
    "q343_wilson_ci",
    sql="""
    WITH per_user AS (
        SELECT e.user_id, min(c.c_mktsegment) AS seg,
               max(CASE WHEN e.event_type = 'purchase' AND e.value > 250
                        THEN 1 ELSE 0 END) AS y
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY e.user_id
    ),
    cells AS (
        SELECT seg, count(*)::DOUBLE AS n, avg(y::DOUBLE) AS p
        FROM per_user GROUP BY seg
    )
    SELECT seg,
           CAST(n AS BIGINT) AS n_users,
           round(p, 6) AS rate,
           round((p + 1.9208 / n - 1.96 * sqrt(p * (1 - p) / n
                  + 0.9604 / (n * n))) / (1 + 3.8416 / n), 6) AS wilson_lo,
           round((p + 1.9208 / n + 1.96 * sqrt(p * (1 - p) / n
                  + 0.9604 / (n * n))) / (1 + 3.8416 / n), 6) AS wilson_hi,
           round(greatest(p - 1.96 * sqrt(p * (1 - p) / n), 0), 6)
               AS wald_lo
    FROM cells
    ORDER BY seg
    """,
)
def q343_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence intervals for per-segment high-value
    conversion rates — the binomial CI that stays inside [0,1] and keeps
    coverage at small n and extreme p, where the Wald interval
    (p ± 1.96*sqrt(pq/n), shown alongside for contrast) collapses to
    zero width at p=0 and lies. With z=1.96 the closed form uses the
    exact constants z^2=3.8416, z^2/2=1.9208, z^2/4=0.9604 as literals so
    both engines agree bit-for-bit. The small-cell companion to q313's
    large-sample machinery."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    per_user = (ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
                .groupBy("user_id")
                .agg(F.min("c_mktsegment").alias("seg"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).alias("y")))
    cells = (per_user.groupBy("seg")
             .agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.avg(F.col("y").cast("double")).alias("p")))
    n, p = F.col("n"), F.col("p")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return cells.select(
        "seg", n.cast("bigint").alias("n_users"),
        F.round(p, 6).alias("rate"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
        F.round(F.greatest(p - 1.96 * F.sqrt(p * (1 - p) / n), F.lit(0.0)),
                6).alias("wald_lo")).orderBy("seg")


@register(
    "q349_permutation_test",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0) AS y
        FROM events GROUP BY user_id
    ),
    reps AS (SELECT unnest(range(0, 33)) AS rep),
    assigned AS (
        SELECT p.user_id, p.y, r.rep,
               CAST(('0x' || substr(md5('perm' || r.rep || '-' || p.user_id),
                                    1, 8)) AS BIGINT) % 2 AS arm
        FROM per_user p CROSS JOIN reps r
    ),
    diffs AS (
        SELECT rep,
               avg(CASE WHEN arm = 1 THEN y END)
               - avg(CASE WHEN arm = 0 THEN y END) AS d
        FROM assigned GROUP BY rep
    ),
    obs AS (
        SELECT max(CASE WHEN rep = 0 THEN d END) AS od FROM diffs
    )
    SELECT round(min(o.od), 4) AS observed_diff,
           CAST(count(*) - 1 AS BIGINT) AS n_permutations,
           round(avg(CASE WHEN rep > 0 THEN abs(d) END), 4)
               AS null_mean_abs,
           round((sum(CASE WHEN rep > 0 AND abs(d) >= abs(o.od)
                          THEN 1 ELSE 0 END) + 1.0)
                 / count(*), 6) AS perm_p_value
    FROM diffs CROSS JOIN obs o
    """,
)
def q349_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the arm difference, fully deterministic: rep 0
    is the REAL q261 assignment (salt 'perm0' = 'exp1' semantics differ;
    rep 0 plays the observed split) and reps 1-32 are re-randomized
    assignments from fresh hash salts — each an exact exchangeable null
    draw. The p-value is the add-one-smoothed fraction of null |diffs|
    at least as large as observed: the distribution-free alternative to
    q163's normal theory that stays valid for ANY statistic. One
    per-user reduction, 33 broadcast replicas, one grouped diff each —
    the same one-pass replica pattern as q286's bootstrap."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase",
                                 F.col("value"))), F.lit(0.0)).alias("y")))
    reps = spark.range(0, 33).select(F.col("id").alias("rep"))
    arm = (F.conv(F.substring(
        F.md5(F.concat(F.lit("perm"), F.col("rep").cast("string"),
                       F.lit("-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    diffs = (per_user.crossJoin(F.broadcast(reps))
             .withColumn("arm", arm)
             .groupBy("rep")
             .agg((F.avg(F.when(F.col("arm") == 1, F.col("y")))
                   - F.avg(F.when(F.col("arm") == 0, F.col("y"))))
                  .alias("d")))
    everything = Window.partitionBy()
    obs = F.max(F.when(F.col("rep") == 0, F.col("d"))).over(everything)
    scored = diffs.withColumn("obs", obs)
    return scored.agg(
        F.round(F.max(F.when(F.col("rep") == 0, F.col("d"))), 4)
        .alias("observed_diff"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_permutations"),
        F.round(F.avg(F.when(F.col("rep") > 0, F.abs(F.col("d")))), 4)
        .alias("null_mean_abs"),
        F.round((F.sum(F.when((F.col("rep") > 0)
                              & (F.abs(F.col("d")) >= F.abs(F.col("obs"))),
                              1).otherwise(0)) + 1.0)
                / F.count(F.lit(1)), 6).alias("perm_p_value"))


@register(
    "q350_sprt_trace",
    sql="""
    WITH per_user_day AS (
        SELECT user_id,
               min(CAST(epoch_us(date_trunc('day', ts)) / 86400000000
                        AS BIGINT)) AS first_d,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT first_d AS d, count(*)::DOUBLE AS n, sum(y)::DOUBLE AS k
        FROM per_user_day GROUP BY first_d
    ),
    llr AS (
        SELECT d, n, k,
               sum(k * ln(0.12 / 0.08)
                   + (n - k) * ln(0.88 / 0.92)) OVER (ORDER BY d) AS cum_llr
        FROM daily
    )
    SELECT d AS day_idx,
           CAST(n AS BIGINT) AS n_users,
           CAST(k AS BIGINT) AS n_converted,
           round(cum_llr, 6) AS cum_llr,
           CAST(CASE WHEN cum_llr >= ln(19.0) THEN 1
                     WHEN cum_llr <= ln(1.0 / 19.0) THEN -1
                     ELSE 0 END AS BIGINT) AS decision
    FROM llr
    ORDER BY day_idx
    """,
)
def q350_sprt_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test trace: the cumulative
    log-likelihood ratio of H1 (conversion p = 0.12) against H0
    (p = 0.08) over daily first-touch cohorts, with Wald's
    alpha = beta = 0.05 decision bounds (±ln 19). decision = +1 accepts
    H1, -1 accepts H0, 0 keeps sampling — the always-valid sequential
    readout that lets an experiment STOP EARLY without the peeking
    problem fixed-horizon tests (q163) have. Cumulative window over the
    daily cohort residue; all constants exact literals."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.min(
                    (F.unix_micros(F.date_trunc("day", "ts")
                                   .cast("timestamp"))
                     / F.lit(86400000000)).cast("bigint")).alias("first_d"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).alias("y")))
    daily = (per_user.groupBy(F.col("first_d").alias("d"))
             .agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.sum("y").cast("double").alias("k")))
    import math
    w = Window.orderBy("d")
    step = (F.col("k") * math.log(0.12 / 0.08)
            + (F.col("n") - F.col("k")) * math.log(0.88 / 0.92))
    llr = daily.withColumn("cum_llr", F.sum(step).over(w))
    hi, lo = math.log(19.0), math.log(1.0 / 19.0)
    return (llr.select(
        F.col("d").alias("day_idx"),
        F.col("n").cast("bigint").alias("n_users"),
        F.col("k").cast("bigint").alias("n_converted"),
        F.round("cum_llr", 6).alias("cum_llr"),
        F.when(F.col("cum_llr") >= hi, 1)
        .when(F.col("cum_llr") <= lo, -1).otherwise(0)
        .cast("bigint").alias("decision"))
        .orderBy("day_idx"))


@register(
    "q351_overdispersion_fit",
    sql="""
    WITH per_user AS (
        SELECT user_id, count(*)::DOUBLE AS c
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT avg(c) AS mean_c, var_samp(c) AS var_c,
               count(*)::DOUBLE AS n
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(mean_c, 4) AS mean_events,
           round(var_c, 4) AS var_events,
           round(var_c / mean_c, 6) AS dispersion_index,
           round(CASE WHEN var_c > mean_c
                      THEN mean_c * mean_c / (var_c - mean_c) END, 4)
               AS nb_r,
           round(CASE WHEN var_c > mean_c THEN mean_c / var_c END, 6)
               AS nb_p
    FROM m
    """,
)
def q351_overdispersion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion diagnosis + negative-binomial fit for per-user event
    counts: the dispersion index var/mean (1 = Poisson; >1 = clumped
    traffic, and every Poisson-assuming rate test like q280 understates
    its error by that factor) and the method-of-moments NB parameters
    r = m^2/(v-m), p = m/v when overdispersed (NULL when at-or-under
    dispersed — the fit doesn't exist). One reduction, one moments
    row."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("c"))
    m = per_user.agg(F.avg("c").alias("mean_c"),
                     F.var_samp("c").alias("var_c"),
                     F.count(F.lit(1)).cast("double").alias("n"))
    over = F.col("var_c") > F.col("mean_c")
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round("mean_c", 4).alias("mean_events"),
        F.round("var_c", 4).alias("var_events"),
        F.round(F.col("var_c") / F.col("mean_c"), 6)
        .alias("dispersion_index"),
        F.round(F.when(over, F.col("mean_c") * F.col("mean_c")
                       / (F.col("var_c") - F.col("mean_c"))), 4)
        .alias("nb_r"),
        F.round(F.when(over, F.col("mean_c") / F.col("var_c")), 6)
        .alias("nb_p"))


@register(
    "q356_expected_calibration_error",
    sql="""
    WITH per_user AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('cal-' || user_id), 1, 8))
                    AS BIGINT) % 2 AS half,
               least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
                     12) AS score,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END)::DOUBLE AS y
        FROM events GROUP BY user_id
    ),
    model AS (
        SELECT score, avg(y) AS p
        FROM per_user WHERE half = 0 GROUP BY score
    ),
    test AS (
        SELECT t.score, t.y, m.p
        FROM per_user t JOIN model m USING (score)
        WHERE t.half = 1
    ),
    bins AS (
        SELECT score, min(p) AS p, count(*)::DOUBLE AS n_b,
               avg(y) AS ybar_b
        FROM test GROUP BY score
    ),
    tot AS (SELECT sum(n_b) AS n FROM bins)
    SELECT CAST(t.n AS BIGINT) AS n_test,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(sum(b.n_b * abs(b.p - b.ybar_b)) / t.n, 6) AS ece,
           round(max(abs(b.p - b.ybar_b)), 6) AS mce
    FROM bins b CROSS JOIN tot t
    GROUP BY t.n
    """,
)
def q356_expected_calibration_error(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the score-bin conversion
    model on the held-out half (same split and model as q294): ECE is
    the bin-weighted mean |predicted - observed| and MCE the worst bin —
    the two numbers model cards quote, where q294's Brier mixes
    calibration with discrimination and q288's isotonic FIXES
    miscalibration this measures. Same two reductions as q294 with a
    different residue summary, so the calibration plane reads as probe
    (here), decomposition (q294), and repair (q288)."""
    ev = load_table(spark, sf_dir, "events")
    half = (F.conv(F.substring(
        F.md5(F.concat(F.lit("cal-"), F.col("user_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 2)
    per_user = (ev.groupBy("user_id")
                .agg(F.least(F.sum(F.when(F.col("event_type") == "click", 1)
                                   .otherwise(0)), F.lit(12)).alias("score"),
                     F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 250), 1)
                           .otherwise(0)).cast("double").alias("y"))
                .withColumn("half", half))
    model = (per_user.filter(F.col("half") == 0)
             .groupBy("score").agg(F.avg("y").alias("p")))
    test = (per_user.filter(F.col("half") == 1)
            .join(F.broadcast(model), "score")
            .select("score", "y", "p"))
    bins = (test.groupBy("score")
            .agg(F.min("p").alias("p"),
                 F.count(F.lit(1)).cast("double").alias("n_b"),
                 F.avg("y").alias("ybar_b")))
    tot = bins.agg(F.sum("n_b").alias("n"))
    gap = F.abs(F.col("p") - F.col("ybar_b"))
    return (bins.crossJoin(F.broadcast(tot))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"),
                 F.round(F.sum(F.col("n_b") * gap) / F.col("n"), 6)
                 .alias("ece"),
                 F.round(F.max(gap), 6).alias("mce"))
            .select(F.col("n").cast("bigint").alias("n_test"),
                    "n_bins", "ece", "mce"))
