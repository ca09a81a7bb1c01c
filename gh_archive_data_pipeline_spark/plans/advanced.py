"""Advanced aggregates, SQL-API grouping sets, deterministic sampling,
stream-static joins, and the UDF-backed queries (SURVEY.md §2.6 A10, §2.12,
§2.11 J8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import sorted_pairs
from ..sources.readers import load_table
from .registry import register


# --------------------------------------------------------------------------
# q61 — advanced aggregate functions (min_by/max_by, corr, covar, bool aggs)
# --------------------------------------------------------------------------
@register(
    "q61_advanced_aggs",
    sql="""
    WITH extremes AS (
      SELECT l_returnflag,
             max(CASE WHEN rn_f = 1 THEN l_orderkey END) AS first_orderkey,
             max(CASE WHEN rn_l = 1 THEN l_orderkey END) AS last_orderkey
      FROM (SELECT l_returnflag, l_orderkey,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_shipdate, l_orderkey) AS rn_f,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_shipdate DESC, l_orderkey DESC) AS rn_l
            FROM lineitem)
      GROUP BY l_returnflag
    ),
    stats AS (
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 6)  AS qty_price_corr,
             round(covar_samp(l_discount, l_tax), 8)      AS disc_tax_covar,
             CAST(bool_and(l_quantity > 0) AS BOOLEAN)    AS all_positive,
             CAST(bool_or(l_discount > 0.09) AS BOOLEAN)  AS any_high_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT s.l_returnflag, e.first_orderkey, e.last_orderkey,
           s.qty_price_corr, s.disc_tax_covar, s.all_positive, s.any_high_disc
    FROM stats s JOIN extremes e USING (l_returnflag)
    ORDER BY s.l_returnflag
    """,
)
def q61_advanced_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extensions: argmin/argmax, correlation, covariance, boolean
    aggregates — all single-pass partial-aggregatable.

    Determinism: bare arg_min/min_by break timestamp ties arbitrarily, so
    the argmin/argmax rides a lexicographic (l_shipdate, l_orderkey) struct
    min/max — deterministic on both engines (the oracle uses the equivalent
    tie-broken row_number)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min(F.struct("l_shipdate", "l_orderkey"))
            .getField("l_orderkey").alias("first_orderkey"),
            F.max(F.struct("l_shipdate", "l_orderkey"))
            .getField("l_orderkey").alias("last_orderkey"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6)
            .alias("qty_price_corr"),
            F.round(F.covar_samp("l_discount", "l_tax"), 8)
            .alias("disc_tax_covar"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_high_disc"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q62 — GROUPING SETS through the SQL API surface
# --------------------------------------------------------------------------
@register(
    "q62_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(grouping(o_orderstatus) AS BIGINT) +
           2 * CAST(grouping(o_orderpriority) AS BIGINT) AS grouping_id
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q62_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 via spark.sql — the engine's SQL plane (what the reference pushed
    to Trino) with explicit GROUPING SETS and grouping() disambiguation of
    the NULL group keys."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(grouping(o_orderstatus) AS BIGINT) +
               2 * CAST(grouping(o_orderpriority) AS BIGINT) AS grouping_id
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


# --------------------------------------------------------------------------
# q63 — deterministic hash sampling (engine-portable TABLESAMPLE)
# --------------------------------------------------------------------------
@register(
    "q63_hash_sample",
    sql="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q63_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~12.5% sample by content hash — unlike TABLESAMPLE,
    reproducible across engines, runs, and partitionings, and it composes
    with joins (sample both sides by the same key hash and the join is a
    sample of the joined relation). The predicate pushes to the scan."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return (
        orders.filter(bucket.isin("0", "1"))
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# --------------------------------------------------------------------------
# q64 — stream-static join (J8): streaming events enriched with a dim table
# --------------------------------------------------------------------------
@register(
    "q64_stream_static_join",
    sql="""
    SELECT e.event_type, c.c_mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.event_type, c.c_mktsegment
    """,
)
def q64_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 executed for real: file-source event stream joined to the static
    customer dim (broadcast — each micro-batch joins map-side), then a
    windowless grouped agg drained with availableNow. Stream-static is the
    standard enrichment topology: the dim is re-read per micro-batch, so dim
    updates are picked up without restarting the stream."""
    from ..streaming.pipeline import run_to_memory
    from ..streaming.stream_queries import _events_stream, _counter

    stream = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = stream.join(F.broadcast(cust),
                         stream.user_id == cust.c_custkey)
    agg = (joined.groupBy("event_type", "c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value")))
    name = f"stream_static_{next(_counter)}"
    return run_to_memory(agg, name, spark, output_mode="complete")


# --------------------------------------------------------------------------
# q65 — UDAF via pandas (GROUPED_AGG) + scalar pandas UDF parity
# --------------------------------------------------------------------------
@register(
    "q65_gini_by_segment",
    sql="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, count(*)::DOUBLE AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment,
           round(1.0 - sum((n / tot) * (n / tot)), 6) AS nation_gini
    FROM (SELECT c_mktsegment, n, sum(n) OVER (PARTITION BY c_mktsegment) AS tot
          FROM counts)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q65_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 UDAF: Gini impurity of the nation distribution within each market
    segment, as an Arrow GROUPED_AGG pandas UDF over pre-aggregated counts
    (the UDF sees |segments|×|nations| rows, never raw customers)."""
    from ..functions.udfs import gini_impurity

    cust = load_table(spark, sf_dir, "customer")
    counts = (cust.groupBy("c_mktsegment", "c_nationkey")
              .agg(F.count(F.lit(1)).cast("double").alias("n")))
    return (
        counts.groupBy("c_mktsegment")
        .agg(F.round(gini_impurity(F.col("n")), 6).alias("nation_gini"))
        .orderBy("c_mktsegment")
    )


@register(
    "q93_stratified_sample",
    sql="""
    WITH ranked AS (
      SELECT event_id, event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5(event_id::VARCHAR), event_id)
               AS rk
      FROM events
    )
    SELECT event_type, count(*) AS n,
           round(sum(value), 2) AS sample_value
    FROM ranked WHERE rk <= 50
    GROUP BY event_type
    """,
)
def q93_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 50 rows per event_type,
    chosen by md5-of-key order — reproducible across engines and runs, the
    property sampleBy()'s RNG lacks. Plan: one window per stratum with a
    WindowGroupLimit pushdown, so each partition retains only its top-50
    before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id")
    return (ev.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 50)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sample_value")))


@register(
    "q99_heavy_hitters",
    sql="""
    WITH counts AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    ),
    total AS (SELECT count(*) AS t FROM orders)
    SELECT o_custkey, n,
           round(n::DOUBLE / t, 6) AS share
    FROM counts CROSS JOIN total
    WHERE n::DOUBLE / t >= 0.001
    """,
)
def q99_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: keys holding >= 0.1% of all orders — the exact
    (two-aggregate) formulation; at extreme cardinality the same contract is
    served by a count-min/SpaceSaving sketch, with this as its oracle. Also
    the skew-detection probe: its output keys are the salting candidates for
    operators/skew.py."""
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    total = orders.agg(F.count(F.lit(1)).alias("t"))
    return (counts.crossJoin(F.broadcast(total))
            .filter(F.col("n").cast("double") / F.col("t") >= 0.001)
            .select("o_custkey", "n",
                    F.round(F.col("n").cast("double") / F.col("t"), 6)
                    .alias("share")))


@register(
    "q101_udtf_ngrams",
    sql="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> t <> '') AS w
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS pos,
           w[i] || ' ' || w[i + 1] AS ngram
    FROM toks, LATERAL (SELECT unnest(range(1, len(w))) AS i) g
    """,
)
def q101_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 Python UDTF via SQL LATERAL: positioned word bigrams per document.
    The UDTF runs Arrow-batched; the oracle reproduces the semantics with
    pure SQL — pinning that the table function's row expansion is exact."""
    from ..functions.udfs import register_sql_udtfs

    register_sql_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("q101_docs")
    return spark.sql("""
        SELECT d.doc_id, g.pos, g.ngram
        FROM q101_docs d, LATERAL word_ngrams(d.text, 2) g
    """)


@register(
    "q105_freq_items_sketch",
    sql="""
    SELECT event_type, TRUE AS in_sketch
    FROM (
        SELECT event_type
        FROM events
        GROUP BY event_type
        HAVING count(*) >= 0.05 * (SELECT count(*) FROM events)
    )
    ORDER BY event_type
    """,
)
def q105_freq_items_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass frequent-items sketch (df.stat.freqItems, Karp-style):
    candidate heavy hitters above 5% support over event_type — the
    streaming-friendly complement to q99's exact two-pass heavy hitters.
    Sketch guarantee is superset-of-truth (false positives possible, false
    negatives not), so the oracle-checkable statement is exactly that
    bound: for every TRUE heavy hitter (exact count ≥ 5% support, computed
    Spark-side AND DuckDB-side) emit whether the sketch surfaced it. The
    oracle lists the true heavy hitters with literal TRUE — the hash
    matches iff the sketch missed none (the guarantee the sketch must
    honour). The superset/ordering details stay pinned in
    tests/test_new_operators.py."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.floor(F.col("value") / 100)).alias("value_bucket"))
    fi = ev.stat.freqItems(["event_type", "value_bucket"], support=0.05)
    candidates = fi.select(
        F.explode("event_type_freqItems").alias("event_type"))
    total = ev.select(F.count(F.lit(1)).alias("n_total"))
    true_hh = (ev.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"))
               .crossJoin(F.broadcast(total))
               .filter(F.col("n") >= 0.05 * F.col("n_total"))
               .select("event_type"))
    return (true_hh.join(candidates.withColumn("in_sketch", F.lit(True)),
                         "event_type", "left")
            .select("event_type",
                    F.coalesce("in_sketch", F.lit(False)).alias("in_sketch"))
            .orderBy("event_type"))


@register(
    "q119_correlation_matrix",
    sql="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6)      AS qty_disc,
           round(corr(l_quantity, l_tax), 6)           AS qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc,
           round(corr(l_extendedprice, l_tax), 6)      AS price_tax,
           round(corr(l_discount, l_tax), 6)           AS disc_tax
    FROM lineitem
    """,
)
def q119_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature correlation matrix: all numeric-column pairs in ONE
    aggregation pass (each corr is a mergeable moment aggregate) — the
    feature-selection probe before training, at one-table-scan cost."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [("l_quantity", "l_extendedprice", "qty_price"),
             ("l_quantity", "l_discount", "qty_disc"),
             ("l_quantity", "l_tax", "qty_tax"),
             ("l_extendedprice", "l_discount", "price_disc"),
             ("l_extendedprice", "l_tax", "price_tax"),
             ("l_discount", "l_tax", "disc_tax")]
    return li.agg(*[F.round(F.corr(a, b), 6).alias(n) for a, b, n in pairs])


@register(
    "q120_rolling_zscore",
    sql="""
    WITH w AS (
      SELECT event_id, user_id, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sigma
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           round((value - mu) / sigma, 4) AS zscore,
           (abs((value - mu) / sigma) > 3) AS is_anomaly
    FROM w WHERE sigma IS NOT NULL AND sigma > 0
    """,
)
def q120_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly score: each event's value against the mean/stddev of
    the user's previous 20 events (frame excludes the current row — scoring
    a point against a window containing it suppresses the very anomalies
    you're hunting). One sort per user partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    win = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(-20, -1))
    w = ev.select(
        "event_id", "user_id", "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sigma"))
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (w.filter(F.col("sigma").isNotNull() & (F.col("sigma") > 0))
            .select("event_id", "user_id",
                    F.round(z, 4).alias("zscore"),
                    (F.abs(z) > 3).alias("is_anomaly")))


@register(
    "q121_funnel_analysis",
    sql="""
    WITH stage AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS viewed,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
    FROM stage
    """,
)
def q121_funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: view → click → purchase with strict event-time
    ordering per user. One groupBy computes every stage's first-touch time
    (conditional min), then the ordering predicates are row-local — no
    self-joins, no window; the classic O(n·stages) funnel shape."""
    ev = load_table(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("viewed"),
        F.sum(F.when(F.col("t_view").isNotNull()
                     & (F.col("t_click") > F.col("t_view")), 1).otherwise(0))
        .cast("bigint").alias("clicked_after_view"),
        F.sum(F.when(F.col("t_view").isNotNull()
                     & (F.col("t_click") > F.col("t_view"))
                     & (F.col("t_purchase") > F.col("t_click")), 1)
              .otherwise(0)).cast("bigint").alias("purchased_after_click"))


@register(
    "q122_retention_cohorts",
    sql="""
    WITH firsts AS (
      SELECT user_id, min(time_bucket(INTERVAL '1 day', ts)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day,
                       time_bucket(INTERVAL '1 day', e.ts)) AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           count(*) AS n_active_users
    FROM activity GROUP BY cohort_day, day_offset
    """,
)
def q122_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, activity counted
    per (cohort, day-offset) cell — the table under every retention curve.
    The firsts aggregate is tiny (one row per user) and broadcast back;
    the distinct collapses repeat activity within a day."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (ev.join(F.broadcast(firsts), "user_id")
                .select("user_id", "cohort_day",
                        F.datediff("day", "cohort_day").alias("day_offset"))
                .distinct())
    return (activity.groupBy("cohort_day",
                             F.col("day_offset").cast("bigint")
                             .alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("n_active_users")))


@register(
    "q124_equidepth_histogram",
    sql="""
    WITH b AS (
      SELECT l_extendedprice,
             ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
)
def q124_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 buckets of equal row count, the optimizer's
    statistics shape) complementing q18's equi-width buckets; the ntile
    order carries key tiebreaks so bucket boundaries are total-order
    deterministic. Global sort — at 100 TB you'd sample instead, which is
    exactly what q111's sketch does."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (li.select("l_extendedprice", F.ntile(10).over(w).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("l_extendedprice"), 2).alias("lo"),
                 F.round(F.max("l_extendedprice"), 2).alias("hi")))


@register(
    "q128_pareto_frontier",
    sql="""
    WITH d AS (
      SELECT o_orderdate, round(max(o_totalprice), 2) AS best_price
      FROM orders GROUP BY o_orderdate
    ),
    r AS (
      SELECT o_orderdate, best_price,
             max(best_price) OVER (ORDER BY o_orderdate
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_best
      FROM d
    )
    SELECT o_orderdate, best_price
    FROM r WHERE prev_best IS NULL OR best_price > prev_best
    """,
)
def q128_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) on (earlier date, higher price): dates whose
    best order price beats every earlier date's best. Two-phase plan: the
    distributed per-date max collapses ~1.5M orders to ~2.4k rows, and only
    that tiny aggregate crosses the single-partition cumulative-max window —
    the standard skyline-at-scale shape (aggregate first, window the
    residue)."""
    from pyspark.sql import Window

    d = (load_table(spark, sf_dir, "orders")
         .groupBy("o_orderdate")
         .agg(F.round(F.max("o_totalprice"), 2).alias("best_price")))
    w = (Window.orderBy("o_orderdate")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (d.withColumn("prev_best", F.max("best_price").over(w))
            .where(F.col("prev_best").isNull()
                   | (F.col("best_price") > F.col("prev_best")))
            .select("o_orderdate", "best_price"))


@register(
    "q134_markov_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM t
    """,
)
def q134_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event sequences:
    count and conditional probability of each event_type -> event_type step.
    The lag window shuffles once on user_id (the natural key); the
    normalizing window runs on the 25-row transition matrix, not the events.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id", "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"))
    t = (seq.where(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(F.count(F.lit(1)).alias("n")))
    return t.select(
        "from_type", "to_type", F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("from_type")), 6)
        .alias("p"))


@register(
    "q142_quantile_binning",
    sql="""
    WITH b AS (
        SELECT quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                   AS bounds
        FROM lineitem
    )
    SELECT CAST(len(list_filter(b.bounds, v -> l.l_extendedprice > v))
                AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l.l_extendedprice), 2) AS lo,
           round(max(l.l_extendedprice), 2) AS hi,
           round(sum(l.l_extendedprice), 2) AS total
    FROM lineitem l, b
    GROUP BY bin
    """,
)
def q142_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning the scalable way: compute the 9 decile boundaries
    once (exact percentile, one aggregation), broadcast the single-row
    boundary array over the fact, and bin each row by counting boundaries it
    exceeds (one JVM HOF, no per-row join). This is the 100 TB twin of
    q124's ntile equi-depth histogram, which needs a global sort; here the
    fact is never sorted and shuffles only for the final 10-group agg."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(F.expr(
        "percentile(l_extendedprice, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
    ).alias("bounds"))
    return (
        li.join(F.broadcast(bounds))
        .select(
            "l_extendedprice",
            F.expr("size(filter(bounds, v -> l_extendedprice > v))")
            .cast("bigint").alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
        )
    )


@register(
    "q148_weighted_median",
    sql="""
    WITH c AS (
        SELECT l_returnflag, l_extendedprice,
               sum(l_quantity) OVER (PARTITION BY l_returnflag
                                     ORDER BY l_extendedprice, l_orderkey,
                                              l_linenumber) AS cum_w,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_w
        FROM lineitem
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cum_w * 2 >= tot_w THEN l_extendedprice END), 2)
               AS weighted_median
    FROM c GROUP BY l_returnflag
    """,
)
def q148_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted price): the first value whose
    cumulative weight crosses half the group total. One shuffle on the group
    key, partition-local sort for the cumulative window, tie-broken to a
    total order; the plain median (q16) is the weight=1 special case this
    generalizes."""
    li = load_table(spark, sf_dir, "lineitem")
    wc = (Window.partitionBy("l_returnflag")
          .orderBy("l_extendedprice", "l_orderkey", "l_linenumber"))
    wt = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag", "l_extendedprice",
        F.sum("l_quantity").over(wc).alias("cum_w"),
        F.sum("l_quantity").over(wt).alias("tot_w"))
    return (c.groupBy("l_returnflag")
            .agg(F.round(
                F.min(F.when(F.col("cum_w") * 2 >= F.col("tot_w"),
                             F.col("l_extendedprice"))), 2)
                .alias("weighted_median")))


@register(
    "q154_sql_udf",
    sql="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
                                     + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS discounted_revenue
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
)
def q154_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family extension: a declarative SQL UDF (CREATE TEMPORARY FUNCTION
    ... RETURN <expr>, Spark 4) applied through a parameterized query
    (spark.sql named args). SQL UDFs inline into the plan at analysis time —
    unlike Python UDFs they cost nothing at run time and stay inside
    whole-stage codegen; the oracle simply inlines the same expression.

    The per-row cents come from floor(x·100 + 0.5) — pure IEEE ops that
    are bit-identical across engines — NOT round(x, 2): Spark's round is
    BigDecimal half-up on the double's exact expansion while DuckDB's is
    float-math, and they disagree on rows within an ULP of a tie (measured
    1-cent flips on this fixture). Exact integer summation then makes the
    aggregate order-independent."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_udf_v")
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION discounted_cents(
            price DOUBLE, disc DOUBLE)
        RETURNS BIGINT RETURN CAST(floor(price * (1 - disc) * 100 + 0.5)
                                   AS BIGINT)
    """)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(discounted_cents(l_extendedprice, l_discount))
                          AS DOUBLE) / 100.0, 2) AS discounted_revenue
        FROM lineitem_udf_v
        WHERE l_quantity >= :min_qty
        GROUP BY l_returnflag
        """,
        args={"min_qty": 30},
    )


@register(
    "q162_decile_lift",
    sql="""
    WITH scored AS (
        SELECT user_id,
               sum(value) AS score,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS purchases
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT score, purchases,
               ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
        FROM scored
    ),
    agg AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(purchases) AS BIGINT) AS purchases
        FROM ranked GROUP BY decile
    )
    SELECT decile, n_users, purchases,
           round(sum(purchases) OVER (ORDER BY decile)::DOUBLE
                 / sum(purchases) OVER (), 6) AS cum_purchase_share,
           round((purchases::DOUBLE / n_users)
                 / (sum(purchases) OVER ()::DOUBLE / sum(n_users) OVER ()), 6)
               AS lift
    FROM agg
    """,
)
def q162_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the model-evaluation analytics shape: rank
    users by a score (here: total event value), split into deciles, report
    per-decile purchase lift and the cumulative-gains curve. The user-level
    aggregation distributes; the ntile and share windows run on the
    user-residue and 10-row aggregate respectively."""
    ev = load_table(spark, sf_dir, "events")
    scored = ev.groupBy("user_id").agg(
        F.sum("value").alias("score"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("purchases"))
    ranked = scored.select(
        "score", "purchases",
        F.ntile(10).over(Window.orderBy(F.desc("score"), "user_id"))
        .alias("decile"))
    agg = ranked.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("purchases").cast("bigint").alias("purchases"))
    w_cum = Window.orderBy("decile")
    w_all = Window.partitionBy()
    return agg.select(
        "decile", "n_users", "purchases",
        F.round(F.sum("purchases").over(w_cum).cast("double")
                / F.sum("purchases").over(w_all), 6)
        .alias("cum_purchase_share"),
        F.round((F.col("purchases").cast("double") / F.col("n_users"))
                / (F.sum("purchases").over(w_all).cast("double")
                   / F.sum("n_users").over(w_all)), 6)
        .alias("lift"))


# A/B z-test from exact decimal moments (same determinism rationale as
# q136: float sums are order-sensitive; decimal sums are exact, and the
# z-statistic arithmetic then runs identically on both engines).
_AB_BODY = """
    WITH m AS (
        SELECT event_type,
               user_id % 2 AS arm,
               count(*) AS n,
               sum(CAST(value AS DECIMAL(12,4))) AS s1,
               sum(CAST(value AS DECIMAL(12,4)) * CAST(value AS DECIMAL(12,4)))
                   AS s2
        FROM {table}
        GROUP BY event_type, user_id % 2
    ),
    w AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               CAST(a.s1 AS DOUBLE) / a.n AS mean_a,
               CAST(b.s1 AS DOUBLE) / b.n AS mean_b,
               (CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE) / a.n)
                   / (a.n - 1) AS var_a,
               (CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE) / b.n)
                   / (b.n - 1) AS var_b
        FROM m a JOIN m b ON a.event_type = b.event_type
        WHERE a.arm = 0 AND b.arm = 1
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(mean_a, 4) AS mean_a, round(mean_b, 4) AS mean_b,
           round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 4)
               AS z_score
    FROM w
"""


@register("q163_ab_test_zscore", sql=_AB_BODY.format(table="events"))
def q163_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-statistic per event type, arms assigned by
    user-id parity (the deterministic stand-in for an experiment flag).
    Moments (n, Σx, Σx²) are summed as exact decimals so the statistic is
    bit-identical across partitionings and engines; the z arithmetic runs
    on the 5-row moment table."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_ab_v")
    return spark.sql(_AB_BODY.format(table="events_ab_v"))


@register(
    "q164_revenue_gini",
    sql="""
    WITH per_cust AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT revenue,
               row_number() OVER (ORDER BY revenue, o_custkey) AS rk,
               count(*) OVER () AS n,
               sum(revenue) OVER () AS total
        FROM per_cust
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
           round(any_value(total), 2) AS total_revenue,
           round(2.0 * sum(rk * revenue) / (any_value(n) * any_value(total))
                 - (any_value(n) + 1.0) / any_value(n), 6) AS gini
    FROM ranked
    """,
)
def q164_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient over customers (the numeric
    inequality twin of q65's categorical Gini impurity), via the sorted
    cumulative-rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. Orders collapse
    to one row per customer first; only that residue (1/400th of the fact)
    crosses the rank window. Revenue is rounded BEFORE ranking so both
    engines rank identical values with the same key tiebreak."""
    per_cust = (load_table(spark, sf_dir, "orders")
                .groupBy("o_custkey")
                .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    ranked = per_cust.select(
        "revenue",
        F.row_number().over(Window.orderBy("revenue", "o_custkey")).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("revenue").over(Window.partitionBy()).alias("total"))
    return ranked.agg(
        F.any_value("n").cast("bigint").alias("n_customers"),
        F.round(F.any_value("total"), 2).alias("total_revenue"),
        F.round(2.0 * F.sum(F.col("rk") * F.col("revenue"))
                / (F.any_value("n") * F.any_value("total"))
                - (F.any_value("n") + 1.0) / F.any_value("n"), 6)
        .alias("gini"))


@register(
    "q165_yoy_growth",
    sql="""
    WITH m AS (
        SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
               CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT yr, mo, revenue,
           round((revenue - lag(revenue, 12) OVER (ORDER BY yr, mo))
                 / lag(revenue, 12) OVER (ORDER BY yr, mo), 6) AS yoy_growth
    FROM m
    """,
)
def q165_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: lag(12) on the monthly revenue series —
    the seasonal complement to q145's month-over-month. Fact collapses to
    ~80 month rows before the single-partition lag window; growth is
    differenced on already-rounded revenue so both engines agree exactly."""
    m = (load_table(spark, sf_dir, "orders")
         .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"),
                  F.month("o_orderdate").cast("bigint").alias("mo"))
         .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    w = Window.orderBy("yr", "mo")
    prev = F.lag("revenue", 12).over(w)
    return m.select("yr", "mo", "revenue",
                    F.round((F.col("revenue") - prev) / prev, 6)
                    .alias("yoy_growth"))


@register(
    "q167_market_basket",
    sql="""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
    brand_freq AS (
        SELECT p_brand, count(*) AS c FROM baskets GROUP BY p_brand
    ),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS c_ab
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING count(*) >= 50
    )
    SELECT p.brand_a, p.brand_b,
           CAST(p.c_ab AS BIGINT) AS n_both,
           round(p.c_ab::DOUBLE / n.n, 6) AS support,
           round(p.c_ab::DOUBLE / fa.c, 6) AS confidence_a_to_b,
           round(p.c_ab::DOUBLE * n.n / (fa.c::DOUBLE * fb.c), 6) AS lift
    FROM pairs p
    JOIN brand_freq fa ON p.brand_a = fa.p_brand
    JOIN brand_freq fb ON p.brand_b = fb.p_brand
    CROSS JOIN n_orders n
    """,
)
def q167_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (frequent brand pairs with support /
    confidence / lift) — the co-purchase analytics family. The quadratic
    step is bounded per basket (pairs within one order's distinct brands,
    ≤ 7 lines per order), support pruning happens in the pair aggregation's
    HAVING before any stats join, and the brand-frequency and order-count
    sides broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Materialize the per-order SORTED brand array ONCE (localCheckpoint,
    # the q295 edge-list convention): every consumer below reads it. The
    # round-11 second pass (guide §2.4) replaced the basket SELF-JOIN —
    # which exchanged every (order, brand) row twice and sorted both sides
    # — with scan-side pair enumeration over the basket array: the
    # quadratic step was already bounded per basket (≤ 7 lines per order),
    # so it belongs in a per-row HOF, not a join. One orderkey exchange
    # now carries each basket row once; n_orders is a plain count of the
    # grouped frame (the count_distinct partial-dedup exchange is gone)
    # and brand_freq re-derives from the arrays scan-side.
    grouped = (li.join(F.broadcast(part),
                       li.l_partkey == part.p_partkey)
               .select("l_orderkey", "p_brand").distinct()
               .groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_list("p_brand")).alias("bs"))
               .localCheckpoint())
    n_orders = grouped.agg(F.count(F.lit(1)).alias("n"))
    brand_freq = (grouped.select(F.explode("bs").alias("p_brand"))
                  .groupBy("p_brand").agg(F.count("*").alias("c")))
    # elements are distinct and ascending, so (i < j) == (bs[i] < bs[j])
    pairs = (grouped
             .select(F.explode(sorted_pairs("bs", "brand_a", "brand_b"))
                     .alias("pr"))
             .select("pr.brand_a", "pr.brand_b")
             .groupBy("brand_a", "brand_b")
             .agg(F.count("*").alias("c_ab"))
             .where(F.col("c_ab") >= 50))
    fa = brand_freq.select(F.col("p_brand").alias("brand_a"),
                           F.col("c").alias("c_a"))
    fb = brand_freq.select(F.col("p_brand").alias("brand_b"),
                           F.col("c").alias("c_b"))
    return (pairs.join(F.broadcast(fa), "brand_a")
            .join(F.broadcast(fb), "brand_b")
            .crossJoin(F.broadcast(n_orders))
            .select(
                "brand_a", "brand_b",
                F.col("c_ab").cast("bigint").alias("n_both"),
                F.round(F.col("c_ab").cast("double") / F.col("n"), 6)
                .alias("support"),
                F.round(F.col("c_ab").cast("double") / F.col("c_a"), 6)
                .alias("confidence_a_to_b"),
                F.round(F.col("c_ab").cast("double") * F.col("n")
                        / (F.col("c_a").cast("double") * F.col("c_b")), 6)
                .alias("lift")))


@register(
    "q169_group_apply_normalize",
    sql="""
    SELECT event_id, event_type,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events
    """,
)
def q169_group_apply_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 in its plain form: groupBy().applyInPandas z-score normalization —
    each event_type group crosses to Python ONCE as an Arrow batch and the
    kernel is fully vectorized. The oracle is the equivalent window SQL;
    the declarative twin would beat this in-engine (no Python exchange),
    which is exactly the trade the docstring of functions/udfs.py teaches —
    applyInPandas is for logic SQL can't express, shown here on logic it
    can, so both paths are cross-checked."""
    from ..functions.udfs import zscore_normalize_group

    ev = load_table(spark, sf_dir, "events")
    return (ev.select("event_id", "event_type", "value")
            .groupBy("event_type")
            .applyInPandas(zscore_normalize_group,
                           "event_id long, event_type string, z double"))


@register(
    "q170_arrow_python_udf",
    sql="""
    SELECT doc_id,
           CAST(length(trim(text)) - length(replace(trim(text), ' ', ''))
                + 1 AS BIGINT) AS n_words_py,
           upper(substr(trim(text), 1, 12)) AS head_norm
    FROM documents
    """,
)
def q170_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 modern form: Arrow-optimized Python UDFs (useArrow=True) — row
    logic in Python with columnar Arrow transfer instead of pickled rows
    (~an order of magnitude less serde than classic Python UDFs, still
    slower than built-ins; the registry keeps them OUT of hot paths). The
    oracle reproduces the same logic in SQL."""
    from pyspark.sql.functions import udf

    @udf(returnType="bigint", useArrow=True)
    def n_words(text: str) -> int:
        return len(text.strip().split(" "))

    @udf(returnType="string", useArrow=True)
    def head_norm(text: str) -> str:
        return text.strip()[:12].upper()

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_words(F.col("text")).alias("n_words_py"),
        head_norm(F.col("text")).alias("head_norm"),
    )


@register(
    "q173_chi_square",
    sql="""
    WITH obs AS (
        SELECT event_type, user_id % 2 AS arm, count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT o.event_type, o.arm, o.o,
               sum(o.o) OVER (PARTITION BY o.event_type) AS row_t,
               sum(o.o) OVER (PARTITION BY o.arm) AS col_t,
               sum(o.o) OVER () AS n
        FROM obs o
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(sum((o - row_t * col_t / CAST(n AS DOUBLE))
                     * (o - row_t * col_t / CAST(n AS DOUBLE))
                     / (row_t * col_t / CAST(n AS DOUBLE))), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT arm) - 1) AS BIGINT) AS dof
    FROM tot
    """,
)
def q173_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for the event_type × arm
    contingency table (the categorical sibling of q163's z-test). Observed
    and marginal counts are exact integers, so the statistic arithmetic is
    deterministic across engines; the 10-cell table means every window runs
    on a residue."""
    ev = load_table(spark, sf_dir, "events")
    obs = (ev.groupBy("event_type", (F.col("user_id") % 2).alias("arm"))
           .agg(F.count("*").alias("o")))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("arm")
    w_all = Window.partitionBy()
    tot = obs.select(
        "event_type", "arm", "o",
        F.sum("o").over(w_row).alias("row_t"),
        F.sum("o").over(w_col).alias("col_t"),
        F.sum("o").over(w_all).alias("n"))
    e = F.col("row_t") * F.col("col_t") / F.col("n").cast("double")
    return tot.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6)
        .alias("chi2"),
        ((F.count_distinct("event_type") - 1)
         * (F.count_distinct("arm") - 1)).cast("bigint").alias("dof"))


@register(
    "q174_mutual_information",
    sql="""
    WITH joint AS (
        SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    m AS (
        SELECT lang, source, c,
               sum(c) OVER (PARTITION BY lang) AS c_lang,
               sum(c) OVER (PARTITION BY source) AS c_src,
               sum(c) OVER () AS n
        FROM joint
    )
    SELECT round(sum((c / CAST(n AS DOUBLE))
                     * ln(c * CAST(n AS DOUBLE)
                          / (CAST(c_lang AS DOUBLE) * c_src))), 6) AS mi_nats,
           CAST(any_value(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM m
    """,
)
def q174_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) from exact contingency counts —
    the feature-dependence screen (near zero = independent metadata, high =
    redundant features). Same residue-window shape as q173: the corpus
    collapses to cells first, every probability derives from exact integer
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    m = joint.select(
        "lang", "source", "c",
        F.sum("c").over(Window.partitionBy("lang")).alias("c_lang"),
        F.sum("c").over(Window.partitionBy("source")).alias("c_src"),
        F.sum("c").over(Window.partitionBy()).alias("n"))
    term = (F.col("c") / F.col("n").cast("double")) * F.log(
        F.col("c") * F.col("n").cast("double")
        / (F.col("c_lang").cast("double") * F.col("c_src")))
    return m.agg(
        F.round(F.sum(term), 6).alias("mi_nats"),
        F.any_value("n").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_cells"))


@register(
    "q179_multi_touch_attribution",
    sql="""
    WITH touches AS (
        SELECT p.event_id AS purchase_id, p.value,
               count(*) OVER (PARTITION BY p.event_id) AS n_touches
        FROM (SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    )
    SELECT CAST(n_touches AS BIGINT) AS n_touches,
           CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           round(sum(value / n_touches), 2) AS attributed_revenue
    FROM touches GROUP BY n_touches
    """,
)
def q179_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value split equally
    across its preceding-hour clicks (the batch twin of q72's stream-stream
    attribution, extended from last-touch to fractional credit). The
    time-range join shuffles once on user_id; the per-purchase touch count
    is a window on the joined residue. Revenue conserves by construction:
    sum over buckets = sum of attributed purchase values."""
    ev = load_table(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                 "value"))
    c = (ev.where(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")))
    touches = p.join(
        c, (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")))
    counted = touches.withColumn(
        "n_touches", F.count("*").over(Window.partitionBy("purchase_id")))
    return (counted.groupBy(F.col("n_touches").cast("bigint").alias("n_touches"))
            .agg(F.count_distinct("purchase_id").cast("bigint")
                 .alias("n_purchases"),
                 F.round(F.sum(F.col("value") / F.col("n_touches")), 2)
                 .alias("attributed_revenue")))


@register(
    "q180_pipe_syntax",
    sql="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01'
    GROUP BY o_orderpriority
    """,
)
def q180_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's |> operator chaining — the linear query
    form): same plan as the nested ANSI equivalent the oracle runs; pipes
    are pure surface syntax, so filters still push down and aggregates
    still split partial/final."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql("""
        FROM orders_pipe_v
        |> WHERE o_orderdate >= DATE '1995-01-01'
        |> AGGREGATE count(*) AS n,
                     round(avg(o_totalprice), 2) AS avg_price
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, CAST(n AS BIGINT) AS n, avg_price
    """)


@register(
    "q181_sql_unpivot",
    sql="""
    SELECT l_returnflag, metric, round(val, 2) AS val
    FROM (
        SELECT l_returnflag,
               round(sum(l_extendedprice), 2) AS gross,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS discounted,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS charged
        FROM lineitem GROUP BY l_returnflag
    )
    UNPIVOT (val FOR metric IN (gross, discounted, charged))
    """,
)
def q181_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL UNPIVOT clause (q143 covers the DataFrame API twin) over the
    TPC-H revenue cascade — both engines support the identical clause, so
    the oracle text matches the Spark text modulo the view name."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_up_v")
    return spark.sql("""
        SELECT l_returnflag, metric, round(val, 2) AS val
        FROM (
            SELECT l_returnflag,
                   round(sum(l_extendedprice), 2) AS gross,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS discounted,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                       AS charged
            FROM lineitem_up_v GROUP BY l_returnflag
        )
        UNPIVOT (val FOR metric IN (gross, discounted, charged))
    """)


@register(
    "q183_listagg",
    sql="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)
               AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def q183_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2016 LISTAGG ... WITHIN GROUP (Spark 4) — ordered distinct
    string aggregation per nation. DuckDB spells the identical semantics
    string_agg(DISTINCT ... ORDER BY); the deterministic WITHIN GROUP
    ordering is what keeps the hash compare meaningful (q17's sorted
    collect_list is the DataFrame twin)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_la_v")
    return spark.sql("""
        SELECT c_nationkey,
               listagg(DISTINCT c_mktsegment, '|')
                   WITHIN GROUP (ORDER BY c_mktsegment) AS segments
        FROM customer_la_v GROUP BY c_nationkey
    """)


@register(
    "q184_approx_top_k",
    sql="""
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est_count
    FROM events GROUP BY event_type
    """,
)
def q184_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4's heavy-hitter sketch function, the built-in
    sibling of the hand-rolled CMS q132 / freqItems q105). With the tracked-
    item budget >= domain cardinality (5 event types vs 10k default) the
    sketch is EXACT, so the plain GROUP BY is a true oracle — the query
    pins that contract while exercising the sketch code path."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_atk_v")
    return spark.sql("""
        SELECT t.item, CAST(t.count AS BIGINT) AS est_count
        FROM (SELECT explode(approx_top_k(event_type, 5)) AS t
              FROM events_atk_v)
    """)


@register(
    "q185_modern_sql_conveniences",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM (SELECT * EXCLUDE (o_comment) FROM
          (SELECT o_orderstatus, o_orderpriority, o_totalprice,
                  'x' AS o_comment FROM orders))
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def q185_modern_sql_conveniences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL conveniences, cross-engine: SELECT * EXCEPT (Spark) /
    EXCLUDE (DuckDB), GROUP BY ALL, ORDER BY ALL — syntax sugar that
    resolves to the identical plan as the explicit column lists (verified
    by the oracle hashing equal)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_mod_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS revenue
        FROM (SELECT * EXCEPT (o_comment) FROM
              (SELECT o_orderstatus, o_orderpriority, o_totalprice,
                      'x' AS o_comment FROM orders_mod_v))
        GROUP BY ALL
        ORDER BY ALL
    """)


@register(
    "q187_pareto_8020",
    sql="""
    WITH per_user AS (
        SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n_events,
               row_number() OVER (ORDER BY n_events DESC, user_id) AS rk,
               count(*) OVER () AS n_users,
               sum(n_events) OVER () AS total
        FROM per_user
    )
    SELECT CAST(any_value(n_users) AS BIGINT) AS n_users,
           CAST(any_value(total) AS BIGINT) AS total_events,
           round(sum(CASE WHEN rk * 5 <= n_users THEN n_events
                          ELSE 0 END)::DOUBLE / any_value(total), 6)
               AS top20pct_share
    FROM ranked
    """,
)
def q187_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration (does the 80/20 rule hold?): the share of all
    events produced by the most-active 20% of users — the scalar companion
    to q164's Gini and q162's gains curve. Per-user aggregation first; the
    rank window runs on the user residue with deterministic tiebreaks."""
    per_user = (load_table(spark, sf_dir, "events")
                .groupBy("user_id").agg(F.count("*").alias("n_events")))
    ranked = per_user.select(
        "n_events",
        F.row_number().over(Window.orderBy(F.desc("n_events"), "user_id"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n_users"),
        F.sum("n_events").over(Window.partitionBy()).alias("total"))
    top = F.sum(F.when(F.col("rk") * 5 <= F.col("n_users"),
                       F.col("n_events")).otherwise(0))
    return ranked.agg(
        F.any_value("n_users").cast("bigint").alias("n_users"),
        F.any_value("total").cast("bigint").alias("total_events"),
        F.round(top.cast("double") / F.any_value("total"), 6)
        .alias("top20pct_share"))


@register(
    "q250_bitmap_distinct",
    sql="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def q250_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 4's
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    bitmap_or_agg / bitmap_count family) — the high-cardinality COUNT
    DISTINCT strategy that shuffles fixed-size bitmaps instead of raw
    values: ids fold into per-bucket bitsets map-side, buckets OR together,
    popcounts sum. Same answer as COUNT(DISTINCT) — the oracle — with
    shuffle bytes O(buckets), not O(distinct ids). This is the pattern
    warehouse engines hide behind their exact-distinct rewrites."""
    from ..sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    per_bucket = (ev.groupBy("event_type",
                             F.bitmap_bucket_number("user_id").alias("bucket"))
                  .agg(F.bitmap_construct_agg(
                      F.bitmap_bit_position("user_id")).alias("bm")))
    return (per_bucket.groupBy("event_type")
            .agg(F.sum(F.bitmap_count("bm")).cast("bigint")
                 .alias("distinct_users")))


@register(
    "q303_markov_entropy_rate",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             count(*)::DOUBLE AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tp AS (
      SELECT from_type, n,
             sum(n) OVER (PARTITION BY from_type) AS n_from
      FROM t
    ),
    cond AS (
      SELECT from_type, min(n_from) AS n_from,
             -sum((n / n_from) * log2(n / n_from)) AS h_cond
      FROM tp GROUP BY from_type
    )
    SELECT from_type,
           CAST(n_from AS BIGINT) AS n_transitions,
           round(h_cond, 6) AS h_cond_bits,
           round(sum(n_from * h_cond) OVER () / sum(n_from) OVER (), 6)
               AS entropy_rate_bits
    FROM cond
    ORDER BY from_type
    """,
)
def q303_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain (q134's transition
    matrix reduced to one predictability number): per-state conditional
    entropy H(next|from) in bits, weighted by observed state frequency into
    the chain's entropy rate. Low rate = predictable sessions (prefetchable,
    cacheable, simulatable); the per-state rows show WHICH states are
    chaotic. The heavy step is the same single user_id-partitioned lag
    window as q134; all entropy arithmetic runs on the 25-cell matrix
    residue."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"))
    t = (seq.filter(F.col("prev_type").isNotNull())
         .groupBy(F.col("prev_type").alias("from_type"),
                  F.col("event_type").alias("to_type"))
         .agg(F.count(F.lit(1)).cast("double").alias("n")))
    tp = t.withColumn("n_from", F.sum("n").over(
        Window.partitionBy("from_type")))
    pr = F.col("n") / F.col("n_from")
    cond = (tp.groupBy("from_type")
            .agg(F.min("n_from").alias("n_from"),
                 (-F.sum(pr * F.log2(pr))).alias("h_cond")))
    everything = Window.partitionBy()
    return (cond.select(
        "from_type",
        F.col("n_from").cast("bigint").alias("n_transitions"),
        F.round("h_cond", 6).alias("h_cond_bits"),
        F.round(F.sum(F.col("n_from") * F.col("h_cond")).over(everything)
                / F.sum("n_from").over(everything), 6)
        .alias("entropy_rate_bits"))
        .orderBy("from_type"))
