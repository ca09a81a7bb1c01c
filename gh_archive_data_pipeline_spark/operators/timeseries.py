"""Time-series operators over event streams: SCD2 interval derivation,
sequence-gap detection, and spine resampling with gap-fill.

These are the batch-side primitives of a "hypertable"-style workload: turn
an append-only event log into (a) validity intervals (point-in-time joinable
state history), (b) data-quality signals about the event sequence itself,
and (c) a dense, regularly-sampled series for downstream models.

Scale shape: everything here is one window function or one groupBy over the
event key — a single shuffle on the entity id, the same envelope as the
as-of join (operators/asof.py). The spine in ``resample`` is generated with
``sequence()`` per entity (no driver-side loop, no cross join against a
global calendar table), so spine size is O(entity activity span), produced
distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table


def scd2_intervals(events: DataFrame, key: str, ts: str,
                   attr_cols: list[str]) -> DataFrame:
    """Derive SCD-type-2 validity intervals from an event log ordered by
    ``ts``, then ``event_id``: each event opens an interval [valid_from,
    valid_to) closed by the key's next event; the latest interval per key
    is open (valid_to NULL, is_current)."""
    order = [F.col(ts).asc(), F.col("event_id").asc()]
    w = Window.partitionBy(key).orderBy(*order)
    nxt = F.lead(ts).over(w)
    return events.select(
        key, *attr_cols,
        F.col(ts).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def sequence_gaps(events: DataFrame, key: str, ts: str) -> DataFrame:
    """Per-key sequence quality (events ordered by ``ts``, then
    ``event_id``): count of inter-event gaps over one hour and the maximum
    gap in seconds — the monitoring signal
    for silent pipeline stalls (a statsd counter in the reference's plane; a
    query here)."""
    order = [F.col(ts).asc(), F.col("event_id").asc()]
    w = Window.partitionBy(key).orderBy(*order)
    gap_sec = (F.col(ts).cast("timestamp").cast("long")
               - F.lag(F.col(ts).cast("timestamp").cast("long")).over(w))
    return (
        events.select(key, gap_sec.alias("gap_sec"))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("gap_sec") > 3600, 1).otherwise(0))
            .cast("bigint").alias("n_gaps_over"),
            F.max("gap_sec").alias("max_gap_sec"),
        )
    )


def resample(events: DataFrame, key: str, ts: str, value: str,
             step: str = "1 hour") -> DataFrame:
    """Dense per-key resampling: bucket events to ``step``, build each key's
    full bucket spine min..max with ``sequence()``, left-join the aggregates,
    zero-fill empty buckets."""
    bucketed = (
        events.select(key, F.date_trunc("hour", F.col(ts)).alias("h"),
                      F.col(value).alias("v"))
        .groupBy(key, "h")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("v"), 2).alias("total_value"))
    )
    spine = (
        bucketed.groupBy(key)
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(key, F.explode(F.sequence(
            "lo", "hi", F.expr(f"INTERVAL {step}"))).alias("h"))
    )
    return (
        spine.join(bucketed, [key, "h"], "left")
        .select(key, F.col("h").alias("hour"),
                F.coalesce("n_events", F.lit(0)).alias("n_events"),
                F.round(F.coalesce("total_value", F.lit(0.0)), 2)
                .alias("total_value"))
    )


@register(
    "q85_scd2_intervals",
    sql="""
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             IS NULL) AS is_current
    FROM events
    """,
)
def q85_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history derivation: each user event opens a validity interval
    closed by the next event (event_id tiebreak makes the order total)."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(ev.select("user_id", "event_type", "ts", "event_id"),
                          key="user_id", ts="ts",
                          attr_cols=["event_type"]).drop("event_id")


@register(
    "q86_sequence_gaps",
    sql="""
    WITH g AS (
      SELECT user_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_sec
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CASE WHEN gap_sec > 3600 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps_over,
           max(gap_sec) AS max_gap_sec
    FROM g GROUP BY user_id
    """,
)
def q86_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-quality rollup: per-user count of >1h inter-event gaps and
    the max gap — the silent-stall detector for event pipelines."""
    ev = load_table(spark, sf_dir, "events")
    return sequence_gaps(ev.select("user_id", "ts", "event_id"),
                         key="user_id", ts="ts")


@register(
    "q91_resample_gapfill",
    sql="""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
             count(*) AS n, round(sum(value), 2) AS tv
      FROM events WHERE user_id < 10
      GROUP BY 1, 2
    ),
    span AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM b GROUP BY 1),
    spine AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM span
    )
    SELECT s.user_id, s.h AS hour,
           coalesce(b.n, 0) AS n_events,
           round(coalesce(b.tv, 0), 2) AS total_value
    FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.h = b.h
    """,
)
def q91_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with zero-fill for a user cohort: the spine is
    generated per key with sequence() — distributed, never a driver loop."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return resample(ev, key="user_id", ts="ts", value="value")


@register(
    "q145_mom_growth",
    sql="""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6) AS mom_growth
    FROM m
    """,
)
def q145_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: monthly revenue with its relative change —
    the standard KPI time series. Distributed agg first (orders collapse to
    ~80 month rows), lag window on the residue only; growth is computed from
    the already-rounded revenue so both engines difference identical values.
    """
    from pyspark.sql.window import Window

    m = (load_table(spark, sf_dir, "orders")
         .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                              "yyyy-MM").alias("month"))
         .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month", "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"))


@register(
    "q171_time_weighted_avg",
    sql="""
    WITH seq AS (
        SELECT user_id, value, ts,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    w AS (
        SELECT user_id, value,
               CAST(floor(epoch(next_ts)) - floor(epoch(ts)) AS BIGINT)
                   AS hold_sec
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(hold_sec) AS BIGINT) AS total_sec,
           round(sum(value * hold_sec) / sum(hold_sec), 4) AS twap
    FROM w
    WHERE hold_sec > 0
    GROUP BY user_id
    """,
)
def q171_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation weighted by how long
    it was the user's latest value (lead-difference holding time). One
    shuffle on user_id for the lead window; the weighted aggregation is
    partial-agg friendly. Holding times are integer seconds on both engines
    (floored epochs) so the weights are exact."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value", "ts",
        F.lead("ts").over(w).alias("next_ts"))
    held = (seq.where(F.col("next_ts").isNotNull())
            .select("user_id", "value",
                    (F.unix_timestamp("next_ts") - F.unix_timestamp("ts"))
                    .cast("bigint").alias("hold_sec"))
            .where(F.col("hold_sec") > 0))
    return (held.groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_intervals"),
                 F.sum("hold_sec").cast("bigint").alias("total_sec"),
                 F.round(F.sum(F.col("value") * F.col("hold_sec"))
                         / F.sum("hold_sec"), 4).alias("twap")))


@register(
    "q176_conversion_latency",
    sql="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    ),
    lat AS (
        SELECT CAST(floor(epoch(first_purchase)) - floor(epoch(first_click))
                    AS BIGINT) AS delta_sec
        FROM firsts
        WHERE first_click IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_click
    )
    SELECT CAST(least(floor(delta_sec / 3600.0), 48) AS BIGINT) AS hours_bucket,
           CAST(count(*) AS BIGINT) AS n_users
    FROM lat GROUP BY 1
    """,
)
def q176_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: first click → first purchase delta
    per user, bucketed by hour (capped at 48h). Conditional-min first-touch
    (one grouped pass, the q121 funnel idiom) then a 49-bucket histogram —
    no joins at all; durations are integer seconds so bucketing is exact."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts")))
        .alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .alias("first_purchase"))
    lat = (firsts
           .where(F.col("first_click").isNotNull()
                  & F.col("first_purchase").isNotNull()
                  & (F.col("first_purchase") >= F.col("first_click")))
           .select((F.unix_timestamp("first_purchase")
                    - F.unix_timestamp("first_click")).alias("delta_sec")))
    bucket = F.least(F.floor(F.col("delta_sec") / 3600.0), F.lit(48))
    return (lat.groupBy(bucket.cast("bigint").alias("hours_bucket"))
            .agg(F.count("*").cast("bigint").alias("n_users")))


@register(
    "q178_rolling_distinct_users",
    sql="""
    WITH da AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    bounds AS (SELECT max(day) AS max_day FROM da),
    covered AS (
        SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE)
                   AS report_day,
               user_id
        FROM da
    )
    SELECT strftime(c.report_day, '%Y-%m-%d') AS report_day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM covered c, bounds b
    WHERE c.report_day <= b.max_day
    GROUP BY 1
    """,
)
def q178_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per day — the metric windows can't
    express (COUNT(DISTINCT) isn't a window function). Rewrite: collapse to
    distinct (day, user), explode each into the ≤7 report days it covers,
    and count distinct per report day — bounded 7× fan-out of the tiny
    user-day residue and one equi-keyed distinct-count, no range join
    against the fact."""
    ev = load_table(spark, sf_dir, "events")
    da = (ev.select(F.date_trunc("day", "ts").cast("date").alias("day"),
                    "user_id").distinct())
    max_day = da.agg(F.max("day").alias("max_day"))
    covered = da.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
        .alias("report_day"),
        "user_id")
    return (covered.crossJoin(F.broadcast(max_day))
            .where(F.col("report_day") <= F.col("max_day"))
            .groupBy(F.date_format("report_day", "yyyy-MM-dd")
                     .alias("report_day"))
            .agg(F.count_distinct("user_id").cast("bigint").alias("wau")))


@register(
    "q186_bounce_rate",
    sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                      OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id)))
                         > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_id
        FROM marked
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS bounce_rate,
           round(avg(n_events), 4) AS avg_events_per_session
    FROM per_session
    """,
)
def q186_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in plain SQL (the lag→flag→cumsum islands
    idiom, 30-min timeout) rolled up to the bounce rate — cross-validates
    q52's session_window on the same semantics from first principles.
    One shuffle on user_id; both windows share that partitioning, so the
    second window adds no exchange."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(prev.isNull()
               | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
               1).otherwise(0).alias("new_session"))
    wc = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sessions = marked.select(
        "user_id", F.sum("new_session").over(wc).alias("session_id"))
    per_session = (sessions.groupBy("user_id", "session_id")
                   .agg(F.count("*").alias("n_events")))
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return per_session.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("bounces"),
        F.round(bounce.cast("double") / F.count("*"), 6).alias("bounce_rate"),
        F.round(F.avg("n_events"), 4).alias("avg_events_per_session"))


@register(
    "q190_capped_sessions",
    sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    gs AS (
        SELECT user_id, ts, event_id,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS gsid
        FROM marked
    ),
    sliced AS (
        SELECT user_id, ts, gsid,
               CAST(floor((row_number() OVER (PARTITION BY user_id, gsid
                                              ORDER BY ts, event_id) - 1)
                          / 100) AS BIGINT) AS cap_slice
        FROM gs
    )
    SELECT user_id,
           CAST(gsid AS BIGINT)              AS gap_session,
           cap_slice,
           CAST(count(*) AS BIGINT)          AS n_events,
           CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS end_us
    FROM sliced
    GROUP BY user_id, gsid, cap_slice
    """,
)
def q190_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 30-minute inactivity gap and a 100-event
    session cap (the rule real analytics pipelines use so a bot's unbroken
    click-stream can't produce an unbounded session). Gap sessions come from
    the lag→flag→cumsum islands idiom; the cap then slices each island by
    floor((row_number-1)/100). All three windows and the final groupBy share
    the user_id partitioning — one shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    marked = ev.select(
        "user_id", "ts", "event_id", us.alias("us"),
        F.when(prev_us.isNull() | ((us - prev_us) > 1_800_000_000), 1)
        .otherwise(0).alias("new_session"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gs = marked.select(
        "user_id", "ts", "event_id", "us",
        F.sum("new_session").over(wc).alias("gsid"))
    wr = Window.partitionBy("user_id", "gsid").orderBy("ts", "event_id")
    sliced = gs.select(
        "user_id", "us", "gsid",
        F.floor((F.row_number().over(wr) - 1) / 100).cast("bigint")
        .alias("cap_slice"))
    return (sliced.groupBy("user_id",
                           F.col("gsid").cast("bigint").alias("gap_session"),
                           "cap_slice")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.min("us").cast("bigint").alias("start_us"),
                 F.max("us").cast("bigint").alias("end_us")))


@register(
    "q192_seasonal_anomaly",
    sql="""
    WITH hourly AS (
        SELECT CAST(floor(epoch_us(ts) / 3600000000) * 3600 AS BIGINT)
                   AS hour_epoch,
               count(*) AS c
        FROM events GROUP BY 1
    ),
    keyed AS (
        SELECT hour_epoch, c,
               CAST((floor(hour_epoch / 86400) + 4) % 7 AS BIGINT) AS dow,
               CAST(floor((hour_epoch % 86400) / 3600) AS BIGINT)  AS hod
        FROM hourly
    ),
    base AS (
        SELECT dow, hod, avg(c) AS mu, stddev_samp(c) AS sigma
        FROM keyed GROUP BY dow, hod
    )
    SELECT hour_epoch,
           CAST(c AS BIGINT)                                  AS n_events,
           dow, hod,
           round(mu, 4)                                       AS baseline_mean,
           round((c - mu) / nullif(sigma, 0), 4)              AS zscore
    FROM keyed JOIN base USING (dow, hod)
    WHERE abs(round((c - mu) / nullif(sigma, 0), 4)) > 1.25
    """,
)
def q192_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: hourly event counts compared to
    the (day-of-week, hour-of-day) baseline across the month; hours beyond
    |z| > 1.25 are flagged (with ~4 weekly samples per cell, |z| is
    bounded near (n-1)/sqrt(n) ~ 1.8, so a 2.0 threshold could never fire). Day-of-week is derived arithmetically from the
    epoch (1970-01-01 was a Thursday → +4 mod 7) so both engines use the
    identical convention. The baseline table is (7×24) rows → broadcast back
    onto the hourly series; the only data-sized shuffle is the first
    hour-bucket aggregation, which is map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    hour_epoch = (F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                          / 3_600_000_000) * 3600).cast("bigint")
    hourly = (ev.groupBy(hour_epoch.alias("hour_epoch"))
              .agg(F.count(F.lit(1)).alias("c")))
    keyed = hourly.select(
        "hour_epoch", "c",
        ((F.floor(F.col("hour_epoch") / 86400) + 4) % 7).cast("bigint")
        .alias("dow"),
        F.floor((F.col("hour_epoch") % 86400) / 3600).cast("bigint")
        .alias("hod"))
    base = (keyed.groupBy("dow", "hod")
            .agg(F.avg("c").alias("mu"), F.stddev_samp("c").alias("sigma")))
    z = F.round((F.col("c") - F.col("mu"))
                / F.nullif(F.col("sigma"), F.lit(0.0)), 4)
    return (keyed.join(F.broadcast(base), ["dow", "hod"])
            .filter(F.abs(z) > 1.25)
            .select("hour_epoch",
                    F.col("c").cast("bigint").alias("n_events"),
                    "dow", "hod",
                    F.round("mu", 4).alias("baseline_mean"),
                    z.alias("zscore")))


@register(
    "q204_sequence_patterns",
    sql="""
    WITH journeys AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS journey
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(journey) AS BIGINT)                   AS journey_len,
           CAST((length(journey)
                 - length(replace(journey, 'cp', ''))) // 2 AS BIGINT)
                                                             AS click_then_buy,
           CAST((length(journey)
                 - length(replace(journey, 'vc', ''))) // 2 AS BIGINT)
                                                             AS view_then_click,
           (journey LIKE '%s%' AND strpos(journey, 's') <
              CASE WHEN strpos(journey, 'p') = 0 THEN 99999
                   ELSE strpos(journey, 'p') END)            AS signup_before_buy
    FROM journeys
    """,
)
def q204_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern mining without MATCH_RECOGNIZE: each user's
    journey collapses to a string of event initials (c/e/p/s/v, one char per
    event, event-time order), and adjacency patterns become plain string
    ops — count of click→purchase and view→click bigrams, and whether
    signup precedes the first purchase. The collect is per-user and each
    journey is |events-per-user| chars, so the shuffle carries strings the
    size of the data it aggregates; pattern counting is expression-only.
    This is the cheap sequential-pattern plan (string algebra over sorted
    aggregation) that covers most funnel questions before reaching for a
    stateful engine."""
    ev = load_table(spark, sf_dir, "events")
    journey = F.concat_ws(
        "", F.transform(
            F.array_sort(F.collect_list(F.struct(
                "ts", "event_id",
                F.substring("event_type", 1, 1).alias("ch")))),
            lambda s: s["ch"]))
    j = ev.groupBy("user_id").agg(journey.alias("journey"))
    def count_pat(pat):
        return ((F.length("journey")
                 - F.length(F.replace(F.col("journey"), F.lit(pat))))
                / 2).cast("bigint")
    first_p = F.when(F.instr("journey", "p") == 0, 99999) \
        .otherwise(F.instr("journey", "p"))
    return j.select(
        "user_id",
        F.length("journey").cast("bigint").alias("journey_len"),
        count_pat("cp").alias("click_then_buy"),
        count_pat("vc").alias("view_then_click"),
        (F.col("journey").like("%s%") & (F.instr("journey", "s") < first_p))
        .alias("signup_before_buy"))


@register(
    "q208_out_of_order_audit",
    sql="""
    WITH run AS (
        SELECT user_id, ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS seen_max
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN ts < seen_max THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           round(sum(CASE WHEN ts < seen_max THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS late_frac,
           CAST(coalesce(max(CASE WHEN ts < seen_max
                             THEN epoch_us(seen_max) - epoch_us(ts) END), 0)
                AS BIGINT) AS max_lateness_us
    FROM run GROUP BY user_id
    """,
)
def q208_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: treating event_id as arrival order, how often
    does an event's timestamp precede the running max already seen for that
    user (out-of-order arrival), and by how much at worst? max_lateness_us
    IS the minimum watermark delay that would have dropped nothing — the
    empirical input to every withWatermark() in the streaming plane. One
    window + one groupBy, both on the user_id partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    run = ev.select(
        "user_id", "ts", F.max("ts").over(w).alias("seen_max"))
    late = F.col("ts") < F.col("seen_max")
    lateness = (F.unix_micros(F.col("seen_max").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp")))
    return (run.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.sum(F.when(late, 1).otherwise(0)).cast("bigint")
                 .alias("n_late"),
                 F.round(F.sum(F.when(late, 1).otherwise(0)).cast("double")
                         / F.count(F.lit(1)), 6).alias("late_frac"),
                 F.coalesce(F.max(F.when(late, lateness)), F.lit(0))
                 .cast("bigint").alias("max_lateness_us")))


@register(
    "q214_ewma_control",
    sql="""
    WITH framed AS (
        SELECT user_id, event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                   AS arr
        FROM events
    )
    SELECT user_id, event_id,
           round(list_sum(list_transform(range(1, len(arr) + 1),
                 i -> arr[i] * CASE WHEN i = 1
                                    THEN power(0.7, len(arr) - 1)
                                    ELSE 0.3 * power(0.7, len(arr) - i)
                               END)), 4) AS ewma
    FROM framed
    WHERE len(arr) = 20
    """,
)
def q214_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control value (α = 0.3) per user over the trailing 20 events —
    the anomaly-baseline smoother that is inherently sequential, expressed
    without recursion: over the bounded frame, EWMA_n unrolls to the closed
    form x_1·(1-α)^(n-1) + α·Σ x_i·(1-α)^(n-i), computable as an indexed
    map-sum over the frame's collected array. Frame width caps the state
    (20 doubles/row), so one user_id shuffle and JVM-side array math — the
    unbounded-history variant belongs to the streaming stateful operator
    (streaming/stateful.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-19, Window.currentRow))
    framed = ev.select("user_id", "event_id",
                       F.collect_list("value").over(w).alias("arr"))
    n = F.size("arr")
    weighted = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.element_at(F.col("arr"), i)
        * F.when(i == 1, F.pow(0.7, (n - 1).cast("double")))
        .otherwise(0.3 * F.pow(0.7, (n - i).cast("double"))))
    ewma = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    # Warm-up rows (frame < 20) are excluded, as a control chart would:
    # beyond chart semantics, short frames produce decimal-ALIGNED values
    # (2-decimal inputs x short 0.7^k weights) that sit exactly on rounding
    # boundaries, where the engines' last-ULP differences (libm pow, fold
    # order) flip the 4dp round. Full frames mix 20 irrational weights, so
    # boundary collisions vanish (~1e-9/row).
    return (framed.filter(F.size("arr") == 20)
            .select("user_id", "event_id",
                    F.round(ewma, 4).alias("ewma")))


@register(
    "q216_survival_curve",
    sql="""
    WITH bounds AS (SELECT max(ts) AS censor_ts FROM events),
    signups AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase AS (
        SELECT s.user_id, s.signup_ts, min(e.ts) AS purchase_ts
        FROM signups s LEFT JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'purchase'
         AND e.ts >= s.signup_ts
        GROUP BY s.user_id, s.signup_ts
    ),
    durations AS (
        SELECT CAST(floor((epoch_us(coalesce(purchase_ts, censor_ts))
                           - epoch_us(signup_ts)) / 86400000000) AS BIGINT)
                   AS day,
               (purchase_ts IS NOT NULL) AS converted
        FROM first_purchase CROSS JOIN bounds
    ),
    daily AS (
        SELECT day,
               count(*) AS ending,
               sum(CASE WHEN converted THEN 1 ELSE 0 END) AS d
        FROM durations GROUP BY day
    ),
    km AS (
        SELECT day, d,
               (SELECT count(*) FROM durations dd WHERE dd.day >= daily.day)
                   AS n_risk
        FROM daily
    )
    SELECT day,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT)      AS n_converted,
           round(exp(sum(ln(1 - d::DOUBLE / n_risk))
                     OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)), 6) AS survival
    FROM km WHERE d < n_risk
    ORDER BY day
    """,
)
def q216_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve: days from signup to first
    purchase, users without a purchase right-censored at the observation
    end. S(day) = Π (1 - d_i / n_i) computed as exp of a running sum of
    logs — a window over the per-day table (≤ observation-span rows), so
    the only data-sized work is the per-user reduction; the at-risk counts
    come from a day-level self-join on the tiny daily table. Degenerate
    final days where everyone remaining converts (d = n) are dropped on
    both sides (survival hits exact 0). This is the funnel/retention
    statistic done right — censoring included, unlike naive conversion
    rates."""
    ev = load_table(spark, sf_dir, "events")
    censor = ev.agg(F.max("ts").alias("censor_ts"))
    signups = (ev.filter(F.col("event_type") == "signup")
               .groupBy("user_id").agg(F.min("ts").alias("signup_ts")))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    fp = (signups.join(purchases,
                       (F.col("p_user") == F.col("user_id"))
                       & (F.col("p_ts") >= F.col("signup_ts")), "left")
          .groupBy("user_id", "signup_ts")
          .agg(F.min("p_ts").alias("purchase_ts")))
    end_us = F.unix_micros(
        F.coalesce(F.col("purchase_ts"), F.col("censor_ts")).cast("timestamp"))
    start_us = F.unix_micros(F.col("signup_ts").cast("timestamp"))
    durations = (fp.crossJoin(F.broadcast(censor))
                 .select(
                     F.floor((end_us - start_us) / 86_400_000_000)
                     .cast("bigint").alias("day"),
                     F.col("purchase_ts").isNotNull().alias("converted")))
    daily = (durations.groupBy("day")
             .agg(F.count(F.lit(1)).alias("ending"),
                  F.sum(F.when(F.col("converted"), 1).otherwise(0))
                  .alias("d")))
    # at-risk = everyone whose duration ends on this day or later: a
    # self-join on the tiny per-day table (span-sized, broadcastable)
    d2 = daily.select(F.col("day").alias("day2"), F.col("ending").alias("e2"))
    km = (daily.join(F.broadcast(d2), F.col("day2") >= F.col("day"))
          .groupBy("day", "d")
          .agg(F.sum("e2").alias("n_risk")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return (km.filter(F.col("d") < F.col("n_risk"))
            .select("day",
                    F.col("n_risk").cast("bigint").alias("n_risk"),
                    F.col("d").cast("bigint").alias("n_converted"),
                    F.round(F.exp(F.sum(
                        F.log(1 - F.col("d").cast("double")
                              / F.col("n_risk"))).over(w)), 6)
                    .alias("survival"))
            .orderBy("day"))


@register(
    "q228_downsample_minmax",
    sql="""
    WITH bucketed AS (
        SELECT user_id, ts, event_id, value,
               CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket
        FROM events WHERE user_id < 20
    ),
    ranked AS (
        SELECT user_id, bucket, value,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY value ASC, ts, event_id) AS r_min,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY value DESC, ts, event_id) AS r_max
        FROM bucketed
    )
    SELECT user_id, bucket,
           CAST(count(*) AS BIGINT)          AS kept_points,
           round(min(value), 2)              AS min_value,
           round(max(value), 2)              AS max_value
    FROM ranked WHERE r_min = 1 OR r_max = 1
    GROUP BY user_id, bucket
    """,
)
def q228_downsample_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max downsampling for time-series rendering: per (user, hour)
    bucket keep only the extreme points (the envelope a plot needs —
    guarantees no spike is lost, unlike averaging). Both rank windows share
    the (user, bucket) partitioning — one shuffle; kept_points is 2 (or 1
    when a single row is both extremes). The LTTB refinement has a
    sequential dependency and belongs to a stateful pass; min-max is the
    distributable 99% answer."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    bucket = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                     / 3_600_000_000).cast("bigint")
    b = ev.select("user_id", "ts", "event_id", "value",
                  bucket.alias("bucket"))
    w_min = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("value").asc(), "ts", "event_id")
    w_max = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("value").desc(), "ts", "event_id")
    ranked = b.select(
        "user_id", "bucket", "value",
        F.row_number().over(w_min).alias("r_min"),
        F.row_number().over(w_max).alias("r_max"))
    return (ranked.filter((F.col("r_min") == 1) | (F.col("r_max") == 1))
            .groupBy("user_id", "bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("kept_points"),
                 F.round(F.min("value"), 2).alias("min_value"),
                 F.round(F.max("value"), 2).alias("max_value")))


@register(
    "q229_new_user_growth",
    sql="""
    WITH first_seen AS (
        SELECT user_id,
               CAST(floor(epoch_us(min(ts)) / 86400000000) AS BIGINT) AS day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT day, count(*) AS new_users FROM first_seen GROUP BY day
    )
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
    """,
)
def q229_new_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-user acquisition curve: each user attributed to their first-seen
    day, daily cohort sizes, and the running total — the growth KPI. The
    heavy reduction (min ts per user) is the only data-sized shuffle; the
    cumulative window runs over the ~30-row daily residue."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.min("ts").cast("timestamp"))
                  / 86_400_000_000).cast("bigint")
    first_seen = ev.groupBy("user_id").agg(day.alias("day"))
    daily = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return daily.select(
        "day", F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"))


@register(
    "q230_engagement_transitions",
    sql="""
    WITH weekly AS (
        SELECT user_id,
               CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS week,
               count(*) AS n
        FROM events GROUP BY user_id, week
    ),
    tiered AS (
        SELECT user_id, week,
               CASE WHEN n >= 100 THEN 'power'
                    WHEN n >= 30 THEN 'regular' ELSE 'casual' END AS tier
        FROM weekly
    ),
    paired AS (
        SELECT a.tier AS tier_from, b.tier AS tier_to
        FROM tiered a JOIN tiered b
          ON a.user_id = b.user_id AND b.week = a.week + 1
    )
    SELECT tier_from, tier_to,
           CAST(count(*) AS BIGINT) AS n_users,
           round(count(*)::DOUBLE
                 / sum(count(*)) OVER (PARTITION BY tier_from), 6) AS p
    FROM paired GROUP BY tier_from, tier_to
    """,
)
def q230_engagement_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-tier retention matrix: users bucketed per week into
    power/regular/casual by activity, then week-over-week transition
    probabilities — the product-health Markov matrix (q134's event-level
    cousin at the user-lifecycle level). Self-join on (user, week+1) keys
    the same shuffle as the tiering aggregation; the probability window
    runs over the 9-cell residue."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                   / 604_800_000_000).cast("bigint")
    weekly = (ev.groupBy("user_id", week.alias("week"))
              .agg(F.count(F.lit(1)).alias("n")))
    tier = (F.when(F.col("n") >= 100, "power")
            .when(F.col("n") >= 30, "regular").otherwise("casual"))
    tiered = weekly.select("user_id", "week", tier.alias("tier"))
    b = tiered.select(F.col("user_id").alias("u2"),
                      F.col("week").alias("w2"),
                      F.col("tier").alias("tier_to"))
    paired = tiered.join(
        b, (F.col("u2") == F.col("user_id")) & (F.col("w2") == F.col("week") + 1))
    counts = (paired.groupBy(F.col("tier").alias("tier_from"), "tier_to")
              .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("tier_from")
    return counts.select(
        "tier_from", "tier_to",
        F.col("c").cast("bigint").alias("n_users"),
        F.round(F.col("c").cast("double") / F.sum("c").over(w), 6).alias("p"))


@register(
    "q232_ltv_cohorts",
    sql="""
    WITH signup AS (
        SELECT user_id,
               CAST(floor(epoch_us(min(ts)) / 604800000000) AS BIGINT)
                   AS cohort_week
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    revenue AS (
        SELECT e.user_id, s.cohort_week,
               CAST(floor(epoch_us(e.ts) / 604800000000) AS BIGINT)
                   - s.cohort_week AS weeks_since,
               e.value
        FROM events e JOIN signup s USING (user_id)
        WHERE e.event_type = 'purchase'
    ),
    cohort_size AS (
        SELECT cohort_week, count(*) AS n_users FROM signup GROUP BY cohort_week
    ),
    weekly AS (
        SELECT cohort_week, weeks_since, sum(value) AS rev
        FROM revenue WHERE weeks_since >= 0
        GROUP BY cohort_week, weeks_since
    )
    SELECT w.cohort_week, w.weeks_since,
           CAST(c.n_users AS BIGINT) AS cohort_users,
           round(sum(w.rev) OVER (PARTITION BY w.cohort_week
                                  ORDER BY w.weeks_since
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) / c.n_users, 4)
               AS cum_revenue_per_user
    FROM weekly w JOIN cohort_size c USING (cohort_week)
    """,
)
def q232_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by signup week, purchase
    revenue accumulated per weeks-since-signup, normalized per cohort user
    — the LTV table growth teams read down-diagonally. Revenue joins the
    cohort assignment on user_id (one shuffle); the cumulative window runs
    on the (cohort × week) residue."""
    ev = load_table(spark, sf_dir, "events")
    week = lambda c: F.floor(F.unix_micros(F.col(c).cast("timestamp"))
                             / 604_800_000_000).cast("bigint")
    signup = (ev.filter(F.col("event_type") == "signup")
              .groupBy("user_id")
              .agg(F.floor(F.unix_micros(F.min("ts").cast("timestamp"))
                           / 604_800_000_000).cast("bigint")
                   .alias("cohort_week")))
    revenue = (ev.filter(F.col("event_type") == "purchase")
               .join(signup, "user_id")
               .select("cohort_week",
                       (week("ts") - F.col("cohort_week")).alias("weeks_since"),
                       "value")
               .filter(F.col("weeks_since") >= 0))
    cohort_size = signup.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"))
    weekly = (revenue.groupBy("cohort_week", "weeks_since")
              .agg(F.sum("value").alias("rev")))
    w = (Window.partitionBy("cohort_week").orderBy("weeks_since")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (weekly.join(F.broadcast(cohort_size), "cohort_week")
            .select("cohort_week", "weeks_since",
                    F.col("n_users").cast("bigint").alias("cohort_users"),
                    F.round(F.sum("rev").over(w) / F.col("n_users"), 4)
                    .alias("cum_revenue_per_user")))


@register(
    "q233_session_abandonment",
    sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_type,
               CAST((floor(epoch_us(min(ts) OVER (PARTITION BY user_id, sid))
                           / 86400000000) + 4) % 7 AS BIGINT) AS dow,
               sid
        FROM (
            SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS sid,
                   ts
            FROM marked
        )
    ),
    per_session AS (
        SELECT user_id, sid, min(dow) AS dow,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_buy
        FROM sessions GROUP BY user_id, sid
    )
    SELECT dow,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN has_click = 1 AND has_buy = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS abandoned,
           round(sum(CASE WHEN has_click = 1 AND has_buy = 0
                          THEN 1 ELSE 0 END)::DOUBLE
                 / sum(CASE WHEN has_click = 1 THEN 1 ELSE 0 END), 6)
               AS abandonment_rate
    FROM per_session GROUP BY dow
    """,
)
def q233_session_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-abandonment by day of week: gap-sessionized (30 min) sessions
    that contain a click but no purchase, as a share of clicking sessions.
    Every window shares the user_id shuffle; day-of-week is epoch
    arithmetic (engine-identical). The kind of funnel KPI that composes
    three operator planes — sessionization, conditional flags, calendar
    bucketing — in one pipeline."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(prev_us.isNull() | ((us - prev_us) > 1_800_000_000), 1)
        .otherwise(0).alias("new_session"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.select("user_id", "ts", "event_type",
                         F.sum("new_session").over(wc).alias("sid"))
    ws = Window.partitionBy("user_id", "sid")
    dow = ((F.floor(F.unix_micros(F.min("ts").over(ws).cast("timestamp"))
                    / 86_400_000_000) + 4) % 7).cast("bigint")
    per_session = (sess.select("user_id", "sid", dow.alias("dow"),
                               "event_type")
                   .groupBy("user_id", "sid")
                   .agg(F.min("dow").alias("dow"),
                        F.max(F.when(F.col("event_type") == "click", 1)
                              .otherwise(0)).alias("has_click"),
                        F.max(F.when(F.col("event_type") == "purchase", 1)
                              .otherwise(0)).alias("has_buy")))
    abandoned = F.sum(F.when((F.col("has_click") == 1)
                             & (F.col("has_buy") == 0), 1).otherwise(0))
    clicking = F.sum(F.when(F.col("has_click") == 1, 1).otherwise(0))
    return (per_session.groupBy("dow")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 abandoned.cast("bigint").alias("abandoned"),
                 F.round(abandoned.cast("double") / clicking, 6)
                 .alias("abandonment_rate")))


@register(
    "q245_linear_interpolation",
    sql="""
    WITH purchases AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'purchase' THEN value END AS known
        FROM events WHERE user_id < 50
    ),
    bounded AS (
        SELECT user_id, ts, event_id, known,
               last_value(known IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
               first_value(known IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
               max(CASE WHEN known IS NOT NULL THEN epoch_us(ts) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
               min(CASE WHEN known IS NOT NULL THEN epoch_us(ts) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
        FROM purchases
    )
    SELECT user_id, event_id,
           round(CASE
               WHEN known IS NOT NULL THEN known
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               WHEN next_t = prev_t THEN prev_v
               ELSE prev_v + (next_v - prev_v)
                    * (epoch_us(ts) - prev_t)::DOUBLE / (next_t - prev_t)
           END, 4) AS interp_value
    FROM bounded
    """,
)
def q245_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a sparse signal: purchase values are the
    known points; every other event gets prev + slope·Δt between its
    neighboring knowns (edges extend flat) — the gap-fill a feature
    pipeline applies to irregular sensors. Four frame windows, all on the
    same user_id partitioning → one shuffle; IGNORE NULLS last/first_value
    does the neighbor search without joins."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    known = F.when(F.col("event_type") == "purchase", F.col("value"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "ts", "event_id", us.alias("t"),
                     known.alias("known"))
    back = (Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("user_id").orderBy("ts", "event_id")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    b = base.select(
        "user_id", "event_id", "t", "known",
        F.last("known", ignorenulls=True).over(back).alias("prev_v"),
        F.first("known", ignorenulls=True).over(fwd).alias("next_v"),
        F.max(F.when(F.col("known").isNotNull(), F.col("t"))).over(back)
        .alias("prev_t"),
        F.min(F.when(F.col("known").isNotNull(), F.col("t"))).over(fwd)
        .alias("next_t"))
    interp = (F.when(F.col("known").isNotNull(), F.col("known"))
              .when(F.col("prev_v").isNull(), F.col("next_v"))
              .when(F.col("next_v").isNull(), F.col("prev_v"))
              .when(F.col("next_t") == F.col("prev_t"), F.col("prev_v"))
              .otherwise(F.col("prev_v")
                         + (F.col("next_v") - F.col("prev_v"))
                         * (F.col("t") - F.col("prev_t")).cast("double")
                         / (F.col("next_t") - F.col("prev_t"))))
    return b.select("user_id", "event_id",
                    F.round(interp, 4).alias("interp_value"))


@register(
    "q246_daily_quantiles",
    sql="""
    SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY day
    """,
)
def q246_daily_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily exact quantile trajectories (p50/p90/p99 of event value) — the
    latency/size percentile time series every SLO dashboard plots. Exact
    percentile is a per-group sort of the day's values; the day key bounds
    each group so the sort is partition-local after one shuffle. Both
    engines interpolate linearly (percentile / quantile_cont)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                  / 86_400_000_000).cast("bigint")
    return (ev.groupBy(day.alias("day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
                 F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
                 F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99")))


@register(
    "q248_cep_triple",
    sql="""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type,
               lead(event_type, 1) OVER w AS t1,
               lead(event_type, 2) OVER w AS t2,
               lead(ts, 2) OVER w AS ts2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS start_event_id,
           CAST(epoch_us(ts2) - epoch_us(ts) AS BIGINT) AS span_us
    FROM seq
    WHERE event_type = 'click' AND t1 = 'click' AND t2 = 'purchase'
      AND epoch_us(ts2) - epoch_us(ts) <= 600000000
    """,
)
def q248_cep_triple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event detection without MATCH_RECOGNIZE: the strict
    consecutive pattern click→click→purchase completing within 10 minutes,
    found with two leads over the per-user sequence — zero joins, one
    user_id shuffle, O(1) state per row. The time bound rides as a plain
    predicate on the pattern's end-to-end span. (q204 covers unbounded string
    patterns; this is the time-constrained, row-anchored variant.)"""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: F.unix_micros(c.cast("timestamp"))
    seq = ev.select(
        "user_id", "event_id", "ts", "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("ts", 2).over(w).alias("ts2"))
    span = us(F.col("ts2")) - us(F.col("ts"))
    return (seq.filter((F.col("event_type") == "click")
                       & (F.col("t1") == "click")
                       & (F.col("t2") == "purchase")
                       & (span <= 600_000_000))
            .select("user_id", F.col("event_id").alias("start_event_id"),
                    span.cast("bigint").alias("span_us")))


@register(
    "q249_day_novelty_rank",
    sql="""
    WITH daily AS (
        SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
               count(*) AS n
        FROM events GROUP BY day
    )
    SELECT a.day,
           CAST(a.n AS BIGINT) AS n_events,
           CAST(count(b.day) AS BIGINT) AS prior_days,
           CAST(sum(CASE WHEN b.n <= a.n THEN 1 ELSE 0 END) AS BIGINT)
               AS prior_days_below,
           round(CASE WHEN count(b.day) > 0
                      THEN sum(CASE WHEN b.n <= a.n THEN 1 ELSE 0 END)::DOUBLE
                           / count(b.day) END, 6) AS novelty_pct
    FROM daily a LEFT JOIN daily b ON b.day < a.day
    GROUP BY a.day, a.n
    """,
)
def q249_day_novelty_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"How unusual is today?" — each day's event count ranked against its
    own history only (percentile among PRIOR days, never the future): the
    leak-free anomaly score a monitoring system can alert on in real time.
    The self-join runs on the day-level residue (~30 rows), so the history
    comparison is free; the data-sized work is the single daily count."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                  / 86_400_000_000).cast("bigint")
    daily = ev.groupBy(day.alias("day")).agg(F.count(F.lit(1)).alias("n"))
    b = daily.select(F.col("day").alias("b_day"), F.col("n").alias("b_n"))
    below = F.sum(F.when(F.col("b_n") <= F.col("n"), 1).otherwise(0))
    prior = F.count("b_day")
    return (daily.join(F.broadcast(b), F.col("b_day") < F.col("day"), "left")
            .groupBy("day", "n")
            .agg(prior.cast("bigint").alias("prior_days"),
                 below.cast("bigint").alias("prior_days_below"),
                 F.round(F.when(prior > 0,
                                below.cast("double") / prior), 6)
                 .alias("novelty_pct"))
            .select(F.col("day"),
                    F.col("n").cast("bigint").alias("n_events"),
                    "prior_days", "prior_days_below", "novelty_pct"))


@register(
    "q251_in_transit",
    sql="""
    WITH deltas AS (
        SELECT l_shipdate AS day, 1 AS delta FROM lineitem
        UNION ALL
        SELECT l_shipdate + INTERVAL ((l_orderkey % 20) + 1) DAY, -1
        FROM lineitem
    ),
    daily AS (
        SELECT CAST(day AS DATE) AS day, sum(delta) AS net
        FROM deltas GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(net AS BIGINT) AS net_change,
           CAST(sum(net) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS in_transit
    FROM daily
    """,
)
def q251_in_transit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval counting by delta events — "how many shipments are in
    transit on day D" without expanding day×shipment pairs: +1 at ship, -1
    at (deterministic synthetic) receipt, daily net, running sum. The
    O(days) residue carries the cumulative window; the fact table
    contributes exactly two delta rows per shipment. This is the
    concurrent-intervals pattern (active sessions, room occupancy, open
    connections) at lake scale."""
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.select(F.col("l_shipdate").cast("date").alias("day"),
                     F.lit(1).alias("delta"))
    receipt = li.select(
        F.date_add(F.col("l_shipdate").cast("date"),
                   ((F.col("l_orderkey") % 20) + 1).cast("int")).alias("day"),
        F.lit(-1).alias("delta"))
    daily = (ship.unionByName(receipt)
             .groupBy("day").agg(F.sum("delta").alias("net")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("net").cast("bigint").alias("net_change"),
        F.sum("net").over(w).cast("bigint").alias("in_transit"))


@register(
    "q252_ship_lag",
    sql="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(date_diff('day', o_orderdate, l_shipdate)), 4)
               AS avg_lag_days,
           round(quantile_cont(date_diff('day', o_orderdate, l_shipdate),
                               0.9), 4) AS p90_lag_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
               AS max_lag_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q252_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lag distribution per priority class (the TPC-H
    Q12-shaped SLA question on the columns this fixture has): average, p90,
    and worst lag in days. The fact⋈fact join shuffles on the order key
    once; the percentile groups are priority-bounded so their sorts are
    partition-local."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate").cast("date"),
                     F.col("o_orderdate").cast("date"))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                 F.round(F.avg(lag), 4).alias("avg_lag_days"),
                 F.round(F.percentile(lag, F.lit(0.9)), 4)
                 .alias("p90_lag_days"),
                 F.max(lag).cast("bigint").alias("max_lag_days")))


@register(
    "q271_peak_concurrency",
    sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id,
               min(ts) AS s_start, max(ts) AS s_end
        FROM (SELECT user_id, ts,
                     sum(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS sid
              FROM marked)
        GROUP BY user_id, sid
    ),
    deltas AS (
        SELECT s_start AS t, 1 AS d FROM sessions
        UNION ALL
        SELECT s_end + INTERVAL 30 MINUTE, -1 FROM sessions
    ),
    timeline AS (
        SELECT t, sum(d) AS net FROM deltas GROUP BY t
    ),
    running AS (
        SELECT t, sum(net) OVER (ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS active
        FROM timeline
    )
    SELECT CAST(max(active) AS BIGINT) AS peak_concurrent,
           CAST(min(CASE WHEN active = (SELECT max(active) FROM running)
                         THEN epoch_us(t) END) AS BIGINT) AS peak_at_us
    FROM running
    """,
)
def q271_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions (capacity planning's headline number):
    gap-sessionize, emit ±1 deltas at session start / end+gap, running-sum
    the timeline, take the max and its first occurrence. Interval counting
    (q251's pattern) composed over derived sessions rather than raw rows —
    three shared-partition windows plus one residue cumulative."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    marked = ev.select(
        "user_id", "ts", "event_id",
        F.when(prev_us.isNull() | ((us - prev_us) > 1_800_000_000), 1)
        .otherwise(0).alias("new_session"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (marked.select("user_id", "ts",
                          F.sum("new_session").over(wc).alias("sid"))
            .groupBy("user_id", "sid")
            .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end")))
    deltas = (sess.select(F.col("s_start").alias("t"), F.lit(1).alias("d"))
              .unionByName(sess.select(
                  (F.col("s_end") + F.expr("INTERVAL 30 MINUTE")).alias("t"),
                  F.lit(-1).alias("d"))))
    timeline = deltas.groupBy("t").agg(F.sum("d").alias("net"))
    wr = Window.orderBy("t").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    running = timeline.select(
        "t", F.sum("net").over(wr).alias("active"))
    peak = running.agg(F.max("active").alias("mx"))
    return (running.crossJoin(F.broadcast(peak))
            .agg(F.max("active").cast("bigint").alias("peak_concurrent"),
                 F.min(F.when(F.col("active") == F.col("mx"),
                              F.unix_micros(F.col("t").cast("timestamp"))))
                 .cast("bigint").alias("peak_at_us")))


@register(
    "q274_purchase_regularity",
    sql="""
    WITH purchase_gaps AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
               / 3600000000.0 AS gap_h
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(gap_h) AS BIGINT) AS n_gaps,
           round(avg(gap_h), 4) AS mean_gap_h,
           round(stddev_samp(gap_h) / nullif(avg(gap_h), 0), 4) AS gap_cv
    FROM purchase_gaps
    GROUP BY user_id
    HAVING count(gap_h) >= 3
    """,
)
def q274_purchase_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase regularity: per-user mean gap between purchases and
    its coefficient of variation (CV < 1 = clock-like habitual buyer,
    CV > 1 = bursty) — the repeat-purchase-rhythm feature subscription
    models key on. One window + one groupBy on the user partitioning;
    users with fewer than 4 purchases are excluded (CV needs support)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gaps = ev.select("user_id", ((us - prev) / 3_600_000_000.0).alias("gap_h"))
    return (gaps.groupBy("user_id")
            .agg(F.count("gap_h").cast("bigint").alias("n_gaps"),
                 F.round(F.avg("gap_h"), 4).alias("mean_gap_h"),
                 F.round(F.stddev_samp("gap_h")
                         / F.nullif(F.avg("gap_h"), F.lit(0.0)), 4)
                 .alias("gap_cv"))
            .filter(F.col("n_gaps") >= 3))


@register(
    "q276_busiest_rolling_hour",
    sql="""
    WITH b5 AS (
        SELECT epoch_us(ts) // 300000000 AS b, count(*) AS n
        FROM events GROUP BY b
    ),
    spine AS (
        SELECT unnest(generate_series((SELECT min(b) FROM b5),
                                      (SELECT max(b) FROM b5))) AS b
    ),
    dense AS (
        SELECT s.b, coalesce(b5.n, 0) AS n
        FROM spine s LEFT JOIN b5 ON b5.b = s.b
    ),
    rolling AS (
        SELECT b, sum(n) OVER (ORDER BY b
                               ROWS BETWEEN 11 PRECEDING
                               AND CURRENT ROW) AS hour_n,
               row_number() OVER (ORDER BY b) AS rn
        FROM dense
    )
    SELECT CAST(max(hour_n) AS BIGINT) AS peak_hour_events,
           CAST(min(CASE WHEN hour_n = (SELECT max(hour_n) FROM rolling
                                        WHERE rn >= 12)
                         THEN (b - 11) * 300 END) AS BIGINT)
               AS window_start_epoch
    FROM rolling WHERE rn >= 12
    """,
)
def q276_busiest_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Busiest rolling hour at 5-minute resolution: bucket counts on a
    DENSE 5-min spine (gap buckets must contribute zeros or the rolling
    frame silently shrinks), 12-bucket trailing sum, max with its window
    start — the load-planning number a fixed hourly histogram understates.
    Only the ~8k-bucket residue carries windows; partial-frame rows (first
    11) are excluded on both sides."""
    ev = load_table(spark, sf_dir, "events")
    b = (F.unix_micros(F.col("ts").cast("timestamp")) / 300_000_000) \
        .cast("bigint")
    b5 = ev.groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("n"))
    bounds = b5.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("b"))
    dense = (spine.join(b5, "b", "left")
             .select("b", F.coalesce("n", F.lit(0)).alias("n")))
    w = Window.orderBy("b").rowsBetween(-11, Window.currentRow)
    rolling = dense.select(
        "b", F.sum("n").over(w).alias("hour_n"),
        F.row_number().over(Window.orderBy("b")).alias("rn")) \
        .filter(F.col("rn") >= 12)
    mx = rolling.agg(F.max("hour_n").alias("mx"))
    return (rolling.crossJoin(F.broadcast(mx))
            .agg(F.max("hour_n").cast("bigint").alias("peak_hour_events"),
                 F.min(F.when(F.col("hour_n") == F.col("mx"),
                              (F.col("b") - 11) * 300)).cast("bigint")
                 .alias("window_start_epoch")))


@register(
    "q279_conversion_by_depth",
    sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    depth AS (
        SELECT event_type,
               least(row_number() OVER (PARTITION BY user_id, sid
                                        ORDER BY ts, event_id), 10) AS depth
        FROM (SELECT *, sum(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS sid
              FROM marked)
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchases,
           round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 ::DOUBLE / count(*), 6) AS purchase_share
    FROM depth GROUP BY depth
    """,
)
def q279_conversion_by_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase share by position WITHIN the session (depth 1..10+, capped):
    do users buy on arrival or only after browsing — the engagement-depth
    curve that decides where checkout friction matters. Sessionization and
    depth ranking share the user partitioning; the rollup groups a 10-row
    key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1)
        .otherwise(0).alias("new_session"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = marked.select("user_id", "ts", "event_id", "event_type",
                         F.sum("new_session").over(wc).alias("sid"))
    wd = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    depth = sess.select(
        "event_type",
        F.least(F.row_number().over(wd), F.lit(10)).cast("bigint")
        .alias("depth"))
    buys = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    return (depth.groupBy("depth")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 buys.cast("bigint").alias("purchases"),
                 F.round(buys.cast("double") / F.count(F.lit(1)), 6)
                 .alias("purchase_share")))


@register(
    "q285_cusum_changepoint",
    sql="""
    WITH daily AS (
        SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
               count(*)::DOUBLE AS n
        FROM events GROUP BY day
    ),
    mu AS (SELECT avg(n) AS m FROM daily),
    cusum AS (
        SELECT day,
               sum(n - m) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS s
        FROM daily CROSS JOIN mu
    ),
    peak AS (SELECT max(abs(s)) AS mx FROM cusum)
    SELECT CAST(min(CASE WHEN abs(s) = mx THEN day END) AS BIGINT)
               AS changepoint_day,
           round(min(mx), 4) AS cusum_magnitude,
           round(min(mx) / (SELECT sum(n) FROM daily), 6)
               AS magnitude_share
    FROM cusum CROSS JOIN peak
    """,
)
def q285_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate: the day where the cumulative deviation
    of daily volume from its mean peaks — the standard "when did the level
    shift" estimator (argmax |Σ(x-μ)|), flat-series magnitudes near zero.
    Mean broadcast, one cumulative window on the ~30-day residue."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                  / 86_400_000_000).cast("bigint")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n"))
    mu = daily.agg(F.avg("n").alias("m"))
    tot = daily.agg(F.sum("n").alias("tot"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    cusum = (daily.crossJoin(F.broadcast(mu))
             .select("day", F.sum(F.col("n") - F.col("m")).over(w).alias("s")))
    peak = cusum.agg(F.max(F.abs(F.col("s"))).alias("mx"))
    return (cusum.crossJoin(F.broadcast(peak))
            .crossJoin(F.broadcast(tot))
            .agg(F.min(F.when(F.abs(F.col("s")) == F.col("mx"),
                              F.col("day"))).cast("bigint")
                 .alias("changepoint_day"),
                 F.round(F.min("mx"), 4).alias("cusum_magnitude"),
                 F.round(F.min("mx") / F.min("tot"), 6)
                 .alias("magnitude_share")))


@register(
    "q298_mann_kendall",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               sum(value) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    pairs AS (
        SELECT sign(b.y - a.y) AS s
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    stat AS (
        SELECT sum(s) AS s_stat,
               (SELECT count(*)::DOUBLE FROM daily) AS n
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           round(n * (n - 1) * (2 * n + 5) / 18, 4) AS var_s,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                      WHEN s_stat < 0 THEN (s_stat + 1)
                      ELSE 0 END
                 / sqrt(n * (n - 1) * (2 * n + 5) / 18), 6) AS z
    FROM stat
    """,
)
def q298_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall non-parametric trend test on daily purchase revenue —
    the distribution-free "is this metric drifting?" check that needs no
    normality assumption: S sums the signs of all pairwise day differences
    and z uses the exact no-ties variance n(n-1)(2n+5)/18 with the
    standard continuity correction. The pairwise join runs on the DAILY
    residue (~n_days^2 rows after one map-side-combined reduction of the
    fact), so the fact table itself is touched once regardless of scale —
    the same bounded-residue contract as q283/q285."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy((F.unix_micros(F.date_trunc("day", "ts")
                                     .cast("timestamp"))
                       / F.lit(86400000000)).cast("bigint").alias("d"))
             .agg(F.sum("value").alias("y")))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(b, F.col("a.d") < F.col("b.d"))
             .select(F.signum(F.col("b.y") - F.col("a.y")).alias("s")))
    n_days = daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    stat = pairs.agg(F.sum("s").alias("s_stat")) \
        .crossJoin(F.broadcast(n_days))
    var_s = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) / 18
    corrected = (F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
                 .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
                 .otherwise(0))
    return stat.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.round(var_s, 4).alias("var_s"),
        F.round(corrected / F.sqrt(var_s), 6).alias("z"))


@register(
    "q299_theil_sen",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               sum(value) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.d - a.d) AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    fit AS (
        SELECT quantile_cont(slope, 0.5) AS slope,
               (SELECT count(*) FROM slopes) AS n_pairs
        FROM slopes
    )
    SELECT CAST(f.n_pairs AS BIGINT) AS n_pairs,
           round(f.slope, 6) AS slope,
           round(quantile_cont(d.y - f.slope * d.d, 0.5), 4) AS intercept
    FROM daily d CROSS JOIN fit f
    GROUP BY f.n_pairs, f.slope
    """,
)
def q299_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator on the same daily revenue series as
    q298: the slope is the MEDIAN of all pairwise slopes (up to ~29%
    contamination tolerated, vs 0% for OLS), the intercept the median
    residual intercept. Pairwise enumeration again happens on the daily
    residue only; at very long horizons the standard refinement subsamples
    pairs (random pairs give the same estimator asymptotically), which
    slots in as a filter on the pair join."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type") == "purchase")
             .groupBy((F.unix_micros(F.date_trunc("day", "ts")
                                     .cast("timestamp"))
                       / F.lit(86400000000)).cast("bigint").alias("d"))
             .agg(F.sum("value").alias("y")))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (a.join(b, F.col("a.d") < F.col("b.d"))
              .select(((F.col("b.y") - F.col("a.y"))
                       / (F.col("b.d") - F.col("a.d"))).alias("slope")))
    fit = slopes.agg(F.percentile("slope", 0.5).alias("slope"),
                     F.count(F.lit(1)).alias("n_pairs"))
    return (daily.crossJoin(F.broadcast(fit))
            .groupBy("n_pairs", "slope")
            .agg(F.round(F.percentile(F.col("y") - F.col("slope")
                                      * F.col("d"), 0.5), 4)
                 .alias("intercept"))
            .select(F.col("n_pairs").cast("bigint").alias("n_pairs"),
                    F.round("slope", 6).alias("slope"), "intercept"))


@register(
    "q300_rolling_backtest",
    sql="""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1, 2
    ),
    fc AS (
        SELECT event_type, d, y,
               avg(y) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS yhat,
               count(*) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS hist
        FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_forecasts,
           round(avg(abs(y - yhat)), 4) AS mae,
           round(avg(abs(y - yhat) / y), 6) AS mape,
           round(sqrt(avg((y - yhat) * (y - yhat))), 4) AS rmse
    FROM fc WHERE hist = 7 AND y > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q300_rolling_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest: a 7-day trailing-mean forecaster
    evaluated one day ahead at EVERY origin (the honest way to score a
    forecasting rule — never a single train/test split), reporting
    MAE/MAPE/RMSE per event type. Only full 7-day histories score. One
    per-series window pass over the daily residue; series are independent
    so the window partitions by event_type and parallelizes per series —
    the pattern extends to any forecaster expressible over a trailing
    frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    w = (Window.partitionBy("event_type").orderBy("d")
         .rowsBetween(-7, -1))
    fc = (daily.withColumn("yhat", F.avg("y").over(w))
          .withColumn("hist", F.count(F.lit(1)).over(w)))
    err = F.col("y") - F.col("yhat")
    return (fc.filter((F.col("hist") == 7) & (F.col("y") > 0))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_forecasts"),
                 F.round(F.avg(F.abs(err)), 4).alias("mae"),
                 F.round(F.avg(F.abs(err) / F.col("y")), 6).alias("mape"),
                 F.round(F.sqrt(F.avg(err * err)), 4).alias("rmse"))
            .orderBy("event_type"))


@register(
    "q304_hurst_exponent",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY d) - 1 AS rn FROM daily
    ),
    blocked AS (
        SELECT m.m, CAST(floor(rn / m.m) AS BIGINT) AS blk, rn, y
        FROM idx CROSS JOIN (SELECT unnest([5, 10, 15]) AS m) m
    ),
    dev AS (
        SELECT m, blk, rn, y,
               y - avg(y) OVER (PARTITION BY m, blk) AS e,
               count(*) OVER (PARTITION BY m, blk) AS blk_n
        FROM blocked
    ),
    cum AS (
        SELECT m, blk, blk_n,
               sum(e) OVER (PARTITION BY m, blk ORDER BY rn) AS z,
               stddev_pop(y) OVER (PARTITION BY m, blk) AS s
        FROM dev
    ),
    rs AS (
        SELECT m, blk, (max(z) - min(z)) / min(s) AS rs
        FROM cum WHERE blk_n = m AND s > 0
        GROUP BY m, blk
    ),
    pts AS (
        SELECT m, ln(m::DOUBLE) AS x, ln(avg(rs)) AS y,
               count(*) AS n_blocks, avg(rs) AS avg_rs
        FROM rs GROUP BY m
    ),
    centered AS (
        SELECT *, x - avg(x) OVER () AS xc, y - avg(y) OVER () AS yc
        FROM pts
    )
    SELECT CAST(m AS BIGINT) AS m,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           round(avg_rs, 6) AS avg_rs,
           round(sum(xc * yc) OVER () / sum(xc * xc) OVER (), 6) AS hurst
    FROM centered
    ORDER BY m
    """,
)
def q304_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range (R/S) analysis on the daily event
    count series: split the series into blocks of m days for m in
    {5,10,15}, compute each full block's range-of-cumulative-deviations
    over its standard deviation, and fit log(avg R/S) against log(m) —
    slope ~0.5 means memoryless traffic, >0.5 long-range dependence
    (bursts cluster: capacity planning can't assume Poisson), <0.5
    mean-reversion. All windows partition by (m, block) so every block is
    independent work; the regression runs on a 3-point residue via the
    same centered-moment arithmetic as q296."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("d")) - 1).alias("rn"))
    ms = spark.createDataFrame([(5,), (10,), (15,)], "m long")
    blocked = (idx.crossJoin(F.broadcast(ms))
               .withColumn("blk", F.floor(F.col("rn") / F.col("m"))))
    wb = Window.partitionBy("m", "blk")
    dev = (blocked.withColumn("e", F.col("y") - F.avg("y").over(wb))
           .withColumn("blk_n", F.count(F.lit(1)).over(wb)))
    wo = Window.partitionBy("m", "blk").orderBy("rn")
    cum = (dev.withColumn("z", F.sum("e").over(wo))
           .withColumn("s", F.stddev_pop("y").over(wb)))
    rs = (cum.filter((F.col("blk_n") == F.col("m")) & (F.col("s") > 0))
          .groupBy("m", "blk")
          .agg(((F.max("z") - F.min("z")) / F.min("s")).alias("rs")))
    pts = (rs.groupBy("m")
           .agg(F.count(F.lit(1)).alias("n_blocks"),
                F.avg("rs").alias("avg_rs"))
           .withColumn("x", F.log(F.col("m").cast("double")))
           .withColumn("yv", F.log("avg_rs")))
    everything = Window.partitionBy()
    centered = (pts
                .withColumn("xc", F.col("x") - F.avg("x").over(everything))
                .withColumn("yc", F.col("yv") - F.avg("yv").over(everything)))
    return (centered.select(
        F.col("m").cast("bigint").alias("m"),
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.round("avg_rs", 6).alias("avg_rs"),
        F.round(F.sum(F.col("xc") * F.col("yc")).over(everything)
                / F.sum(F.col("xc") * F.col("xc")).over(everything), 6)
        .alias("hurst"))
        .orderBy("m"))


@register(
    "q307_autocorrelation",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    )
    SELECT l.lag AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.y, b.y), 6) AS acf
    FROM daily a
    CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag) l
    JOIN daily b ON b.d = a.d - l.lag
    GROUP BY l.lag
    ORDER BY l.lag
    """,
)
def q307_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event volume at lags 1-7 — the
    first diagnostic read before any forecasting (q300) or anomaly
    (q192/q285) work: a spike at lag 7 means weekly seasonality, slow
    decay means trend, near-zero everything means q286-style iid
    resampling is safe. Each lag is one equi-join of the daily residue
    against its shifted self (the lag dimension broadcasts); corr() is the
    same moment aggregate both engines define identically."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = daily.alias("a")
    b = daily.select(F.col("d").alias("bd"), F.col("y").alias("by"))
    return (a.crossJoin(F.broadcast(lags))
            .join(b, F.col("bd") == F.col("a.d") - F.col("lag"))
            .groupBy("lag")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.round(F.corr(F.col("a.y"), F.col("by")), 6).alias("acf"))
            .orderBy("lag"))


@register(
    "q317_anomaly_attribution",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               event_type, count(*)::DOUBLE AS c
        FROM events GROUP BY 1, 2
    ),
    totals AS (
        SELECT d, sum(c) AS tot FROM daily GROUP BY d
    ),
    zs AS (
        SELECT d, tot,
               (tot - avg(tot) OVER ()) / stddev_samp(tot) OVER () AS z
        FROM totals
    ),
    scored AS (
        SELECT d, tot, z,
               row_number() OVER (ORDER BY abs(z) DESC, d) AS rnk
        FROM zs
    ),
    base AS (
        SELECT event_type, avg(c) AS base_c FROM daily GROUP BY event_type
    )
    SELECT s.d AS day_idx, round(s.z, 4) AS day_z,
           dl.event_type AS event_type,
           CAST(dl.c AS BIGINT) AS n_events,
           round(dl.c - b.base_c, 4) AS excess,
           round((dl.c - b.base_c)
                 / sum(dl.c - b.base_c) OVER (PARTITION BY s.d), 6)
               AS excess_share
    FROM scored s
    JOIN daily dl ON dl.d = s.d
    JOIN base b ON b.event_type = dl.event_type
    WHERE s.rnk <= 3
    ORDER BY day_idx, dl.event_type
    """,
)
def q317_anomaly_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly ATTRIBUTION — the step after detection (q192/q285) that ops
    actually needs: for the three most anomalous days (|z| of daily total
    volume), decompose the excess over each event type's own daily
    baseline into signed shares that sum to 1 per day — "the spike on day
    14 was 80% error events". The per-type baseline is a 5-row broadcast;
    the day ranking runs on the daily residue; nothing re-reads the
    fact."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"),
        "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c")))
    totals = daily.groupBy("d").agg(F.sum("c").alias("tot"))
    everything = Window.partitionBy()
    z = ((F.col("tot") - F.avg("tot").over(everything))
         / F.stddev_samp("tot").over(everything))
    scored = (totals.withColumn("z", z)
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy(F.desc(F.abs(F.col("z"))), "d"))))
    base = daily.groupBy("event_type").agg(F.avg("c").alias("base_c"))
    day_w = Window.partitionBy("d")
    return (scored.filter(F.col("rnk") <= 3)
            .join(daily, "d")
            .join(F.broadcast(base), "event_type")
            .select(F.col("d").alias("day_idx"),
                    F.round("z", 4).alias("day_z"),
                    "event_type",
                    F.col("c").cast("bigint").alias("n_events"),
                    F.round(F.col("c") - F.col("base_c"), 4).alias("excess"),
                    F.round((F.col("c") - F.col("base_c"))
                            / F.sum(F.col("c") - F.col("base_c")).over(day_w),
                            6).alias("excess_share"))
            .orderBy("day_idx", "event_type"))


@register(
    "q318_session_gap_sweep",
    sql="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id))
                   AS gap_us
        FROM events
    ),
    th AS (SELECT unnest([300, 900, 1800, 3600]) AS gap_s),
    stats AS (
        SELECT th.gap_s,
               count(*)::DOUBLE AS n_events,
               sum(CASE WHEN g.gap_us IS NULL
                         OR g.gap_us > th.gap_s * 1000000::BIGINT
                        THEN 1 ELSE 0 END)::DOUBLE AS n_sessions
        FROM gaps g CROSS JOIN th
        GROUP BY th.gap_s
    )
    SELECT CAST(gap_s AS BIGINT) AS gap_seconds,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           round(n_events / n_sessions, 4) AS avg_events_per_session
    FROM stats
    ORDER BY gap_seconds
    """,
)
def q318_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization-threshold sensitivity sweep — the tuning table that
    justifies the 30-minute industry default instead of assuming it: for
    each candidate inactivity gap, the number of sessions (= session
    starts: first event per user or gap above threshold) and average
    session size. The expensive part — the per-user lag window — runs
    ONCE; the four thresholds then broadcast against the materialized gap
    column, so the sweep costs one aggregation, not four window passes.
    A stable plateau across thresholds means sessions are robust; a cliff
    means the metric is an artifact of the cutoff."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gaps = ev.select("user_id", (us - prev).alias("gap_us"))
    th = spark.createDataFrame([(300,), (900,), (1800,), (3600,)],
                               "gap_s long")
    is_start = (F.col("gap_us").isNull()
                | (F.col("gap_us") > F.col("gap_s") * 1000000))
    return (gaps.crossJoin(F.broadcast(th))
            .groupBy("gap_s")
            .agg(F.count(F.lit(1)).cast("double").alias("n_events"),
                 F.sum(F.when(is_start, 1).otherwise(0)).cast("double")
                 .alias("n_sessions"))
            .select(F.col("gap_s").cast("bigint").alias("gap_seconds"),
                    F.col("n_sessions").cast("bigint").alias("n_sessions"),
                    F.round(F.col("n_events") / F.col("n_sessions"), 4)
                    .alias("avg_events_per_session"))
            .orderBy("gap_seconds"))


@register(
    "q333_peak_detection",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    ctx AS (
        SELECT d, y,
               max(y) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING
                            AND 1 PRECEDING) AS max_left,
               max(y) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING
                            AND 2 FOLLOWING) AS max_right,
               count(*) OVER (ORDER BY d ROWS BETWEEN 2 PRECEDING
                              AND 2 FOLLOWING) AS n_ctx
        FROM daily
    )
    SELECT d AS day_idx,
           CAST(y AS BIGINT) AS n_events,
           round(y - greatest(max_left, max_right), 4) AS prominence
    FROM ctx
    WHERE n_ctx = 5 AND y > max_left AND y > max_right
    ORDER BY day_idx
    """,
)
def q333_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with prominence on the daily volume series: a
    day is a peak when it strictly exceeds every neighbor within ±2 days,
    and its prominence is the margin over the taller shoulder — the
    signal-processing primitive under campaign-spike reports and q317's
    attribution (detect first, attribute second). Edge days with a
    truncated context window are excluded rather than reported with
    understated shoulders. One frame-bounded window pass over the daily
    residue; series-partitioned at scale."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    wl = Window.orderBy("d").rowsBetween(-2, -1)
    wr = Window.orderBy("d").rowsBetween(1, 2)
    wc = Window.orderBy("d").rowsBetween(-2, 2)
    ctx = (daily.withColumn("max_left", F.max("y").over(wl))
           .withColumn("max_right", F.max("y").over(wr))
           .withColumn("n_ctx", F.count(F.lit(1)).over(wc)))
    return (ctx.filter((F.col("n_ctx") == 5)
                       & (F.col("y") > F.col("max_left"))
                       & (F.col("y") > F.col("max_right")))
            .select(F.col("d").alias("day_idx"),
                    F.col("y").cast("bigint").alias("n_events"),
                    F.round(F.col("y")
                            - F.greatest("max_left", "max_right"), 4)
                    .alias("prominence"))
            .orderBy("day_idx"))


@register(
    "q334_cross_correlation",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   ::DOUBLE AS clicks,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   ::DOUBLE AS purchases
        FROM events GROUP BY 1
    )
    SELECT l.lag AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(a.clicks, b.purchases), 6) AS ccf
    FROM daily a
    CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag) l
    JOIN daily b ON b.d = a.d + l.lag
    GROUP BY l.lag
    ORDER BY l.lag
    """,
)
def q334_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily clicks and purchases at
    lags -3..+3: a peak at positive lag k means click volume LEADS
    purchase volume by k days — the causal-direction screen that decides
    whether clicks are a usable leading indicator for q300's forecaster.
    q307's ACF is the special case of a series against itself; same
    equi-join-per-lag plan on the daily residue with the lag dimension
    broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
             .cast("double").alias("clicks"),
             F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
             .cast("double").alias("purchases")))
    lags = spark.createDataFrame([(i,) for i in range(-3, 4)], "lag long")
    b = daily.select(F.col("d").alias("bd"),
                     F.col("purchases").alias("bp"))
    return (daily.alias("a").crossJoin(F.broadcast(lags))
            .join(b, F.col("bd") == F.col("d") + F.col("lag"))
            .groupBy("lag")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.round(F.corr("clicks", "bp"), 6).alias("ccf"))
            .orderBy("lag"))


@register(
    "q340_seasonal_adjustment",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    dow AS (
        SELECT d, y, CAST((d + 4) % 7 AS BIGINT) AS dw FROM daily
    ),
    factors AS (
        SELECT dw, avg(y) AS dw_mean FROM dow GROUP BY dw
    ),
    grand AS (SELECT avg(y) AS gm FROM dow)
    SELECT w.d AS day_idx, w.dw AS day_of_week,
           CAST(w.y AS BIGINT) AS n_events,
           round(f.dw_mean / g.gm, 6) AS seasonal_factor,
           round(w.y / (f.dw_mean / g.gm), 4) AS adjusted
    FROM dow w
    JOIN factors f USING (dw)
    CROSS JOIN grand g
    ORDER BY day_idx
    """,
)
def q340_seasonal_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-average seasonal adjustment of the daily series: each
    day-of-week's multiplicative factor (its mean over the grand mean)
    divides out of the raw counts, leaving the deseasonalized series that
    trend tests (q298/q299) and changepoint detectors (q285) should run
    on — a Monday dip is not a regression. Day-of-week derives
    arithmetically from the epoch ((d+4) mod 7, q192's convention) so
    both engines agree; factors are a 7-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    dow = daily.withColumn("dw", ((F.col("d") + 4) % 7).cast("bigint"))
    factors = dow.groupBy("dw").agg(F.avg("y").alias("dw_mean"))
    grand = dow.agg(F.avg("y").alias("gm"))
    sf_ = F.col("dw_mean") / F.col("gm")
    return (dow.join(F.broadcast(factors), "dw")
            .crossJoin(F.broadcast(grand))
            .select(F.col("d").alias("day_idx"),
                    F.col("dw").alias("day_of_week"),
                    F.col("y").cast("bigint").alias("n_events"),
                    F.round(sf_, 6).alias("seasonal_factor"),
                    F.round(F.col("y") / sf_, 4).alias("adjusted"))
            .orderBy("day_idx"))


@register(
    "q341_completeness_audit",
    sql="""
    WITH bounds AS (
        SELECT CAST(epoch_us(date_trunc('hour', min(ts))) / 3600000000
                    AS BIGINT) AS h0,
               CAST(epoch_us(date_trunc('hour', max(ts))) / 3600000000
                    AS BIGINT) AS h1
        FROM events
    ),
    spine AS (
        SELECT unnest(range(b.h0, b.h1 + 1)) AS h FROM bounds b
    ),
    observed AS (
        SELECT DISTINCT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000
                             AS BIGINT) AS h
        FROM events
    ),
    missing AS (
        SELECT s.h FROM spine s
        WHERE NOT EXISTS (SELECT 1 FROM observed o WHERE o.h = s.h)
    ),
    runs AS (
        SELECT h, h - row_number() OVER (ORDER BY h) AS grp FROM missing
    ),
    gaps AS (
        SELECT count(*) AS run_len FROM runs GROUP BY grp
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM spine) AS expected_hours,
           (SELECT CAST(count(*) AS BIGINT) FROM observed) AS observed_hours,
           CAST(coalesce(sum(run_len), 0) AS BIGINT) AS missing_hours,
           CAST(coalesce(max(run_len), 0) AS BIGINT) AS longest_gap_hours,
           round(1.0 - coalesce(sum(run_len), 0)
                 / (SELECT count(*) FROM spine)::DOUBLE, 6) AS completeness
    FROM gaps
    """,
)
def q341_completeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness audit: generate the expected hourly spine between
    the first and last event, anti-join the observed hours, and measure
    coverage plus the LONGEST contiguous gap (gaps-and-islands on the
    missing set) — one long outage and many scattered holes need
    different responses, and a plain count can't tell them apart. This is
    the ingestion-SLA check the reference's Airflow DAG implies hourly
    fetches should satisfy. The spine is a range() lazy sequence, never
    materialized wide; observed hours reduce from the fact once."""
    ev = load_table(spark, sf_dir, "events")
    hour = (F.unix_micros(F.date_trunc("hour", "ts").cast("timestamp"))
            / F.lit(3600000000)).cast("bigint")
    bounds = ev.agg(F.min(hour).alias("h0"), F.max(hour).alias("h1"))
    b = bounds.collect()[0]  # two scalars — bounded driver state
    spine = spark.range(b["h0"], b["h1"] + 1).select(
        F.col("id").alias("h"))
    observed = ev.select(hour.alias("h")).distinct()
    missing = spine.join(observed, "h", "left_anti")
    runs = missing.withColumn(
        "grp", F.col("h") - F.row_number().over(Window.orderBy("h")))
    gaps = runs.groupBy("grp").agg(F.count(F.lit(1)).alias("run_len"))
    n_exp = spine.agg(F.count(F.lit(1)).alias("expected_hours"))
    n_obs = observed.agg(F.count(F.lit(1)).alias("observed_hours"))
    return (gaps.agg(F.coalesce(F.sum("run_len"), F.lit(0)).cast("bigint")
                     .alias("missing_hours"),
                     F.coalesce(F.max("run_len"), F.lit(0)).cast("bigint")
                     .alias("longest_gap_hours"))
            .crossJoin(F.broadcast(n_exp))
            .crossJoin(F.broadcast(n_obs))
            .select(F.col("expected_hours").cast("bigint")
                    .alias("expected_hours"),
                    F.col("observed_hours").cast("bigint")
                    .alias("observed_hours"),
                    "missing_hours", "longest_gap_hours",
                    F.round(1.0 - F.col("missing_hours").cast("double")
                            / F.col("expected_hours"), 6)
                    .alias("completeness")))


@register(
    "q344_growth_accounting",
    sql="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(d) AS first_d FROM active GROUP BY user_id
    ),
    tagged AS (
        SELECT a.user_id, a.d,
               CASE WHEN a.d = f.first_d THEN 'new'
                    WHEN y.user_id IS NOT NULL THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM active a
        JOIN firsts f USING (user_id)
        LEFT JOIN active y ON y.user_id = a.user_id AND y.d = a.d - 1
    ),
    churned AS (
        SELECT y.d + 1 AS d, count(*) AS n_churned
        FROM active y
        LEFT JOIN active t ON t.user_id = y.user_id AND t.d = y.d + 1
        WHERE t.user_id IS NULL
        GROUP BY y.d + 1
    ),
    dau AS (
        SELECT d,
               count(*) AS dau,
               sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS n_new,
               sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                   AS n_retained,
               sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
                   AS n_resurrected
        FROM tagged GROUP BY d
    )
    SELECT dau.d AS day_idx,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(dau.n_new AS BIGINT) AS n_new,
           CAST(dau.n_retained AS BIGINT) AS n_retained,
           CAST(dau.n_resurrected AS BIGINT) AS n_resurrected,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
    FROM dau LEFT JOIN churned c ON c.d = dau.d
    ORDER BY day_idx
    """,
)
def q344_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the DAU decomposition every growth team reads
    daily: each active user-day classified as NEW (first ever day),
    RETAINED (also active yesterday), or RESURRECTED (returning after a
    gap), plus the day's CHURN (yesterday's actives who didn't return).
    The identity DAU(t) = new + retained + resurrected and
    DAU(t) - DAU(t-1) = new + resurrected - churned makes growth
    debuggable: flat DAU can hide high churn masked by acquisition. Two
    self-joins of the (user, day) residue on adjacent days — both keyed
    shuffles on user_id after one distinct."""
    ev = load_table(spark, sf_dir, "events")
    active = (ev.select(
        "user_id",
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .distinct())
    firsts = active.groupBy("user_id").agg(F.min("d").alias("first_d"))
    y = active.select(F.col("user_id").alias("yu"),
                      (F.col("d") + 1).alias("yd"))
    tagged = (active.join(firsts, "user_id")
              .join(y, (F.col("yu") == F.col("user_id"))
                    & (F.col("yd") == F.col("d")), "left")
              .select("user_id", "d",
                      F.when(F.col("d") == F.col("first_d"), "new")
                      .when(F.col("yu").isNotNull(), "retained")
                      .otherwise("resurrected").alias("status")))
    t = active.select(F.col("user_id").alias("tu"),
                      F.col("d").alias("td"))
    churned = (active.join(t, (F.col("tu") == F.col("user_id"))
                           & (F.col("td") == F.col("d") + 1), "left")
               .filter(F.col("tu").isNull())
               .groupBy((F.col("d") + 1).alias("cd"))
               .agg(F.count(F.lit(1)).alias("n_churned")))
    dau = (tagged.groupBy("d")
           .agg(F.count(F.lit(1)).alias("dau"),
                F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
                .alias("n_new"),
                F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
                .alias("n_retained"),
                F.sum(F.when(F.col("status") == "resurrected", 1)
                      .otherwise(0)).alias("n_resurrected")))
    return (dau.join(churned, dau.d == churned.cd, "left")
            .select(F.col("d").alias("day_idx"),
                    F.col("dau").cast("bigint").alias("dau"),
                    F.col("n_new").cast("bigint").alias("n_new"),
                    F.col("n_retained").cast("bigint").alias("n_retained"),
                    F.col("n_resurrected").cast("bigint")
                    .alias("n_resurrected"),
                    F.coalesce("n_churned", F.lit(0)).cast("bigint")
                    .alias("n_churned"))
            .orderBy("day_idx"))


@register(
    "q345_retention_halflife",
    sql="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(d) AS d0 FROM active GROUP BY user_id
    ),
    cohort_size AS (SELECT count(*)::DOUBLE AS n0 FROM firsts),
    offsets AS (
        SELECT a.d - f.d0 AS k, count(DISTINCT a.user_id)::DOUBLE AS n
        FROM active a JOIN firsts f USING (user_id)
        WHERE a.d - f.d0 BETWEEN 1 AND 14
        GROUP BY a.d - f.d0
    ),
    rates AS (
        SELECT k, n / cs.n0 AS r FROM offsets CROSS JOIN cohort_size cs
    ),
    centered AS (
        SELECT k, r,
               k - avg(k) OVER () AS xc,
               ln(r) - avg(ln(r)) OVER () AS yc
        FROM rates
    )
    SELECT CAST(k AS BIGINT) AS day_offset,
           round(r, 6) AS retention_rate,
           round(-sum(xc * yc) OVER () / sum(xc * xc) OVER (), 6)
               AS decay_lambda,
           round(CASE WHEN sum(xc * yc) OVER () < 0
                      THEN ln(2) / (-(sum(xc * yc) OVER ()
                                      / sum(xc * xc) OVER ()))
                 END, 4) AS half_life_days
    FROM centered
    ORDER BY day_offset
    """,
)
def q345_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decay parameterized: day-k return rates (k = 1..14 after
    first activity) fitted to r(k) = a*exp(-lambda*k) by log-linear
    regression — the HALF-LIFE summarizes the whole curve in one number
    a roadmap can target ("raise retention half-life from 9 to 12 days"),
    where q216's survival curve gives the shape but no parameter. A
    non-decaying series (this fixture's users return ~daily) reports
    half_life_days NULL rather than a nonsense negative number. Offsets
    reduce from one (user, day) distinct; the fit is the same centered-
    moment slope as q296/q304 on a 14-row residue."""
    ev = load_table(spark, sf_dir, "events")
    active = (ev.select(
        "user_id",
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .distinct())
    firsts = active.groupBy("user_id").agg(F.min("d").alias("d0"))
    n0 = firsts.agg(F.count(F.lit(1)).cast("double").alias("n0"))
    offsets = (active.join(firsts, "user_id")
               .withColumn("k", F.col("d") - F.col("d0"))
               .filter(F.col("k").between(1, 14))
               .groupBy("k")
               .agg(F.count_distinct("user_id").cast("double").alias("n")))
    rates = (offsets.crossJoin(F.broadcast(n0))
             .select("k", (F.col("n") / F.col("n0")).alias("r")))
    everything = Window.partitionBy()
    centered = (rates
                .withColumn("xc", F.col("k") - F.avg("k").over(everything))
                .withColumn("yc", F.log("r")
                            - F.avg(F.log("r")).over(everything)))
    slope = (F.sum(F.col("xc") * F.col("yc")).over(everything)
             / F.sum(F.col("xc") * F.col("xc")).over(everything))
    return (centered.select(
        F.col("k").cast("bigint").alias("day_offset"),
        F.round("r", 6).alias("retention_rate"),
        F.round(-slope, 6).alias("decay_lambda"),
        F.round(F.when(slope < 0, F.log(F.lit(2.0)) / (-slope)), 4)
        .alias("half_life_days"))
        .orderBy("day_offset"))


@register(
    "q347_matrix_profile",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    subs AS (
        SELECT i AS s,
               list(y) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                             AND 4 FOLLOWING) AS v,
               count(*) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
                              AND 4 FOLLOWING) AS w
        FROM idx QUALIFY w = 5
    ),
    dists AS (
        SELECT a.s AS i, b.s AS j,
               sqrt(list_aggregate(list_transform(range(1, 6),
                    k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k])), 'sum'))
                   AS dist
        FROM subs a JOIN subs b ON abs(a.s - b.s) >= 3
    ),
    mp AS (
        SELECT i, min(dist) AS mp
        FROM dists GROUP BY i
    ),
    nn AS (
        SELECT i, j AS nn_idx, dist,
               row_number() OVER (PARTITION BY i ORDER BY dist, j) AS r
        FROM dists
    )
    SELECT m.i AS start_idx,
           CAST(n.nn_idx AS BIGINT) AS nn_idx,
           round(m.mp, 4) AS mp_dist,
           CAST(CASE WHEN m.mp = min(m.mp) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS is_motif,
           CAST(CASE WHEN m.mp = max(m.mp) OVER () THEN 1 ELSE 0 END
                AS BIGINT) AS is_discord
    FROM mp m JOIN nn n ON n.i = m.i AND n.r = 1
    ORDER BY start_idx
    """,
)
def q347_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile of the daily series (window 5, raw euclidean, ±2
    exclusion zone): each subsequence's distance to its nearest
    NON-TRIVIAL neighbor. The minimum marks the MOTIF (the most repeated
    weekly shape), the maximum the DISCORD (the most anomalous stretch —
    subsequence-level anomalies q192's pointwise z can't see). All-pairs
    on the ~26-subsequence residue; at production length the same plan
    runs per-partition with overlap or over an LSH-bucketed candidate
    set, profile semantics unchanged."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("d")).alias("i"))
    wf = Window.orderBy("i").rowsBetween(0, 4)
    subs = (idx.select(F.col("i").alias("s"),
                       F.collect_list("y").over(wf).alias("v"),
                       F.count(F.lit(1)).over(wf).alias("w"))
            .filter(F.col("w") == 5))
    a = subs.select(F.col("s").alias("i"), F.col("v").alias("va"))
    b = subs.select(F.col("s").alias("j"), F.col("v").alias("vb"))
    dist = F.sqrt(F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    dists = (a.join(b, F.abs(F.col("i") - F.col("j")) >= 3)
             .select("i", "j", dist.alias("dist")))
    mp = dists.groupBy("i").agg(F.min("dist").alias("mp"))
    nn = (dists.withColumn(
        "r", F.row_number().over(Window.partitionBy("i")
                                 .orderBy("dist", "j")))
        .filter(F.col("r") == 1)
        .select("i", F.col("j").alias("nn_idx")))
    everything = Window.partitionBy()
    return (mp.join(nn, "i")
            .select(F.col("i").alias("start_idx"),
                    F.col("nn_idx").cast("bigint").alias("nn_idx"),
                    F.round("mp", 4).alias("mp_dist"),
                    F.when(F.col("mp") == F.min("mp").over(everything), 1)
                    .otherwise(0).cast("bigint").alias("is_motif"),
                    F.when(F.col("mp") == F.max("mp").over(everything), 1)
                    .otherwise(0).cast("bigint").alias("is_discord"))
            .orderBy("start_idx"))


@register(
    "q348_sax_encoding",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    z AS (
        SELECT d, y,
               (y - avg(y) OVER ()) / stddev_samp(y) OVER () AS zy,
               CAST(floor((row_number() OVER (ORDER BY d) - 1) / 5.0)
                    AS BIGINT) AS seg
        FROM daily
    ),
    paa AS (
        SELECT seg, avg(zy) AS pz, count(*) AS n, min(d) AS d_start
        FROM z GROUP BY seg HAVING count(*) = 5
    )
    SELECT CAST(seg AS BIGINT) AS segment,
           CAST(d_start AS BIGINT) AS day_start,
           round(pz, 6) AS paa_value,
           CASE WHEN pz < -0.6745 THEN 'a'
                WHEN pz < 0 THEN 'b'
                WHEN pz < 0.6745 THEN 'c'
                ELSE 'd' END AS sax_symbol
    FROM paa
    ORDER BY segment
    """,
)
def q348_sax_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) encoding of the daily
    series: z-normalize, piecewise-aggregate into 5-day segments, and map
    each segment mean to a 4-letter alphabet at the gaussian quartile
    breakpoints (±0.6745, 0) — the discretization that turns time series
    into strings so sequence tooling (q204's patterns, q144's n-gram
    novelty, any suffix index) applies to SHAPES. Lower-bounding distance
    in symbol space is what makes SAX an index at scale; the encoding
    here is one window pass + one segment reduction."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    everything = Window.partitionBy()
    z = (daily.withColumn("zy", (F.col("y") - F.avg("y").over(everything))
                          / F.stddev_samp("y").over(everything))
         .withColumn("seg", F.floor(
             (F.row_number().over(Window.orderBy("d")) - 1) / 5)
             .cast("bigint")))
    paa = (z.groupBy("seg")
           .agg(F.avg("zy").alias("pz"), F.count(F.lit(1)).alias("n"),
                F.min("d").alias("d_start"))
           .filter(F.col("n") == 5))
    sym = (F.when(F.col("pz") < -0.6745, "a")
           .when(F.col("pz") < 0, "b")
           .when(F.col("pz") < 0.6745, "c").otherwise("d"))
    return (paa.select(F.col("seg").cast("bigint").alias("segment"),
                       F.col("d_start").cast("bigint").alias("day_start"),
                       F.round("pz", 6).alias("paa_value"),
                       sym.alias("sax_symbol"))
            .orderBy("segment"))


@register(
    "q353_gumbel_return_level",
    sql="""
    WITH daily AS (
        SELECT CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
                   AS d,
               count(*)::DOUBLE AS y
        FROM events GROUP BY 1
    ),
    blocks AS (
        SELECT CAST(floor((d - (SELECT min(d) FROM daily)) / 7.0) AS BIGINT)
                   AS wk,
               max(y) AS block_max,
               count(*) AS n_days
        FROM daily GROUP BY 1 HAVING count(*) = 7
    ),
    mom AS (
        SELECT count(*)::DOUBLE AS n, avg(block_max) AS m,
               stddev_samp(block_max) AS s
        FROM blocks
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           round(m, 4) AS mean_weekly_max,
           round(s * 0.7796968, 4) AS gumbel_beta,
           round(m - 0.5772157 * s * 0.7796968, 4) AS gumbel_mu,
           round(m - 0.5772157 * s * 0.7796968
                 - s * 0.7796968 * ln(-ln(1 - 1.0 / 52)), 4)
               AS level_1in52w,
           round(m - 0.5772157 * s * 0.7796968
                 - s * 0.7796968 * ln(-ln(1 - 1.0 / 520)), 4)
               AS level_1in520w
    FROM mom
    """,
)
def q353_gumbel_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value return levels by block maxima: weekly maxima of daily
    volume fitted to a Gumbel distribution via method of moments
    (beta = s*sqrt(6)/pi = s*0.7796968, mu = m - gamma*beta with Euler's
    0.5772157), then the 1-in-52-week and 1-in-520-week levels from the
    quantile mu - beta*ln(-ln(1-1/T)) — the capacity number "provision
    for the yearly spike", which no average or P99 of DAILY values gives
    (those see typical days; EVT extrapolates the maxima process). Only
    complete 7-day blocks enter. Constants are exact literals on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
         / F.lit(86400000000)).cast("bigint").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("y")))
    d0 = daily.agg(F.min("d").alias("d0"))
    blocks = (daily.crossJoin(F.broadcast(d0))
              .groupBy(F.floor((F.col("d") - F.col("d0")) / 7.0)
                       .cast("bigint").alias("wk"))
              .agg(F.max("y").alias("block_max"),
                   F.count(F.lit(1)).alias("n_days"))
              .filter(F.col("n_days") == 7))
    mom = blocks.agg(F.count(F.lit(1)).cast("double").alias("n"),
                     F.avg("block_max").alias("m"),
                     F.stddev_samp("block_max").alias("s"))
    beta = F.col("s") * 0.7796968
    mu = F.col("m") - 0.5772157 * beta
    def level(t):
        import math
        return mu - beta * math.log(-math.log(1 - 1.0 / t))
    return mom.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.round("m", 4).alias("mean_weekly_max"),
        F.round(beta, 4).alias("gumbel_beta"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(level(52), 4).alias("level_1in52w"),
        F.round(level(520), 4).alias("level_1in520w"))


@register(
    "q355_audience_overlap",
    sql="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(floor((CAST(epoch_us(date_trunc('day', ts))
                                / 86400000000 AS BIGINT)
                           - (SELECT CAST(epoch_us(date_trunc('day',
                                          min(ts))) / 86400000000 AS BIGINT)
                              FROM events)) / 7.0) AS BIGINT) AS wk
        FROM events
    ),
    sizes AS (
        SELECT wk, count(*)::DOUBLE AS n FROM active GROUP BY wk
    ),
    overlap AS (
        SELECT a.wk AS wk_from, count(*)::DOUBLE AS n_common
        FROM active a JOIN active b
          ON b.user_id = a.user_id AND b.wk = a.wk + 1
        GROUP BY a.wk
    )
    SELECT s1.wk AS week_idx,
           CAST(s1.n AS BIGINT) AS wau_this,
           CAST(s2.n AS BIGINT) AS wau_next,
           CAST(coalesce(o.n_common, 0) AS BIGINT) AS n_common,
           round(coalesce(o.n_common, 0)
                 / (s1.n + s2.n - coalesce(o.n_common, 0)), 6)
               AS jaccard_overlap,
           round(coalesce(o.n_common, 0) / s1.n, 6) AS retention_ratio
    FROM sizes s1
    JOIN sizes s2 ON s2.wk = s1.wk + 1
    LEFT JOIN overlap o ON o.wk_from = s1.wk
    ORDER BY week_idx
    """,
)
def q355_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week audience overlap: Jaccard similarity and forward
    retention ratio between consecutive weekly-active-user sets — the
    set-level stability number that q344's daily accounting aggregates
    away (DAU can be flat while the underlying POPULATION rotates
    completely; Jaccard near 1 vs near 0 distinguishes a loyal base from
    a churn treadmill). One (user, week) distinct, one adjacent-week
    self-join keyed on user_id, residue arithmetic against the weekly
    sizes."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.unix_micros(F.date_trunc("day", "ts").cast("timestamp"))
           / F.lit(86400000000)).cast("bigint")
    d0 = ev.agg(F.min(day).alias("d0"))
    active = (ev.crossJoin(F.broadcast(d0))
              .select("user_id",
                      F.floor((day - F.col("d0")) / 7.0).cast("bigint")
                      .alias("wk"))
              .distinct())
    sizes = active.groupBy("wk").agg(
        F.count(F.lit(1)).cast("double").alias("n"))
    b = active.select(F.col("user_id").alias("bu"),
                      (F.col("wk") - 1).alias("bwk"))
    overlap = (active.join(b, (F.col("bu") == F.col("user_id"))
                           & (F.col("bwk") == F.col("wk")))
               .groupBy(F.col("wk").alias("wk_from"))
               .agg(F.count(F.lit(1)).cast("double").alias("n_common")))
    s1 = sizes.select(F.col("wk").alias("w1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("wk").alias("w2"), F.col("n").alias("n2"))
    common = F.coalesce("n_common", F.lit(0.0))
    return (s1.join(s2, F.col("w2") == F.col("w1") + 1)
            .join(overlap, F.col("wk_from") == F.col("w1"), "left")
            .select(F.col("w1").alias("week_idx"),
                    F.col("n1").cast("bigint").alias("wau_this"),
                    F.col("n2").cast("bigint").alias("wau_next"),
                    common.cast("bigint").alias("n_common"),
                    F.round(common / (F.col("n1") + F.col("n2") - common), 6)
                    .alias("jaccard_overlap"),
                    F.round(common / F.col("n1"), 6)
                    .alias("retention_ratio"))
            .orderBy("week_idx"))
