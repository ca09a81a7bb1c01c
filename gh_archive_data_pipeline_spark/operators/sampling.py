"""Sampling and frequency-sketch operators for training-data curation:
deterministic weighted sampling (Efraimidis–Spirakis A-ES), temperature-scaled
mixture weights, and a mergeable count-min sketch.

Determinism matters more than randomness here: a 100 TB curation run must be
replayable (task retries, incremental re-runs), so "random" draws derive from
md5 of stable keys — the same engine-portable trick the deterministic split
(q88) uses, which also lets DuckDB compute the identical sample as an oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table

_HEX = "0123456789abcdef"


def _uniform_sql(key_sql: str) -> str:
    """SQL text (valid in both Spark SQL and DuckDB) for a deterministic
    uniform draw in (0,1): first 7 hex digits of md5(key), decoded by digit
    arithmetic (neither engine can cast hex→int with shared syntax)."""
    digit = "(instr('{hex}', substr(md5({k}), {i}, 1)) - 1)"
    terms = " + ".join(
        digit.format(hex=_HEX, k=key_sql, i=i) + f" * {16 ** (7 - i)}"
        for i in range(1, 8)
    )
    return f"((({terms}) + 0.5) / {16 ** 7})"


# Weight-proportional sample WITHOUT replacement: key_i = -ln(u_i)/w_i, keep
# the k smallest (exponential-clocks form of Efraimidis–Spirakis A-ES).
_AES_KEY = f"(-ln({_uniform_sql('cast(doc_id as string)')}) / n_chars)"


@register(
    "q129_weighted_sample",
    sql=f"""
    SELECT doc_id, n_chars, lang
    FROM (
        SELECT doc_id, n_chars, lang,
               {_AES_KEY} AS aes_key
        FROM documents
    )
    ORDER BY aes_key, doc_id
    LIMIT 50
    """,
)
def q129_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis–Spirakis A-ES): draw 50 docs
    with probability proportional to length, without replacement, from a
    replayable md5-derived uniform. At 100 TB this is a TakeOrderedAndProject
    (per-partition top-k, then a k-row merge on the driver) — no global sort,
    no shuffle of the corpus, and re-runs select the identical sample.
    """
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "lang", F.expr(_AES_KEY).alias("aes_key"))
        .orderBy("aes_key", "doc_id")
        .limit(50)
        .drop("aes_key")
    )


@register(
    "q130_mixture_weights",
    sql="""
    WITH grp AS (
        SELECT lang, source,
               count(*) AS docs,
               sum(len(string_split(text, ' '))) AS tokens
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source,
           CAST(docs AS BIGINT)    AS docs,
           CAST(tokens AS BIGINT)  AS tokens,
           round(pow(tokens, 0.3) / sum(pow(tokens, 0.3)) OVER (), 6)
               AS mix_weight
    FROM grp
    """,
)
def q130_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (the multilingual-corpus balancing
    rule p_i ∝ tokens_i^alpha, alpha=0.3): per (lang, source) shard, token
    counts and the normalized sampling weight a data loader would draw with.
    The global window runs on the post-aggregation rows (one per shard —
    dozens, not billions), so the single-partition stage is trivially small.
    """
    grp = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tokens"),
        )
    )
    from pyspark.sql.window import Window

    allw = Window.partitionBy()
    return grp.select(
        "lang", "source", "docs", "tokens",
        F.round(
            F.pow("tokens", F.lit(0.3)) / F.sum(F.pow("tokens", F.lit(0.3))).over(allw), 6
        ).alias("mix_weight"),
    )


# Count-min sketch geometry: depth 4 × width 1024. Width is deliberately
# small enough that collisions occur at fixture scale, so the overestimate
# bound test is exercising something real.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_build(df: DataFrame, key: str) -> DataFrame:
    """Build a count-min sketch as a (depth, bucket, c) DataFrame — the
    sketch IS a tiny table (depth×width rows), so it merges across shards,
    days, or streams by unioning and re-summing: the mergeability that makes
    CMS the right frequency sketch for incremental 100 TB pipelines.

    Each depth uses xxhash64 with a distinct seed column — independent-enough
    hash rows without leaving the JVM.
    """
    rows = F.array(*[
        F.struct(
            F.lit(d).alias("depth"),
            F.pmod(F.xxhash64(F.col(key), F.lit(d)), F.lit(CMS_WIDTH)).alias("bucket"),
        )
        for d in range(CMS_DEPTH)
    ])
    return (
        df.select(F.explode(rows).alias("r"))
        .groupBy("r.depth", "r.bucket")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, key: str) -> DataFrame:
    """Point-estimate probe-key frequencies from a sketch: min over the
    depth rows. Joins probes (small) to the sketch (depth×width rows, always
    broadcastable) — the corpus itself is never touched again."""
    hashed = probes.select(
        key,
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("depth"),
                F.pmod(F.xxhash64(F.col(key), F.lit(d)), F.lit(CMS_WIDTH)).alias("bucket"),
            )
            for d in range(CMS_DEPTH)
        ])).alias("r"),
    ).select(key, "r.depth", "r.bucket")
    return (
        hashed.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy(key)
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )


@register(
    "q132_count_min_sketch",
    sql="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS exact_count,
           TRUE AS never_underestimates,
           TRUE AS within_2eps_n
    FROM events
    GROUP BY user_id
    ORDER BY exact_count DESC, user_id
    LIMIT 100
    """,
)
def q132_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the top-100 event users:
    build the 4×1024 sketch in one pass, probe every distinct user, then
    check the sketch's two-sided contract against the exact counts. The
    estimate itself is geometry/hash-specific (no SQL oracle), but the
    CONTRACT is SQL-expressible: est ≥ exact always (min over depth rows
    can only overcount), and est ≤ exact + 2·(e/width)·N (the εN Markov
    bound with slack for the fixture's small depth; deterministic here
    because the xxhash64 rows are fixed). Hashed output = exact counts +
    the two booleans; the oracle emits the exacts with literal TRUE. The
    unit test pinning the bounds row-by-row is unchanged."""
    import math

    events = load_table(spark, sf_dir, "events")
    sketch = cms_build(events, "user_id")
    probes = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count"))
    n_total = events.select(F.count(F.lit(1)).alias("n_total"))
    eps = math.e / CMS_WIDTH
    return (
        cms_estimate(sketch, probes.select("user_id"), "user_id")
        .join(probes, "user_id")
        .crossJoin(F.broadcast(n_total))
        .select(
            "user_id",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            (F.col("est_count") >= F.col("exact_count"))
            .alias("never_underestimates"),
            (F.col("est_count") <= F.col("exact_count")
             + 2 * eps * F.col("n_total")).alias("within_2eps_n"))
        .orderBy(F.desc("exact_count"), "user_id")
        .limit(100)
    )


@register(
    "q177_grouped_weighted_sample",
    sql=f"""
    SELECT lang, doc_id, n_chars
    FROM (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_AES_KEY}, doc_id) AS rk
        FROM documents
    )
    WHERE rk <= 5
    """,
)
def q177_grouped_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP weighted sampling: 5 length-weighted docs per language —
    q129's A-ES keys ranked within each stratum instead of globally (the
    per-language curation draw). One shuffle on lang, WindowGroupLimit
    prunes each partition to its top 5 before anything else moves."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(F.expr(_AES_KEY), "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .select("lang", "doc_id", "n_chars",
                F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
        .drop("rk")
    )


@register(
    "q202_negative_sampling",
    sql="""
    WITH anchors AS (
        SELECT vec_id AS anchor_id, label AS anchor_label
        FROM embeddings WHERE vec_id < 50
    ),
    ranked AS (
        SELECT anchor_id, e.vec_id AS neg_id, e.label AS neg_label,
               row_number() OVER (
                   PARTITION BY anchor_id
                   ORDER BY md5(anchor_id || ':' || e.vec_id), e.vec_id
               ) AS rank
        FROM anchors JOIN embeddings e ON e.label <> anchor_label
    )
    SELECT anchor_id, neg_id, neg_label, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q202_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor vector, pick 3 candidates with a DIFFERENT label, ranked by
    md5(anchor:candidate) — a content-addressed draw that re-runs, engine
    swaps, and incremental corpus growth reproduce exactly (same property as
    q88's hash split). The anchor set broadcasts; ranking is per-anchor
    WindowGroupLimit, so nothing global sorts. At full scale the candidate
    side is prefiltered to a hash bucket per anchor (sample-before-rank)
    instead of ranking all negatives — same plan with one extra filter."""
    from ..sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = (emb.filter(F.col("vec_id") < 50)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("anchor_label")))
    cand = emb.select(F.col("vec_id").alias("neg_id"),
                      F.col("label").alias("neg_label"))
    from pyspark.sql import Window
    key = F.md5(F.concat_ws(":", "anchor_id", "neg_id"))
    w = Window.partitionBy("anchor_id").orderBy(key.asc(), F.col("neg_id"))
    return (F.broadcast(anchors)
            .join(cand, F.col("neg_label") != F.col("anchor_label"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("anchor_id", "neg_id", "neg_label",
                    F.col("rank").cast("int").alias("rank")))


@register(
    "q203_interleave_sources",
    sql="""
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY doc_id) AS BIGINT) AS rn
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, source, rn
        FROM ranked ORDER BY rn, source, doc_id LIMIT 60
    )
    SELECT CAST(row_number() OVER (ORDER BY rn, source, doc_id) AS BIGINT)
               AS position,
           doc_id, source, rn
    FROM ordered
    """,
)
def q203_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-interleaved curriculum order: round-robin across
    sources (rank within source, then order by (rank, source)) — the
    data-mixing order that keeps any training window balanced across
    sources, first 60 positions shown. The per-source rank is a
    WindowGroupLimit-friendly partitioned window; only the LIMIT-ed head is
    globally enumerated (60 rows). At scale the global position comes from
    range-partitioned zipWithIndex over the same sort key rather than a
    single-partition window."""
    from ..sources.readers import load_table
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy("doc_id")).cast("bigint")
    head = (docs.select("doc_id", "source", rn.alias("rn"))
            .orderBy("rn", "source", "doc_id").limit(60))
    pos = F.row_number().over(
        Window.orderBy("rn", "source", "doc_id")).cast("bigint")
    return head.select(pos.alias("position"), "doc_id", "source", "rn")


@register(
    "q225_materialize_mixture",
    sql="""
    WITH grp AS (
        SELECT source, count(*) AS docs
        FROM documents GROUP BY source
    ),
    target AS (
        SELECT source,
               CAST(ceil(500 * pow(docs, 0.5)
                         / sum(pow(docs, 0.5)) OVER ()) AS BIGINT) AS quota
        FROM grp
    ),
    ranked AS (
        SELECT d.doc_id, d.source, t.quota,
               row_number() OVER (PARTITION BY d.source
                                  ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                           d.doc_id) AS rn
        FROM documents d JOIN target t USING (source)
    )
    SELECT source,
           CAST(count(*) AS BIGINT)  AS sampled_docs,
           CAST(min(quota) AS BIGINT) AS quota,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           substr(md5(string_agg(CAST(doc_id AS VARCHAR), ','
                                 ORDER BY doc_id)), 1, 16) AS sample_digest
    FROM ranked WHERE rn <= quota
    GROUP BY source
    """,
)
def q225_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a temperature-balanced training mix end-to-end (the
    executable step after q130's weights): per-source quotas from
    docs^0.5-temperature re-weighting of a 500-doc budget, filled by
    deterministic content-hash order (md5 of doc_id — replayable, stable
    under appends to OTHER sources). Output pins the exact sample via a
    per-source digest of the chosen ids. Quota ranking is a per-source
    WindowGroupLimit; nothing global. This is the data loader's manifest
    build as a query."""
    from ..sources.readers import load_table
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy("source").agg(F.count(F.lit(1)).alias("docs"))
    w_all = Window.partitionBy()
    target = grp.select(
        "source",
        F.ceil(500 * F.pow("docs", 0.5)
               / F.sum(F.pow("docs", 0.5)).over(w_all)).cast("bigint")
        .alias("quota"))
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = (docs.join(F.broadcast(target), "source")
              .select("doc_id", "source", "quota",
                      F.row_number().over(wr).alias("rn"))
              .filter(F.col("rn") <= F.col("quota")))
    return (ranked.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("sampled_docs"),
                 F.min("quota").cast("bigint").alias("quota"),
                 F.min("doc_id").cast("bigint").alias("min_doc_id"),
                 F.substring(F.md5(F.concat_ws(",", F.transform(
                     F.sort_array(F.collect_list("doc_id")),
                     lambda x: x.cast("string")
                 ))), 1, 16).alias("sample_digest")))


@register(
    "q312_horvitz_thompson",
    sql="""
    WITH sizes AS (
        SELECT o.o_orderkey, o.o_totalprice AS y,
               count(*)::DOUBLE AS x
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    ),
    tot AS (
        SELECT sum(x) AS sx, sum(y) AS true_total,
               count(*)::DOUBLE AS n_pop
        FROM sizes
    ),
    probs AS (
        SELECT s.o_orderkey, s.y,
               least(1.0, 500.0 * s.x / t.sx) AS pi,
               CAST(('0x' || substr(md5('ht-' || s.o_orderkey), 1, 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM sizes s CROSS JOIN tot t
    )
    SELECT CAST(min(t.n_pop) AS BIGINT) AS n_population,
           CAST(sum(CASE WHEN p.u < p.pi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           round(min(t.true_total), 2) AS true_total,
           round(sum(CASE WHEN p.u < p.pi THEN p.y / p.pi ELSE 0 END), 2)
               AS ht_estimate,
           round(abs(sum(CASE WHEN p.u < p.pi THEN p.y / p.pi ELSE 0 END)
                     - min(t.true_total)) / min(t.true_total), 6)
               AS rel_error
    FROM probs p CROSS JOIN tot t
    """,
)
def q312_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation under unequal-probability (PPS)
    sampling: each order's inclusion probability is proportional to its
    line count (a cheap size proxy), inclusion is decided by the same
    deterministic md5-uniform as q286, and the estimator reweights each
    sampled y by 1/pi — the unbiased way to estimate aggregates from a
    biased-on-purpose sample, which is how a 100 TB profiling pass reads
    0.5% of the data and still reports calibrated totals. One reduction
    for the size measure, one broadcast scalar, one filtered weighted
    sum."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sizes = (orders.join(li, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderkey", "o_totalprice")
             .agg(F.count(F.lit(1)).cast("double").alias("x"))
             .select("o_orderkey", F.col("o_totalprice").alias("y"), "x"))
    tot = sizes.agg(F.sum("x").alias("sx"),
                    F.sum("y").alias("true_total"),
                    F.count(F.lit(1)).cast("double").alias("n_pop"))
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ht-"), F.col("o_orderkey").cast("string"))),
        1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0))
    probs = (sizes.crossJoin(F.broadcast(tot))
             .withColumn("pi", F.least(F.lit(1.0),
                                       500.0 * F.col("x") / F.col("sx")))
             .withColumn("u", u))
    inc = F.col("u") < F.col("pi")
    ht = F.sum(F.when(inc, F.col("y") / F.col("pi")).otherwise(0.0))
    return probs.agg(
        F.min("n_pop").cast("bigint").alias("n_population"),
        F.sum(F.when(inc, 1).otherwise(0)).cast("bigint").alias("n_sampled"),
        F.round(F.min("true_total"), 2).alias("true_total"),
        F.round(ht, 2).alias("ht_estimate"),
        F.round(F.abs(ht - F.min("true_total")) / F.min("true_total"), 6)
        .alias("rel_error"))


@register(
    "q342_kish_neff",
    sql="""
    WITH sizes AS (
        SELECT o.o_orderkey, count(*)::DOUBLE AS x
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey
    ),
    tot AS (SELECT sum(x) AS sx FROM sizes),
    sampled AS (
        SELECT 1.0 / least(1.0, 500.0 * s.x / t.sx) AS w
        FROM sizes s CROSS JOIN tot t
        WHERE CAST(('0x' || substr(md5('ht-' || s.o_orderkey), 1, 8))
                   AS BIGINT) / 4294967296.0
              < least(1.0, 500.0 * s.x / t.sx)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           round(pow(sum(w), 2) / sum(w * w), 4) AS kish_neff,
           round(pow(sum(w), 2) / sum(w * w) / count(*), 6)
               AS weighting_efficiency,
           round(1 + var_pop(w) / pow(avg(w), 2), 6) AS deff_kish
    FROM sampled
    """,
)
def q342_kish_neff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of q312's Horvitz-Thompson sample:
    neff = (sum w)^2 / sum(w^2) for the inverse-probability weights —
    how many EQUAL-weight observations the weighted sample is worth.
    Efficiency near 1 means the PPS design wasted nothing; a low value
    means a few huge weights dominate every estimate (and q312's
    variance blows up). Identical sampling arithmetic to q312 so the two
    queries describe the same design; one filtered reduction."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sizes = (orders.join(li, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderkey")
             .agg(F.count(F.lit(1)).cast("double").alias("x")))
    tot = sizes.agg(F.sum("x").alias("sx"))
    pi = F.least(F.lit(1.0), 500.0 * F.col("x") / F.col("sx"))
    u = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ht-"), F.col("o_orderkey").cast("string"))),
        1, 8), 16, 10).cast("bigint") / F.lit(4294967296.0))
    sampled = (sizes.crossJoin(F.broadcast(tot))
               .filter(u < pi)
               .select((1.0 / pi).alias("w")))
    neff = F.pow(F.sum("w"), 2) / F.sum(F.col("w") * F.col("w"))
    return sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.round(neff, 4).alias("kish_neff"),
        F.round(neff / F.count(F.lit(1)), 6).alias("weighting_efficiency"),
        F.round(1 + F.var_pop("w") / F.pow(F.avg("w"), 2), 6)
        .alias("deff_kish"))


@register(
    "q346_cold_start_coverage",
    sql="""
    WITH split AS (
        SELECT user_id, event_type, value,
               CAST(('0x' || substr(md5('cold-' || event_id), 1, 8))
                    AS BIGINT) % 5 AS b
        FROM events
    ),
    train_users AS (
        SELECT DISTINCT user_id FROM split WHERE b < 4
    ),
    test AS (
        SELECT s.user_id, s.value,
               CASE WHEN t.user_id IS NULL THEN 1 ELSE 0 END AS cold
        FROM split s LEFT JOIN train_users t USING (user_id)
        WHERE s.b = 4
    )
    SELECT CAST(count(*) AS BIGINT) AS n_test_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_test_users,
           CAST(sum(cold) AS BIGINT) AS n_cold_events,
           round(avg(cold::DOUBLE), 6) AS cold_event_rate,
           round(coalesce(sum(CASE WHEN cold = 1 THEN value END), 0)
                 / sum(value), 6) AS cold_value_share
    FROM test
    """,
)
def q346_cold_start_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-start exposure of an 80/20 event-level split: how much of the
    test fold belongs to users the training fold never saw — the number
    that bounds any per-user feature's (q211/q267 target encodings,
    q294's bin model) usefulness at serving time, and the complement of
    q199's leakage check (leakage = unwanted overlap; cold-start =
    unwanted NON-overlap). On this fixture every user is dense enough to
    appear in any 80% fold, so zero cold events is the CORRECT audit
    finding (the unit test plants a single-event user to prove the
    detector fires). One distinct + one broadcast anti-tag."""
    ev = load_table(spark, sf_dir, "events")
    b = (F.conv(F.substring(
        F.md5(F.concat(F.lit("cold-"), F.col("event_id").cast("string"))),
        1, 8), 16, 10).cast("bigint") % 5)
    split = ev.select("user_id", "value", b.alias("b"))
    train_users = (split.filter(F.col("b") < 4)
                   .select("user_id").distinct()
                   .withColumn("seen", F.lit(1)))
    test = (split.filter(F.col("b") == 4)
            .join(F.broadcast(train_users), "user_id", "left")
            .withColumn("cold", F.when(F.col("seen").isNull(), 1)
                        .otherwise(0)))
    return test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_test_users"),
        F.sum("cold").cast("bigint").alias("n_cold_events"),
        F.round(F.avg(F.col("cold").cast("double")), 6)
        .alias("cold_event_rate"),
        F.round(F.coalesce(F.sum(F.when(F.col("cold") == 1,
                                        F.col("value"))), F.lit(0.0))
                / F.sum("value"), 6).alias("cold_value_share"))


# ---------------------------------------------------------------------------
# q418 — deterministic train/validation/test split assignment
# ---------------------------------------------------------------------------

SPLIT_SALT = "split-v1"   # version the assignment: changing the salt is the
                          # ONLY way the split can move (never row order)
SPLIT_TRAIN, SPLIT_VAL = 80, 90  # bucket cutoffs of 100


def assign_split(df: DataFrame) -> DataFrame:
    """Add a ``split`` column ('train'/'validation'/'test') as a PURE
    function of (salt, id): md5-60-bit bucket mod 100, <80 train, <90
    validation, else test. Deterministic and order-free — the property a
    training pipeline needs so that re-ingesting, repartitioning, or
    growing the corpus can never move an existing document across the
    split boundary (no leakage of yesterday's test docs into today's
    train set). Scan-side expressions only; no shuffle, no RNG state."""
    bucket = F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit(SPLIT_SALT + ":"),
                           F.col("doc_id").cast("string"))), 1, 15),
            16, 10).cast("bigint"),
        F.lit(100))
    return df.withColumn(
        "split",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "validation")
        .otherwise("test"))


@register(
    "q418_split_assignment",
    sql=f"""
    WITH assigned AS (
      SELECT source,
             CASE WHEN b < {SPLIT_TRAIN} THEN 'train'
                  WHEN b < {SPLIT_VAL} THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT source,
                   CAST(('0x' || substr(md5('{SPLIT_SALT}:' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 100 AS b
            FROM documents) t),
    counts AS (
      SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs
      FROM assigned GROUP BY source, split)
    SELECT source, split, n_docs,
           round(n_docs::DOUBLE
                 / sum(n_docs) OVER (PARTITION BY source), 4) AS frac
    FROM counts ORDER BY source, split
    """,
)
def q418_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test assignment audited per
    source: hash-bucket split (see :func:`assign_split`) rolled up to
    (source, split) counts and within-source fractions. The per-source
    view is the stratification audit — a source whose fractions drift far
    from 80/10/10 flags id-space structure interacting with the hash
    (none on this fixture). 100 TB lens: the assignment is one scan-side
    md5 per row (no shuffle, no RNG, no driver state); only the bounded
    (source, split) rollup shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (assign_split(docs).groupBy("source", "split")
              .agg(F.count("*").cast("bigint").alias("n_docs")))
    w = Window.partitionBy("source")
    return (counts
            .withColumn("frac", F.round(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 4))
            .orderBy("source", "split"))
