"""Trained quality classifier: distill the Gopher rule filter (q384) into a
linear scorer by logistic regression, trained with fixed-round batch
gradient descent.

The production pattern this models: rule filters and LM-perplexity cuts are
expensive or brittle at 100 TB, so pipelines train a cheap linear/fastText
probe on weak labels and score the corpus with it (CCNet, GPT-3's
quality classifier, LLaMA's Wikipedia-reference classifier). Scale
contract: per GD round the corpus-sized work is ONE partial-aggregated
scan producing 6 sums (5 feature gradients + count); driver state is the
6-float weight vector. The feature frame is computed once and
localCheckpointed (at cluster scale: cached/materialized), so the text
processing cost is paid once, not per round. Scoring/inference is a pure
scan-side expression — no shuffle, no UDF, streams through whole-stage
codegen.

Replayability (the q390/q391 fixed-round float-sequence technique): weak
labels and all five features are EXACT across engines (integer counts and
single divisions), the sigmoid is the only libm call (exp ULP noise is
~1e-16 relative, nine orders below the 6-decimal output rounding), and the
weight updates run in the same left-to-right IEEE order on both sides.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import fixture_memo, load_table, plan_size_bytes
from .text_queries import _STOP_SQL, STOPWORDS

ROUNDS = 16
LR = 8.0
# Fixed centering constants (NOT data-dependent — replayability): each
# feature — x1 words/100, x2 mean-word-len/10, x3 distinct-word ratio,
# x4 distinct-stopwords/10, x5 alpha-word ratio — is scaled to ~[0, 1]
# then shifted so a typical document sits near zero; without this the raw
# mean-word-length (~5) swamps the logit and GD converges to the
# always-positive classifier (measured: pos_rate 1.0 at 8 uncentered
# rounds vs accuracy 0.898 / pos_rate 0.498 here).
CENTERS = (1.0, 0.5, 0.5, 0.5, 0.8)


def quality_features(docs: DataFrame,
                     extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Per-document feature vector (x1..x5) + weak label y (the q384
    Gopher composite rule). Every value is exact cross-engine arithmetic:
    integer counts and one division each — no libm, no accumulation.
    ``extra_cols`` pass through untouched (q440 scores survivors inline,
    keeping source/text alongside the features — zero extra joins)."""
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_words = F.size(toks).cast("bigint")
    nw_d = n_words.cast("double")
    mean_wl = (F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
               .cast("double") / nw_d)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / nw_d
    # array_intersect builds one hash set per row (round-11, guide §1.2
    # per-task work) — the earlier filter(array_distinct, array_contains)
    # linear-scanned the stopword array once per distinct token. Both
    # count distinct tokens that are stopwords (array_intersect dedups).
    n_stop = F.size(F.array_intersect(toks, stop_arr)).cast("bigint")
    alpha_ratio = (F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
                   .cast("double") / nw_d)
    keep = (n_words.between(50, 100000) & mean_wl.between(3.0, 10.0)
            & (n_stop >= 2) & (distinct_ratio > 0.2) & (alpha_ratio >= 0.8))
    return docs.select(
        "doc_id",
        *extra_cols,
        (nw_d / 100.0 - CENTERS[0]).alias("x1"),
        (mean_wl / 10.0 - CENTERS[1]).alias("x2"),
        (distinct_ratio - CENTERS[2]).alias("x3"),
        (n_stop.cast("double") / 10.0 - CENTERS[3]).alias("x4"),
        (alpha_ratio - CENTERS[4]).alias("x5"),
        keep.cast("int").cast("double").alias("y"),
    )


def _z_expr(w: list[float], b: float):
    """The linear logit in a FIXED left-to-right order (the oracle writes
    the same chain, so per-op IEEE rounding matches bit-for-bit)."""
    z = F.lit(b)
    for j, name in enumerate(("x1", "x2", "x3", "x4", "x5")):
        z = z + F.lit(w[j]) * F.col(name)
    return z


# Per-round plan mode for the GD loop (round-11 optimization): below this
# optimizer-estimated input size, each round's one-row-output aggregate is
# dominated by fixed per-job costs — whole-stage-codegen COMPILATION of the
# round's fresh literal plan (~60-80 ms) and AQE's extra re-plan job — not
# by per-row compute, so the loop runs those rounds with codegen/AQE off
# (measured 16 rounds at sf0.1: 5.0 s -> 3.5 s; per-row arithmetic is the
# same IEEE ops either way, weights bit-identical). Above the threshold the
# per-row interpreter overhead would multiply by the corpus size, so
# codegen/AQE stay on — the gate is INPUT SIZE, never core count.
_GD_INTERP_MAX_BYTES = int(os.environ.get(
    "SPARK_GRAFT_GD_INTERP_MAX_BYTES", str(256 * 1024 * 1024)))


def train_quality_probe(docs: DataFrame) -> tuple[list[float], float]:
    """Batch-GD logistic regression on :func:`quality_features`. Returns
    (weights, bias). Zero init, ROUNDS rounds at rate LR, full-batch
    gradient — deterministic and exactly replayable.

    The round's weights enter as plan LITERALS (round-11 optimization):
    the earlier broadcast-one-row-frame form paid a BroadcastExchange +
    BroadcastNestedLoopJoin + a broadcast-build job EVERY round to save
    one ~60 ms codegen compile — measured 16 rounds at sf0.1: 9.4 s
    broadcast vs 5.0 s literal, final weights bit-identical (column-vs-
    literal multiplication is the same IEEE op, row order unchanged).
    Compile count is 16 per TRAINING RUN regardless of corpus size, so
    the trade only improves at scale."""
    w, b, _ = train_quality_probe_with_feats(docs)
    return w, b


def train_quality_probe_with_feats(
        docs: DataFrame) -> tuple[list[float], float, DataFrame]:
    """:func:`train_quality_probe` that ALSO hands back the checkpointed
    feature frame it trained on, so a caller scoring the same corpus
    (q401) reads the once-materialized features instead of re-deriving
    them from the raw scan — the persist-once-read-twice discipline the
    pipeline phases already follow; values are identical by construction."""
    spark = docs.sparkSession
    feats = quality_features(docs).localCheckpoint()
    small = plan_size_bytes(docs) <= _GD_INTERP_MAX_BYTES
    w, b = [0.0] * 5, 0.0
    with _interp_mode(spark, small):
        for _ in range(ROUNDS):
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_expr(w, b)))
            r = (feats
                 .select((p - F.col("y")).alias("e"),
                         "x1", "x2", "x3", "x4", "x5")
                 .agg(F.count("*").alias("n"),
                      F.sum("e").alias("gb"),
                      *[F.sum(F.col("e") * F.col(f"x{j + 1}"))
                        .alias(f"g{j + 1}") for j in range(5)])
                 .collect()[0])
            n = float(r["n"])
            w = [w[j] - LR * float(r[f"g{j + 1}"]) / n for j in range(5)]
            b = b - LR * float(r["gb"]) / n
    return w, b, feats


@contextmanager
def _interp_mode(spark: SparkSession, enabled: bool):
    """Temporarily run with whole-stage codegen + AQE off (tiny-input fast
    path for driver-synchronized micro-job loops); restores the session's
    previous values on exit."""
    if not enabled:
        yield
        return
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled")
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = "true"
    try:
        for k in keys:
            spark.conf.set(k, "false")
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _z_sql() -> str:
    """SQL text for the logit with the same left-to-right chain; weight
    columns come from the cross-joined round CTE."""
    return ("(((((b + w1 * x1) + w2 * x2) + w3 * x3) + w4 * x4)"
            " + w5 * x5)")


def _feats_select_sql(src: str = "documents") -> str:
    """Feature SELECT (doc_id, x1..x5, y) over relation ``src`` — the
    body of the training ``feats`` CTE, factored so q440 can score its
    pipeline survivors with the identical arithmetic."""
    return f"""
        SELECT doc_id,
               n_words / 100.0 - {CENTERS[0]!r} AS x1,
               mean_wl / 10.0 - {CENTERS[1]!r} AS x2,
               distinct_ratio - {CENTERS[2]!r} AS x3,
               n_stop / 10.0 - {CENTERS[3]!r} AS x4,
               alpha_ratio - {CENTERS[4]!r} AS x5,
               CASE WHEN n_words_i BETWEEN 50 AND 100000
                         AND mean_wl BETWEEN 3 AND 10
                         AND n_stop_i >= 2 AND distinct_ratio > 0.2
                         AND alpha_ratio >= 0.8
                    THEN 1.0 ELSE 0.0 END AS y
        FROM (SELECT doc_id,
                     n_words_i, n_words_i::DOUBLE AS n_words,
                     length(replace(text, ' ', ''))::DOUBLE / n_words_i
                         AS mean_wl,
                     len(list_distinct(w))::DOUBLE / n_words_i
                         AS distinct_ratio,
                     n_stop_i, n_stop_i::DOUBLE AS n_stop,
                     len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))
                         ::DOUBLE / n_words_i AS alpha_ratio
              FROM (SELECT doc_id, text, string_split(text, ' ') AS w,
                           len(string_split(text, ' '))::BIGINT AS n_words_i,
                           len(list_filter(list_distinct(
                               string_split(text, ' ')),
                               x -> x IN {_STOP_SQL}))::BIGINT AS n_stop_i
                    FROM {src}))"""


def _probe_train_ctes() -> str:
    """CTE text replaying train_quality_probe round by round."""
    stages = []
    for k in range(1, ROUNDS + 1):
        stages.append(f"""
    r{k} AS MATERIALIZED (
        SELECT w1 - {LR!r} * g1 / n AS w1, w2 - {LR!r} * g2 / n AS w2,
               w3 - {LR!r} * g3 / n AS w3, w4 - {LR!r} * g4 / n AS w4,
               w5 - {LR!r} * g5 / n AS w5, b - {LR!r} * gb / n AS b
        FROM (SELECT count(*)::DOUBLE AS n, sum(e) AS gb,
                     sum(e * x1) AS g1, sum(e * x2) AS g2,
                     sum(e * x3) AS g3, sum(e * x4) AS g4,
                     sum(e * x5) AS g5,
                     any_value(w1) AS w1, any_value(w2) AS w2,
                     any_value(w3) AS w3, any_value(w4) AS w4,
                     any_value(w5) AS w5, any_value(b) AS b
              FROM (SELECT f.*, r.*,
                           1.0 / (1.0 + exp(-{_z_sql()})) - y AS e
                    FROM feats f, r{k - 1} r))
    ),""")
    return f"""
    feats AS MATERIALIZED ({_feats_select_sql("documents")}
    ),
    r0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, 0.0 AS w5,
                  0.0 AS b),
    {''.join(stages)}
    _probe_end AS (SELECT 1)"""


def _probe_oracle() -> str:
    return f"""
    WITH {_probe_train_ctes()}
    SELECT CAST(y AS INTEGER) AS label,
           CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS pred,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 6) AS avg_p
    FROM (SELECT f.y, 1.0 / (1.0 + exp(-{_z_sql()})) AS p
          FROM feats f, r{ROUNDS} r)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register("q401_quality_probe", sql=_probe_oracle())
def q401_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the logistic quality probe on the documents table (weak labels
    = the q384 Gopher composite) and score the corpus with the final
    weights: confusion cells (label, pred) with counts and mean predicted
    probability. The oracle replays the exact 16-round GD float sequence,
    so the learned weights — and therefore every prediction — must agree.
    At 100 TB: train is 16 partial-aggregated scans of a once-computed
    feature frame; inference is the scan-side logit, broadcastable to any
    downstream curation query as a literal expression."""
    docs = load_table(spark, sf_dir, "documents")
    # score from the SAME checkpointed feature frame training used
    # (round 11): identical values by construction, one less full
    # feature derivation from the raw scan
    w, b, feats = train_quality_probe_with_feats(docs)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z_expr(w, b)))
    return (feats.select(F.col("y").cast("int").alias("label"),
                         (p >= 0.5).cast("int").alias("pred"),
                         p.alias("p"))
            .groupBy("label", "pred")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("p"), 6).alias("avg_p"))
            .orderBy("label", "pred"))


# one trained probe per fixture state — q401 trains fresh (the honest
# trainer headline); streaming/score-only consumers (q407) amortize via
# this memo
@fixture_memo("documents")
def _cached_probe(spark: SparkSession,
                  sf_dir: str) -> tuple[list[float], float]:
    return train_quality_probe(load_table(spark, sf_dir, "documents"))
