"""Hybrid retrieval: reciprocal-rank fusion of lexical + vector rankings,
and maximal-marginal-relevance (MMR) diversification of a candidate set.

Reference parity: the reference pipeline has no retrieval plane (its 1,112
LoC are Airflow/ELT glue — SURVEY.md §0); this module extends the ANN family
(operators/similarity.py) with the post-ranking and subset-selection
operators a RAG-style training-data or retrieval-eval pipeline needs:
fusing a sparse (lexical) and a dense (vector) ranking into one list
(q412), de-duplicating a result list against itself before it is shown to
a model (q416 MMR), token-level late-interaction re-ranking (q419
MaxSim), and corpus-wide diverse-subset selection (q421 k-center).

Scale contract, 100 TB lens:

- **RRF fusion** (``rrf_fuse``): inputs are *rankings* — (query_id, doc_id,
  rank) triples already truncated to a per-query depth — so the fused stage
  touches O(|Q| x depth x lists) rows regardless of corpus size. The union +
  groupBy shuffles only (query_id, doc_id, rank) ints; the corpus is long
  gone by this point. Each upstream ranking keeps its own scale story (the
  lexical rank broadcasts the bounded query set against the corpus scan;
  the vector rank is similarity.brute_force_topk / its LSH+IVF scale
  variants — interchangeable because RRF only consumes ranks).
- **MMR** (``mmr_diversify``): greedy selection is inherently sequential in
  k, so the loop runs k rounds of (anti-join + max-aggregate + window
  argmax) over the CANDIDATE table — bounded at |Q| x depth rows by the
  upstream retriever, never corpus-sized. Driver state is zero (each round
  is a distributed argmax via row_number, not a collect); per-round results
  are localCheckpointed so the plan does not grow superlinearly in k.

Floats: all similarity math stays raw double end-to-end (the q44 precedent:
zip_with/aggregate folds are bit-identical to DuckDB's list_dot_product);
1/(K+rank) and 0.7*rel - 0.3*maxsim are single IEEE ops on those doubles
(two-addend sums are order-free), so both engines replay the exact float
sequence; rounding happens only on the output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table, scan_parallel
from .similarity import _as_double, cosine, dot

RRF_K = 60          # the standard RRF damping constant (Cormack et al.)
FUSE_DEPTH = 20     # per-modality candidate depth fed into fusion
FUSE_TOPK = 10      # fused output depth
N_QUERIES = 5       # fixture query set: doc_id/vec_id < 5

MMR_LAM = 0.7       # relevance weight
MMR_MU = 0.3        # diversity weight — explicit literal, NOT 1-0.7
                    # (1-0.7 = 0.30000000000000004 in IEEE; both engines
                    # must see the same constant)
MMR_DEPTH = 10      # candidate depth diversified
MMR_ROUNDS = 5      # selections per query


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def lexical_rank(docs: DataFrame, query_ids: list[int]) -> DataFrame:
    """Rank documents against each query document by Jaccard similarity of
    their distinct word sets. Returns (query_id, doc_id, rank) with
    rank <= FUSE_DEPTH.

    The query side is a bounded set (broadcast); the corpus side is one
    scan computing array_distinct(split) — intersection/union sizes are
    JVM built-ins (array_intersect/array_union), no Python in the loop.
    """
    words = F.array_distinct(F.split(F.col("text"), " "))
    q = (docs.filter(F.col("doc_id").isin(query_ids))
         .select(F.col("doc_id").alias("query_id"), words.alias("qw")))
    c = docs.select(F.col("doc_id").alias("doc_id"), words.alias("cw"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id", "doc_id",
            (F.size(F.array_intersect("qw", "cw")).cast("double")
             / F.size(F.array_union("qw", "cw"))).alias("jac"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("jac").desc(), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= FUSE_DEPTH)
            .select("query_id", "doc_id", "rank"))


def vector_rank(emb: DataFrame, query_ids: list[int]) -> DataFrame:
    """Rank the corpus against each query vector by cosine, unrounded
    (ranks only — RRF never sees the score). Same broadcast-queries /
    corpus-never-shuffles shape as similarity.brute_force_topk."""
    q = (emb.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("query_id"),
                 _as_double(F.col("embedding")).alias("qv")))
    c = emb.select(F.col("vec_id").alias("doc_id"),
                   _as_double(F.col("embedding")).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id",
                cosine(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= FUSE_DEPTH)
            .select("query_id", "doc_id", "rank"))


def rrf_fuse(rankings: dict[str, DataFrame]) -> DataFrame:
    """Reciprocal-rank fusion: score(d) = sum over lists of 1/(k + rank_d).

    ``rankings`` maps a modality name to a (query_id, doc_id, rank) frame.
    Output: query_id, doc_id, rrf_score (6dp), n_lists, one ``<name>_rank``
    per modality (-1 when absent), fused_rank <= topk.

    With two lists the per-doc sum has at most two addends — IEEE addition
    is commutative, so the groupBy's combine order cannot change the bits.
    """
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    names = sorted(rankings)
    tagged = None
    for name in names:
        part = rankings[name].select(
            "query_id", "doc_id", "rank", F.lit(name).alias("modality"))
        tagged = part if tagged is None else tagged.unionByName(part)
    per_modality = [
        F.coalesce(
            F.max(F.when(F.col("modality") == name, F.col("rank"))),
            F.lit(-1)).cast("bigint").alias(f"{name}_rank")
        for name in names
    ]
    fused = (
        tagged.groupBy("query_id", "doc_id")
        .agg(F.sum(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank")))
             .alias("score"),
             F.count("*").cast("bigint").alias("n_lists"),
             *per_modality)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= FUSE_TOPK)
        .select("query_id", "doc_id", F.round("score", 6).alias("rrf_score"),
                "n_lists", *[f"{n}_rank" for n in names], "fused_rank")
    )


def mmr_diversify(cand: DataFrame, pair: DataFrame) -> DataFrame:
    """Greedy maximal-marginal-relevance selection over a candidate set.

    ``cand``: (query_id, doc_id, rel) — relevance to the query, raw double.
    ``pair``: (query_id, a_id, b_id, sim) — pairwise similarity among each
    query's candidates (both orientations present).

    Round 1 picks argmax(rel); round r>1 picks
    argmax(lam*rel - mu*max_{s in selected} sim(d, s)), ties broken on
    doc_id. Every round is a distributed anti-join + max-agg + window
    argmax on the bounded candidate table; selections accumulate via
    union + localCheckpoint (no driver state, flat plan).

    Output: query_id, round, doc_id, mmr_score (6dp; round 1 = lam*rel).
    """
    cand = cand.localCheckpoint()
    pair = pair.localCheckpoint()
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")

    first = (cand.select("query_id", "doc_id",
                         (F.lit(MMR_LAM) * F.col("rel")).alias("score"))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("query_id", F.lit(1).alias("round"), "doc_id", "score"))
    selected = first.localCheckpoint()

    for r in range(2, MMR_ROUNDS + 1):
        rem = cand.join(selected, ["query_id", "doc_id"], "left_anti")
        maxsim = (
            rem.join(pair.withColumnRenamed("a_id", "doc_id"),
                     ["query_id", "doc_id"])
            .join(selected.select("query_id",
                                  F.col("doc_id").alias("b_id")),
                  ["query_id", "b_id"])
            .groupBy("query_id", "doc_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        pick = (
            maxsim.select(
                "query_id", "doc_id",
                (F.lit(MMR_LAM) * F.col("rel")
                 - F.lit(MMR_MU) * F.col("maxsim")).alias("score"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("query_id", F.lit(r).alias("round"), "doc_id", "score")
        )
        selected = selected.unionByName(pick).localCheckpoint()

    return selected.select(
        "query_id", F.col("round").cast("int").alias("round"), "doc_id",
        F.round("score", 6).alias("mmr_score"))


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------

_COS = ("list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v))"
        " * sqrt(list_dot_product(c.v, c.v)))")

_Q412_SQL = f"""
WITH qd AS (SELECT doc_id AS query_id,
                   list_distinct(string_split(text, ' ')) AS qw
            FROM documents WHERE doc_id < {N_QUERIES}),
     cd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS cw
            FROM documents),
     lex_scored AS (
       SELECT query_id, doc_id,
              CAST(len(list_intersect(qw, cw)) AS DOUBLE)
                / len(list_distinct(list_concat(qw, cw))) AS jac
       FROM qd JOIN cd ON query_id <> doc_id),
     lex AS (
       SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY jac DESC, doc_id) AS rank
       FROM lex_scored),
     qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < {N_QUERIES}),
     cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
            FROM embeddings),
     vec_scored AS (
       SELECT q.query_id, c.doc_id, {_COS} AS sim
       FROM qv q JOIN cv c ON q.query_id <> c.doc_id),
     vec AS (
       SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, doc_id) AS rank
       FROM vec_scored),
     tagged AS (
       SELECT query_id, doc_id, rank, 'lexical' AS modality
       FROM lex WHERE rank <= {FUSE_DEPTH}
       UNION ALL
       SELECT query_id, doc_id, rank, 'vector' FROM vec
       WHERE rank <= {FUSE_DEPTH}),
     fused AS (
       SELECT query_id, doc_id,
              sum(1.0 / ({RRF_K} + rank)) AS score,
              CAST(count(*) AS BIGINT) AS n_lists,
              CAST(coalesce(max(CASE WHEN modality = 'lexical'
                                     THEN rank END), -1) AS BIGINT)
                AS lexical_rank,
              CAST(coalesce(max(CASE WHEN modality = 'vector'
                                     THEN rank END), -1) AS BIGINT)
                AS vector_rank
       FROM tagged GROUP BY query_id, doc_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS fused_rank
       FROM fused)
SELECT query_id, doc_id, round(score, 6) AS rrf_score, n_lists,
       lexical_rank, vector_rank, CAST(fused_rank AS INTEGER) AS fused_rank
FROM ranked WHERE fused_rank <= {FUSE_TOPK}
"""


@register("q412_rrf_hybrid_search", sql=_Q412_SQL)
def q412_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a lexical ranking
    (Jaccard over distinct word sets, documents table) and a dense ranking
    (cosine over embeddings, vec_id aligned with doc_id) for query ids < 5.
    score(d) = sum over lists of 1/(60 + rank), top-10 per query."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(N_QUERIES))
    return rrf_fuse({
        "lexical": lexical_rank(docs, qids),
        "vector": vector_rank(emb, qids),
    })


def _mmr_oracle() -> str:
    """Unrolled 5-round MMR replay (the q390 BPE-loop technique: fixed
    rounds, argmax via row_number, each round's CTE referencing the
    previous selected set)."""
    ctes = [
        f"""qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < {N_QUERIES})""",
        "cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""scored AS (
           SELECT q.query_id, c.doc_id, {_COS} AS rel
           FROM qv q JOIN cv c ON q.query_id <> c.doc_id)""",
        f"""cand AS (
           SELECT query_id, doc_id, rel FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id) AS r
             FROM scored) WHERE r <= {MMR_DEPTH})""",
        f"""pair AS (
           SELECT a.query_id, a.doc_id AS a_id, b.doc_id AS b_id,
                  list_dot_product(va.v, vb.v)
                    / (sqrt(list_dot_product(va.v, va.v))
                       * sqrt(list_dot_product(vb.v, vb.v))) AS sim
           FROM cand a
           JOIN cand b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
           JOIN cv va ON va.doc_id = a.doc_id
           JOIN cv vb ON vb.doc_id = b.doc_id)""",
        f"""sel1 AS (
           SELECT query_id, 1 AS round, doc_id, {MMR_LAM!r} * rel AS score
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY rel DESC, doc_id) AS rn
                 FROM cand) WHERE rn = 1)""",
        "acc1 AS (SELECT * FROM sel1)",
    ]
    for r in range(2, MMR_ROUNDS + 1):
        p = r - 1
        ctes.append(f"""sc{r} AS (
           SELECT c.query_id, c.doc_id,
                  {MMR_LAM!r} * c.rel - {MMR_MU!r} * max(p.sim) AS score
           FROM cand c
           JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.doc_id
           JOIN acc{p} s ON s.query_id = p.query_id AND s.doc_id = p.b_id
           WHERE NOT EXISTS (SELECT 1 FROM acc{p} a
                             WHERE a.query_id = c.query_id
                               AND a.doc_id = c.doc_id)
           GROUP BY c.query_id, c.doc_id, c.rel)""")
        ctes.append(f"""sel{r} AS (
           SELECT query_id, {r} AS round, doc_id, score
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                              ORDER BY score DESC, doc_id) AS rn
                 FROM sc{r}) WHERE rn = 1)""")
        ctes.append(
            f"acc{r} AS (SELECT * FROM acc{p} UNION ALL SELECT * FROM sel{r})")
    return ("WITH " + ",\n".join(ctes)
            + f"""
SELECT query_id, CAST(round AS INTEGER) AS round, doc_id,
       round(score, 6) AS mmr_score
FROM acc{MMR_ROUNDS}""")


@register("q416_mmr_diversify", sql=_mmr_oracle())
def q416_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification: greedy top-5 selection over each query's cosine
    top-10 candidates with score = 0.7*rel - 0.3*max-sim-to-selected,
    replayed round-for-round by the unrolled recursive-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 _as_double(F.col("embedding")).alias("qv")))
    c = emb.select(F.col("vec_id").alias("doc_id"),
                   _as_double(F.col("embedding")).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id",
                cosine(F.col("qv"), F.col("cv")).alias("rel"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "doc_id")
    cand = (scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= MMR_DEPTH)
            .select("query_id", "doc_id", "rel"))
    a = cand.select("query_id", F.col("doc_id").alias("a_id"))
    b = cand.select("query_id", F.col("doc_id").alias("b_id"))
    pair = (
        a.join(b, "query_id").filter(F.col("a_id") != F.col("b_id"))
        .join(c.select(F.col("doc_id").alias("a_id"),
                       F.col("cv").alias("va")), "a_id")
        .join(c.select(F.col("doc_id").alias("b_id"),
                       F.col("cv").alias("vb")), "b_id")
        .select("query_id", "a_id", "b_id",
                cosine(F.col("va"), F.col("vb")).alias("sim"))
    )
    return mmr_diversify(cand, pair)


# ---------------------------------------------------------------------------
# q419 — late-interaction (MaxSim / ColBERT-style) scoring
# ---------------------------------------------------------------------------

LI_DIM = 8        # per-token embedding width
LI_QTOK = 8       # query tokens scored (ColBERT's bounded query length)
LI_DTOK = 16      # doc tokens kept (the max-seq-len truncation)
LI_TOPK = 5

# token embedding = 8 bytes of md5(word), affinely mapped to [-1, 1]: a
# deterministic stand-in for a model's token embeddings (the multimodal
# plane's "deterministic fake" convention — the PLUMBING is what's real:
# schema, nested-HOF math, broadcast shape). (byte - 127.5)/127.5 is never
# all-zero, so cosine is always defined.
_TOKVEC_SPARK = ("transform(sequence(0, {d}), c ->"
                 " (cast(conv(substring(md5({w}), c*2 + 1, 2), 16, 10)"
                 "  as double) - 127.5D) / 127.5D)")
_TOKVEC_DUCK = ("list_transform(range(0, {d}), c ->"
                " ((('0x' || substr(md5({w}), c*2 + 1, 2))::BIGINT)::DOUBLE"
                "  - 127.5) / 127.5)")

_Q419_SQL = f"""
WITH qtok AS (
  SELECT query_id, t.w
  FROM (SELECT doc_id AS query_id, string_split(text, ' ')[1:{LI_QTOK}] AS ws
        FROM documents WHERE doc_id < {N_QUERIES}) d,
       LATERAL (SELECT unnest(ws) AS w) t),
qvec AS (
  SELECT query_id, {_TOKVEC_DUCK.format(d=LI_DIM, w='w')} AS qv FROM qtok),
dvec AS (
  SELECT doc_id,
         list_transform(string_split(text, ' ')[1:{LI_DTOK}],
                        w -> {_TOKVEC_DUCK.format(d=LI_DIM, w='w')}) AS dvs
  FROM documents),
scored AS (
  SELECT q.query_id, d.doc_id,
         CAST(floor(list_max(list_transform(d.dvs, u ->
                list_dot_product(q.qv, u)
                  / (sqrt(list_dot_product(q.qv, q.qv))
                     * sqrt(list_dot_product(u, u))))) * 1e12 + 0.5)
              AS BIGINT) AS it
  FROM qvec q JOIN dvec d ON q.query_id <> d.doc_id),
agg AS (
  SELECT query_id, doc_id, sum(it) AS sum_it,
         CAST(count(*) AS BIGINT) AS n_q
  FROM scored GROUP BY query_id, doc_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY sum_it DESC, doc_id) AS rank
  FROM agg)
SELECT query_id, doc_id,
       round(CAST(sum_it AS DOUBLE) / 1e12 / n_q, 6) AS maxsim_score,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {LI_TOPK}
"""


@register("q419_maxsim_late_interaction", sql=_Q419_SQL)
def q419_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval scoring (Khattab & Zaharia, ColBERT):
    score(q, d) = mean over q's tokens of max over d's tokens of
    cosine(token_vec_q, token_vec_d) — token-level interaction instead of
    one pooled vector per document. Token embeddings are deterministic
    md5-derived 8-dim vectors (see _TOKVEC_*); queries keep 8 tokens, docs
    16 (the ColBERT truncation knobs). Per-token MaxSims are summed as
    1e12-scaled exact integers (the floor-cents convention) so ranking and
    score replay bit-for-bit; ranks order by the exact integer sum.

    100 TB lens: identical shape to brute-force ANN (q44) — the bounded
    query token set broadcasts, the corpus scans once, and the whole
    token-token MaxSim matrix for one (q, d) pair is nested scan-side HOFs
    (transform/aggregate/array_max), no Python, no shuffle of vectors;
    only (query_id, doc_id, int) rows reach the groupBy. Swap the hashed
    vectors for model outputs and an LSH/IVF candidate filter upstream
    (q45/q358) and this is the production ColBERT re-rank stage."""
    docs = load_table(spark, sf_dir, "documents")
    # Round-11 flop hoist (guide §1.2 "per-task work"), bit-identical
    # arithmetic: (a) md5(w) is computed ONCE per token and fed to the
    # 8-dim vector lambda — the original _TOKVEC_SPARK re-ran md5 inside
    # the per-dimension lambda, 8x per token (128 md5 calls per doc);
    # (b) each side's L2 norm rides along as a column/struct field, so the
    # per-(query-token, doc-token) cosine is ONE 8-dim dot + qn*un + a
    # divide instead of three dots + two sqrts. norm(a) and the hoisted
    # field run the same fold (acc + x*x, left-to-right, sqrt) on the same
    # values, and the denominator keeps the qn * un order, so every
    # floor(cos * 1e12 + 0.5) is unchanged — pinned by the oracle.
    tokvec_h = ("transform(sequence(0, {d}), c ->"
                " (cast(conv(substring({h}, c*2 + 1, 2), 16, 10)"
                "  as double) - 127.5D) / 127.5D)")
    norm_sql = ("sqrt(aggregate({v}, cast(0.0 as double),"
                " (acc, x) -> acc + x * x))")
    qtok = (docs.filter(F.col("doc_id") < N_QUERIES)
            .select(F.col("doc_id").alias("query_id"),
                    F.explode(F.expr(
                        f"slice(split(text, ' '), 1, {LI_QTOK})")).alias("w"))
            .select("query_id", F.expr(
                tokvec_h.format(d=LI_DIM - 1, h="md5(w)")).alias("qv"))
            .select("query_id", "qv",
                    F.expr(norm_sql.format(v="qv")).alias("qn")))
    # corpus side through the small-file parallelism gate: the token
    # vectors, the broadcast join and the MaxSim HOF all run scan-side,
    # so an unsplittable one-row-group fixture file would otherwise
    # execute the whole scoring chain in ONE task (queries stay on the
    # un-gated scan: 5 rows, broadcast)
    dvec = scan_parallel(docs).select(
        "doc_id",
        F.expr(
            "transform(transform("
            f"slice(split(text, ' '), 1, {LI_DTOK}), w -> md5(w)), "
            f"h -> {tokvec_h.format(d=LI_DIM - 1, h='h')})").alias("dv0")
    ).select(
        "doc_id",
        F.expr("transform(dv0, u -> struct(u AS u, "
               + norm_sql.format(v="u") + " AS un))").alias("dvs"))
    maxcos = F.array_max(F.transform(
        F.col("dvs"),
        lambda s: dot(F.col("qv"), s["u"]) / (F.col("qn") * s["un"])))
    scored = (
        dvec.join(F.broadcast(qtok), F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id",
                F.floor(maxcos * F.lit(1e12) + F.lit(0.5)).cast("bigint")
                .alias("it")))
    agg = (scored.groupBy("query_id", "doc_id")
           .agg(F.sum("it").alias("sum_it"),
                F.count("*").cast("bigint").alias("n_q")))
    w = Window.partitionBy("query_id").orderBy(F.col("sum_it").desc(),
                                               "doc_id")
    return (agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= LI_TOPK)
            .select("query_id", "doc_id",
                    F.round(F.col("sum_it").cast("double") / F.lit(1e12)
                            / F.col("n_q"), 6).alias("maxsim_score"),
                    "rank"))


# ---------------------------------------------------------------------------
# q421 — greedy k-center coreset selection (Gonzalez farthest-point)
# ---------------------------------------------------------------------------

KCENTER_K = 5

_DOT_DUCK = "list_dot_product({a}, {b})"
# the q44-proven bit-identical twin of list_dot_product (left-to-right fold)
_DOT_SPARK = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
              " cast(0.0 as double), (acc, x) -> acc + x)")


def _d2(a: str, b: str, dot: str = _DOT_DUCK) -> str:
    """Squared L2 as dot(a,a) - 2*dot(a,b) + dot(b,b) — three bit-exact
    dots combined left-associatively, identical in both engines (avoids
    engine-specific zip/subtract list kernels)."""
    return (f"{dot.format(a=a, b=a)} - 2 * {dot.format(a=a, b=b)}"
            f" + {dot.format(a=b, b=b)}")


def _kcenter_oracle() -> str:
    ctes = [
        "cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        """acc1 AS (SELECT 1 AS round, vec_id, 0.0 AS radius, v
           FROM cv WHERE vec_id = 0)""",
    ]
    for r in range(2, KCENTER_K + 1):
        p = r - 1
        ctes.append(f"""md{r} AS (
           SELECT c.vec_id, min({_d2('c.v', 's.v')}) AS mind
           FROM cv c, acc{p} s
           WHERE c.vec_id NOT IN (SELECT vec_id FROM acc{p})
           GROUP BY c.vec_id)""")
        ctes.append(f"""pick{r} AS (
           SELECT {r} AS round, m.vec_id, m.mind AS radius, c.v
           FROM md{r} m JOIN cv c USING (vec_id)
           ORDER BY m.mind DESC, m.vec_id LIMIT 1)""")
        ctes.append(f"acc{r} AS (SELECT * FROM acc{p}"
                    f" UNION ALL SELECT * FROM pick{r})")
    return ("WITH " + ",\n".join(ctes)
            + f"""
SELECT CAST(round AS INTEGER) AS round, vec_id, round(radius, 6) AS radius
FROM acc{KCENTER_K} ORDER BY round""")


def _kcenter_pick(c: DataFrame, selected: DataFrame, r: int) -> DataFrame:
    """One k-center round: min-dist of every unselected point to the
    broadcast center set, argmax via TakeOrdered(1). Factored so the plan
    gate (tests/test_plan_quality.py) can assert the per-round shape —
    the query's own returned frame is post-localCheckpoint and opaque."""
    d2 = F.expr(_d2("v", "sv", dot=_DOT_SPARK))
    # explicit broadcast: `selected` is <= k rows but arrives as a
    # driver-literal frame (LogicalRDD, no size stats), which the planner
    # would otherwise anti-join as a full corpus shuffle (guide §3.1:
    # estimates are wrong after driver round-trips — hint what you know)
    rem = c.join(F.broadcast(selected.select("vec_id")),
                 "vec_id", "left_anti")
    mind = (rem.crossJoin(F.broadcast(
                selected.select(F.col("v").alias("sv"))))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id").agg(F.min("d2").alias("mind")))
    return (mind.orderBy(F.col("mind").desc(), "vec_id").limit(1)
            .join(c, "vec_id")
            .select(F.lit(r).alias("round"), "vec_id",
                    F.col("mind").alias("radius"), "v"))


@register("q421_kcenter_coreset", sql=_kcenter_oracle())
def q421_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez farthest-point) coreset selection over the
    embedding corpus — the classic diverse-subset / data-pruning picker
    (2-approximation of the k-center radius): seed with vec_id 0, then k-1
    rounds of "add the point farthest from every selected center".
    ``radius`` is the selected point's distance-to-coreset at pick time —
    the monotonically shrinking coverage radius. Unlike MMR (q416, bounded
    candidate list), every round here scans the FULL corpus: min-dist to
    the <=k broadcast centers is scan-side arithmetic, and the argmax is a
    TakeOrdered(1) (per-partition top-1, then a k-row merge — never a
    single-partition window). Unrolled-CTE oracle replays every pick.

    100 TB lens: k linear scans with a k-row broadcast each — the exact
    shape of distributed k-center in practice; no corpus shuffle, driver
    state is one row per round."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.select("vec_id",
                   _as_double(F.col("embedding")).alias("v")).localCheckpoint()
    # Round-11 note: a driver-literal `selected` (collect each pick,
    # re-enter as createDataFrame) was tried and MEASURED SLOWER (1.6 s ->
    # 3.1 s steady): the python-RDD-backed frame has no size stats, and
    # every per-round broadcast build becomes its own collect job. The
    # checkpoint chain keeps the <= k-row state in executor memory where
    # both broadcast builds read it without extra jobs.
    selected = (c.filter(F.col("vec_id") == 0)
                .select(F.lit(1).alias("round"), "vec_id",
                        F.lit(0.0).alias("radius"), "v")
                .localCheckpoint())
    for r in range(2, KCENTER_K + 1):
        pick = _kcenter_pick(c, selected, r)
        selected = selected.unionByName(pick).localCheckpoint()
    return selected.select(F.col("round").cast("int").alias("round"),
                           "vec_id", F.round("radius", 6).alias("radius")
                           ).orderBy("round")


# ---------------------------------------------------------------------------
# q439 — hybrid fusion over the SCALE-PATH retriever (IVF-pruned dense leg)
# ---------------------------------------------------------------------------

Q439_NPROBE = 4
Q439_CELLS = 16

_COS_D = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
          " * sqrt(list_dot_product({b}, {b})))")

_Q439_SQL = f"""
WITH qd AS (SELECT doc_id AS query_id,
                   list_distinct(string_split(text, ' ')) AS qw
            FROM documents WHERE doc_id < {N_QUERIES}),
     cd AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS cw
            FROM documents),
     lex AS (
       SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY jac DESC, doc_id) AS rank
       FROM (SELECT query_id, doc_id,
                    CAST(len(list_intersect(qw, cw)) AS DOUBLE)
                      / len(list_distinct(list_concat(qw, cw))) AS jac
             FROM qd JOIN cd ON query_id <> doc_id) s),
     emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
     cbv AS (
       SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
              e AS cv
       FROM (SELECT vec_id, e FROM emb ORDER BY vec_id
             LIMIT {Q439_CELLS})),
     assign AS (
       SELECT vec_id, cell,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell ASC) AS rn
       FROM (SELECT emb.vec_id, cbv.cell,
                    {_COS_D.format(a='emb.e', b='cbv.cv')} AS sim
             FROM emb, cbv)),
     corpus_cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
     probes AS (SELECT vec_id AS query_id, cell
                FROM assign WHERE vec_id < {N_QUERIES}
                  AND rn <= {Q439_NPROBE}),
     vec AS (
       SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, doc_id) AS rank
       FROM (SELECT p.query_id, cc.vec_id AS doc_id,
                    {_COS_D.format(a='q.e', b='c.e')} AS s
             FROM probes p
             JOIN corpus_cells cc USING (cell)
             JOIN emb q ON q.vec_id = p.query_id
             JOIN emb c ON c.vec_id = cc.vec_id
             WHERE cc.vec_id <> p.query_id) t),
     tagged AS (
       SELECT query_id, doc_id, rank, 'lexical' AS modality
       FROM lex WHERE rank <= {FUSE_DEPTH}
       UNION ALL
       SELECT query_id, doc_id, rank, 'vector' FROM vec
       WHERE rank <= {FUSE_DEPTH}),
     fused AS (
       SELECT query_id, doc_id,
              sum(1.0 / ({RRF_K} + rank)) AS score,
              CAST(count(*) AS BIGINT) AS n_lists,
              CAST(coalesce(max(CASE WHEN modality = 'lexical'
                                     THEN rank END), -1) AS BIGINT)
                AS lexical_rank,
              CAST(coalesce(max(CASE WHEN modality = 'vector'
                                     THEN rank END), -1) AS BIGINT)
                AS vector_rank
       FROM tagged GROUP BY query_id, doc_id),
     ranked AS (
       SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id)
                   AS fused_rank
       FROM fused)
SELECT query_id, doc_id, round(score, 6) AS rrf_score, n_lists,
       lexical_rank, vector_rank, CAST(fused_rank AS INTEGER) AS fused_rank
FROM ranked WHERE fused_rank <= {FUSE_TOPK}
"""


@register("q439_rrf_ivf_hybrid_search", sql=_Q439_SQL)
def q439_rrf_ivf_hybrid_search(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """q412's composability claim, proven: the SAME rrf_fuse consumes the
    IVF-pruned dense ranking (q437's deterministic 16-cell codebook,
    nprobe=4 — the retriever that scales to 10^9 vectors) in place of
    brute force, with the lexical leg unchanged. Fusion is retriever-
    agnostic because it sees only (query_id, doc_id, rank) — the exact
    swap a deployment makes when the corpus outgrows exact search, and
    the fused output degrades only where IVF pruning actually lost a
    neighbor (compare against q412 row-for-row).

    100 TB lens: the dense leg touches ~nprobe/num_cells of the corpus
    against a 16-row broadcast codebook; fusion stays depth-bounded."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(N_QUERIES))

    e = emb.selectExpr("vec_id", "cast(embedding as array<double>) AS e")
    w_cell = W.orderBy("vec_id")
    seeds = (e.orderBy("vec_id").limit(Q439_CELLS)
             .withColumn("cell", (F.row_number().over(w_cell) - 1)
                         .cast("int"))
             .select("cell", F.col("e").alias("cv")))
    cos_ec = F.expr(_DOT_SPARK.format(a="e", b="cv")
                    + f" / (sqrt({_DOT_SPARK.format(a='e', b='e')})"
                    + f" * sqrt({_DOT_SPARK.format(a='cv', b='cv')}))")
    w_asg = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cell")
    assign = (e.crossJoin(F.broadcast(seeds))
              .select("vec_id", "cell", cos_ec.alias("sim"))
              .withColumn("rn", F.row_number().over(w_asg))
              .localCheckpoint())
    corpus_cells = assign.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("doc_id"), "cell")
    probes = (assign.filter((F.col("vec_id") < N_QUERIES)
                            & (F.col("rn") <= Q439_NPROBE))
              .select(F.col("vec_id").alias("query_id"), "cell"))
    cos_qc = F.expr(_DOT_SPARK.format(a="qe", b="ce")
                    + f" / (sqrt({_DOT_SPARK.format(a='qe', b='qe')})"
                    + f" * sqrt({_DOT_SPARK.format(a='ce', b='ce')}))")
    w_rank = W.partitionBy("query_id").orderBy(F.col("s").desc(), "doc_id")
    ivf_rank = (probes.join(corpus_cells, "cell")
                .filter(F.col("query_id") != F.col("doc_id"))
                .join(F.broadcast(
                    e.select(F.col("vec_id").alias("query_id"),
                             F.col("e").alias("qe"))), "query_id")
                .join(e.select(F.col("vec_id").alias("doc_id"),
                               F.col("e").alias("ce")), "doc_id")
                .select("query_id", "doc_id", cos_qc.alias("s"))
                .withColumn("rank", F.row_number().over(w_rank))
                .filter(F.col("rank") <= FUSE_DEPTH)
                .select("query_id", "doc_id", "rank"))
    return rrf_fuse({
        "lexical": lexical_rank(docs, qids),
        "vector": ivf_rank,
    })
