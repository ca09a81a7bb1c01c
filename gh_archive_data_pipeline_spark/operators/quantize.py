"""Product quantization (PQ) for the embedding corpus: train per-subspace
codebooks, encode vectors to byte codes, search by asymmetric distance
computation (ADC).

Reference parity: the reference pipeline has no vector plane at all (its
1,112 LoC are Airflow/ELT glue — see SURVEY.md §0); this module extends the
ANN family (operators/similarity.py: brute-force / SRP-LSH / IVF) with the
memory-side scale lever those paths lack. Scale contract, 100 TB lens:

- **Train** (``pq_train``): k-means per subspace, ALL subspaces trained in
  one distributed pass per Lloyd round (the per-row projection computes all
  8 sub-assignments; one explode + one partial-aggregated shuffle keyed on
  the 8x16-valued (subspace, cluster) pair). Driver state is the codebook —
  8 x 16 x 8 doubles, IVF-codebook-sized. Fixed rounds, deterministic
  seeds (first k vectors by vec_id), so the whole float sequence replays
  in the DuckDB oracle exactly like q149's Lloyd loop.
- **Encode** (``_codes_col``): one scan-side projection — each 64-dim float
  vector becomes 8 small ints (8 bytes at storage: 64x smaller than the
  512-byte raw vector). The codes table is what a 100 TB corpus keeps hot;
  raw vectors stay cold. No shuffle.
- **Search** (``adc_topk``): the query's 8x16 distance table is computed
  ONCE on the driver (128 floats, broadcast as literals into the plan);
  per-row ADC distance is 8 array lookups + 7 adds, pure JVM scan-side
  expressions over the codes column — the corpus never shuffles and the
  only movement is TakeOrdered's per-partition top-k. Composes with the
  IVF index (similarity.py) as IVF-PQ: probe prunes to nprobe cells,
  ADC ranks inside them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import fixture_memo, load_table

DIM = 64
M_SUB = 8          # subspaces
DSUB = DIM // M_SUB
K_PQ = 16          # centroids per subspace (codes fit 4 bits; stored as int)
ROUNDS = 3         # Lloyd rounds per subspace — fixed, replayable
ADC_TOPK = 10      # neighbours an ADC search returns


def _sub_expr(s: int) -> str:
    """SQL text for subvector ``s`` of the embedding column (1-based
    slice)."""
    return (f"slice(cast(embedding as array<double>), "
            f"{s * DSUB + 1}, {DSUB})")


def _argmin_cells(sub: str, centroids: list[list[float]]) -> str:
    """SQL text: array_min over (d2, j) structs for one subspace — same
    lexicographic-struct argmin idiom as linalg._argmin_cluster (SQL text,
    not Python lambdas: multiple pyspark-lambda HOFs in one projection
    collapse into one shared expression).

    Round 11 (guide §1.2 per-task work): the centroids are ONE nested
    array literal and the per-centroid distance is a transform() loop —
    the previous form unrolled k separate aggregate(zip_with(...)) trees
    per subspace (128 in q402's codes projection), which Catalyst had to
    analyze and Janino had to compile on every run. The loop body performs
    the IDENTICAL IEEE operations in the identical order per centroid
    (same zip_with pairs, same left-fold, same lexicographic array_min),
    so every d2/j is bit-equal to the unrolled form's."""
    carr = ("array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        for c in centroids) + ")")
    return (f"array_min(transform(sequence(0, {len(centroids) - 1}),"
            f" j -> struct(aggregate(zip_with({sub},"
            f" element_at({carr}, j + 1),"
            " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
            " AS d2, j AS j)))")


def pq_train(emb: DataFrame) -> list[list[list[float]]]:
    """Train the PQ codebook: per-subspace Lloyd k-means, all subspaces in
    one distributed pass per round. Returns ``codebooks[s][j]`` (length-DSUB
    centroid lists). Seeds are the subvectors of the first K_PQ vectors by
    vec_id — deterministic, replayable."""
    seed_rows = (emb.orderBy("vec_id").limit(K_PQ)
                 .selectExpr("cast(embedding as array<double>) AS e")
                 .collect())
    if len(seed_rows) < K_PQ:
        raise ValueError(
            f"pq_train: need >= {K_PQ} vectors, got {len(seed_rows)}")
    cbs = [[list(r.e[s * DSUB:(s + 1) * DSUB]) for r in seed_rows]
           for s in range(M_SUB)]
    emb = emb.select("vec_id", "embedding").localCheckpoint()
    for _ in range(ROUNDS):
        per_sub = [
            F.struct(
                F.lit(s).alias("s"),
                F.expr(_argmin_cells(_sub_expr(s), cbs[s]))
                .getField("j").alias("cluster"),
                F.expr(_sub_expr(s)).alias("sub"),
            )
            for s in range(M_SUB)
        ]
        sums = (emb.select(F.explode(F.array(*per_sub)).alias("t"))
                .select("t.s", "t.cluster", "t.sub")
                .groupBy("s", "cluster")
                .agg(F.count("*").alias("n"),
                     *[F.sum(F.col("sub").getItem(d)).alias(f"s{d}")
                       for d in range(DSUB)])
                .collect())
        by_key = {(r.s, r.cluster): r for r in sums}
        cbs = [
            [
                [float(by_key[(s, j)][f"s{d}"]) / by_key[(s, j)].n
                 for d in range(DSUB)]
                if (s, j) in by_key else cbs[s][j]   # empty cluster: keep
                for j in range(K_PQ)
            ]
            for s in range(M_SUB)
        ]
    return cbs


# One trained codebook per fixture state: q399 and q400 share one training
# pass per fixture.
@fixture_memo("embeddings")
def _cached_codebooks(spark: SparkSession,
                      sf_dir: str) -> list[list[list[float]]]:
    return pq_train(load_table(spark, sf_dir, "embeddings"))


def adc_topk(emb: DataFrame, codebooks: list[list[list[float]]],
             query: list[float],
             exclude_vec_id: int | None = None) -> DataFrame:
    """Top-k nearest vectors to ``query`` by ADC over PQ codes: the 8x16
    distance table is driver-computed (128 floats, literals in the plan);
    per-row distance is 8 lookups + 7 adds over the codes column. Returns
    (rank, vec_id, adc_dist, true_d2) with the true squared distance
    alongside for recall context. Ordering is total: (rounded adc, vec_id),
    rounded FIRST so near-ULP table noise can't flip a rank across
    engines."""
    m_sub = len(codebooks)
    table = [
        [sum((query[s * DSUB + d] - c[d]) ** 2 for d in range(DSUB))
         for c in codebooks[s]]
        for s in range(m_sub)
    ]
    # one projection computes code picks, ADC lookups AND the true
    # distance — no self-join of the corpus against its own encoding
    picks = [F.expr(_argmin_cells(_sub_expr(s), codebooks[s]))
             for s in range(m_sub)]
    adc = None
    for s in range(m_sub):
        tbl = F.expr("array(" + ",".join(f"{t!r}D" for t in table[s]) + ")")
        term = F.element_at(tbl, picks[s].getField("j") + 1)
        adc = term if adc is None else adc + term
    qarr = "array(" + ",".join(f"{float(x)!r}D" for x in query) + ")"
    true_d2 = F.expr(
        f"aggregate(zip_with(cast(embedding as array<double>), {qarr},"
        f" (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
    out = emb.select("vec_id", F.round(adc, 6).alias("adc_dist"),
                     F.round(true_d2, 6).alias("true_d2"))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    from pyspark.sql import Window
    w = Window.orderBy("adc_dist", "vec_id")
    return (out.orderBy("adc_dist", "vec_id").limit(ADC_TOPK)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .select("rank", "vec_id", "adc_dist", "true_d2"))


# ---------------------------------------------------------------------------
# Oracle replay (q390/q149 technique: unrolled fixed-round float sequence)
# ---------------------------------------------------------------------------

def _pq_train_ctes() -> str:
    """CTE text replaying pq_train: subvector rows, seeded codebook, and
    per-round (assignment, centroid-update) pairs with the exact (d2, j)
    lexicographic tie-break and empty-cluster carry-over of the Spark loop.
    Ends at ``c{rounds}`` (final codebook) and ``a{rounds + 1}`` (final
    assignment = the encode pass)."""
    rngd = f"range(1, {DSUB + 1})"
    stages = []
    for r in range(1, ROUNDS + 2):     # final round = encode assignment
        stages.append(f"""
    a{r} AS MATERIALIZED (
        SELECT vec_id, s, sub, cluster, d2 FROM (
            SELECT vec_id, s, sub, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, cluster) AS rn
            FROM (SELECT sb.vec_id, sb.s, sb.sub, c.j AS cluster,
                         list_sum(list_transform({rngd},
                             i -> (sb.sub[i] - c.c[i])
                                  * (sb.sub[i] - c.c[i]))) AS d2
                  FROM subs sb JOIN c{r - 1} c ON c.s = sb.s)
        ) WHERE rn = 1
    ),""")
        if r <= ROUNDS:
            stages.append(f"""
    c{r} AS MATERIALIZED (
        SELECT p.s, p.j, COALESCE(m.c, p.c) AS c
        FROM c{r - 1} p LEFT JOIN (
            SELECT s, cluster AS j, list(sd / cnt ORDER BY i) AS c
            FROM (SELECT s, cluster, t.i AS i, sum(sub[t.i]) AS sd,
                         count(*) AS cnt
                  FROM a{r}, LATERAL (SELECT unnest({rngd}) AS i) t
                  GROUP BY s, cluster, t.i)
            GROUP BY s, cluster
        ) m ON p.s = m.s AND p.j = m.j
    ),""")
    return f"""
    emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings),
    subs AS MATERIALIZED (
        SELECT vec_id, t.s AS s,
               e[t.s * {DSUB} + 1 : t.s * {DSUB} + {DSUB}] AS sub
        FROM emb, LATERAL (SELECT unnest(range(0, {M_SUB})) AS s) t
    ),
    c0 AS MATERIALIZED (
        SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1
                   AS j, sub AS c
        FROM subs
        WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {K_PQ})
    ),
    {''.join(stages)}
    _pq_end AS (SELECT 1)"""


def _pq_audit_oracle() -> str:
    return f"""
    WITH {_pq_train_ctes()}
    SELECT CAST(s AS INTEGER) AS subspace,
           CAST(cluster AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(d2), 6) AS avg_qerr
    FROM a{ROUNDS + 1}
    GROUP BY s, cluster
    ORDER BY subspace, cluster
    """


@register("q399_pq_codebook_audit", sql=_pq_audit_oracle())
def q399_pq_codebook_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ train + encode audit: per (subspace, cluster) — how many corpus
    vectors land in each code cell and their mean squared quantization
    error. Pins the whole train/encode plane (seeding, 3 Lloyd rounds with
    tie-breaks and empty-cluster carry, final assignment) against the
    unrolled DuckDB replay. Balanced cells + low qerr is what makes the
    8-byte code a usable 64x-compressed stand-in for the 512-byte raw
    vector at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = _cached_codebooks(spark, sf_dir)
    picks = [F.expr(_argmin_cells(_sub_expr(s), cbs[s])) for s in range(M_SUB)]
    per_sub = [
        F.struct(F.lit(s).alias("s"),
                 picks[s].getField("j").alias("cluster"),
                 picks[s].getField("d2").alias("d2"))
        for s in range(M_SUB)
    ]
    return (emb.select(F.explode(F.array(*per_sub)).alias("t"))
            .select("t.s", "t.cluster", "t.d2")
            .groupBy(F.col("s").cast("int").alias("subspace"),
                     F.col("cluster").cast("int").alias("cluster"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("d2"), 6).alias("avg_qerr"))
            .orderBy("subspace", "cluster"))


def _adc_oracle() -> str:
    rngd = f"range(1, {DSUB + 1})"
    return f"""
    WITH {_pq_train_ctes()},
    qv AS (SELECT vec_id AS qid, e AS qe FROM emb ORDER BY vec_id LIMIT 1),
    tbl AS MATERIALIZED (
        SELECT c.s, c.j,
               list_sum(list_transform({rngd},
                   i -> (qe[c.s * {DSUB} + i] - c.c[i])
                        * (qe[c.s * {DSUB} + i] - c.c[i]))) AS t
        FROM c{ROUNDS} c, qv
    ),
    adc AS (
        SELECT a.vec_id,
               list_sum(list(t.t ORDER BY a.s)) AS adc_raw
        FROM a{ROUNDS + 1} a JOIN tbl t ON t.s = a.s AND t.j = a.cluster
        GROUP BY a.vec_id
    ),
    truth AS (
        SELECT emb.vec_id,
               list_sum(list_transform(range(1, {DIM + 1}),
                   i -> (e[i] - qe[i]) * (e[i] - qe[i]))) AS td
        FROM emb, qv
    )
    SELECT CAST(row_number() OVER (ORDER BY round(adc_raw, 6), adc.vec_id)
                AS INTEGER) AS rank,
           adc.vec_id,
           round(adc_raw, 6) AS adc_dist,
           round(td, 6) AS true_d2
    FROM adc JOIN truth ON truth.vec_id = adc.vec_id, qv
    WHERE adc.vec_id != qid
    ORDER BY round(adc_raw, 6), adc.vec_id LIMIT {ADC_TOPK}
    """


@register("q400_pq_adc_search", sql=_adc_oracle())
def q400_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for the lowest-vec_id query vector over the PQ-encoded
    corpus (query excluded from candidates), true squared distance
    alongside — the IVF-PQ search half: distances come from 8 lookups into
    the query's driver-computed table, never from the raw vectors. The
    oracle replays training and scores the same lookups, so ranks, ADC
    distances and true distances must all agree."""
    emb = load_table(spark, sf_dir, "embeddings")
    cbs = _cached_codebooks(spark, sf_dir)
    qrow = (emb.orderBy("vec_id").limit(1)
            .selectExpr("vec_id", "cast(embedding as array<double>) AS e")
            .collect()[0])
    return adc_topk(emb, cbs, list(qrow.e),
                    exclude_vec_id=int(qrow.vec_id))


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells prune the corpus, ADC ranks inside probed cells
# ---------------------------------------------------------------------------

NUM_CELLS = 16
NPROBE = 4
TOPK_IVFPQ = 5


def _codes_col(codebooks: list[list[list[float]]]):
    """The PQ codes array as a reusable column expression."""
    return F.array(*[
        F.expr(_argmin_cells(_sub_expr(s), codebooks[s])).getField("j")
        for s in range(len(codebooks))
    ])


def _ivf_pq_oracle() -> str:
    rngd = f"range(1, {DSUB + 1})"
    return f"""
    WITH {_pq_train_ctes()},
    cbv AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
               e AS cv
        FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {NUM_CELLS})
    ),
    assign AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell ASC) AS rn
        FROM (SELECT emb.vec_id, cbv.cell,
                     list_dot_product(e, cv)
                       / (sqrt(list_dot_product(e, e))
                          * sqrt(list_dot_product(cv, cv))) AS sim
              FROM emb, cbv)
    ),
    corpus_cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell
               FROM assign WHERE vec_id < 10 AND rn <= {NPROBE}),
    tabq AS MATERIALIZED (
        SELECT q.vec_id AS query_id, c.s, c.j,
               list_sum(list_transform({rngd},
                   i -> (q.e[c.s * {DSUB} + i] - c.c[i])
                        * (q.e[c.s * {DSUB} + i] - c.c[i]))) AS t
        FROM c{ROUNDS} c, (SELECT vec_id, e FROM emb WHERE vec_id < 10) q
    ),
    cand AS (
        SELECT p.query_id, cc.vec_id AS neighbor_id
        FROM probes p JOIN corpus_cells cc USING (cell)
        WHERE cc.vec_id != p.query_id
    ),
    adc AS (
        SELECT cd.query_id, cd.neighbor_id,
               list_sum(list(t.t ORDER BY a.s)) AS adc_raw
        FROM cand cd
        JOIN a{ROUNDS + 1} a ON a.vec_id = cd.neighbor_id
        JOIN tabq t ON t.query_id = cd.query_id AND t.s = a.s
                   AND t.j = a.cluster
        GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, neighbor_id, round(adc_raw, 6) AS adc_dist,
           CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY round(adc_raw, 6),
                                                neighbor_id) AS rnk
          FROM adc)
    WHERE rnk <= {TOPK_IVFPQ}
    ORDER BY query_id, rank
    """


@register("q402_ivf_pq_search", sql=_ivf_pq_oracle())
def q402_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composed scale path for ANN at 100 TB. Coarse IVF cells
    (q71/q358's deterministic first-16 codebook, cosine assignment) prune
    each query to nprobe=4 cells; inside probed cells, candidates are
    ranked by ADC over the PQ codes (q399's codebook) — so the search
    touches ~nprobe/num_cells of the corpus AND reads only 8-byte codes,
    never raw vectors. Driver state: the 16-vector coarse codebook, the
    8x16x8 PQ codebook, and the 10 query rows (each query's 128-float ADC
    table is computed driver-side and broadcast). The oracle replays the
    coarse assignment (the proven q358 tie-break) and the PQ training, then
    scores the identical lookups."""
    import numpy as np

    from .similarity import _as_double, _unit_argmax_udf

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = _cached_codebooks(spark, sf_dir)
    seeds = (emb.orderBy("vec_id").limit(NUM_CELLS)
             .select(_as_double(F.col("embedding")).alias("v")).collect())
    coarse = np.array([r.v for r in seeds])
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _unit_argmax_udf(coarse)(_as_double(F.col("embedding")))
        .alias("cell"),
        _codes_col(cbs).alias("codes"))

    # driver-side probe + per-query ADC tables (10 bounded query rows)
    qrows = (emb.filter(F.col("vec_id") < 10)
             .selectExpr("vec_id", "cast(embedding as array<double>) AS e")
             .collect())
    import math
    cn = [math.sqrt(sum(c * c for c in coarse[i])) for i in range(NUM_CELLS)]
    probe_rows, tab_rows = [], []
    for r in qrows:
        q = list(r.e)
        qn = math.sqrt(sum(x * x for x in q))
        sims = [sum(q[d] * coarse[i][d] for d in range(DIM)) / (qn * cn[i])
                for i in range(NUM_CELLS)]
        order = sorted(range(NUM_CELLS), key=lambda i: (-sims[i], i))
        probe_rows += [(int(r.vec_id), int(i)) for i in order[:NPROBE]]
        tab = [
            sum((q[s * DSUB + d] - c[d]) ** 2 for d in range(DSUB))
            for s in range(M_SUB) for c in cbs[s]
        ]
        tab_rows.append((int(r.vec_id), tab))
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    qtab = spark.createDataFrame(tab_rows, "query_id long, tab array<double>")

    adc = F.expr(" + ".join(
        f"tab[{s} * {K_PQ} + codes[{s}]]" for s in range(M_SUB)))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (corpus.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(qtab), "query_id")
            .select("query_id", "neighbor_id",
                    F.round(adc, 6).alias("adc_dist"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOPK_IVFPQ)
            .select("query_id", "neighbor_id", "adc_dist", "rank"))


# ---------------------------------------------------------------------------
# q411 — ANN recall report: measure, don't guess (flat ADC & IVF-PQ vs exact)
# ---------------------------------------------------------------------------

RECALL_KS = (1, 5, 10)
N_QUERIES = 10


def _recall_oracle() -> str:
    rngd = f"range(1, {DSUB + 1})"
    per_method = []
    for method, ranked in (("adc_flat", "rf"), ("ivf_pq", "ri")):
        cells = ", ".join(
            f"""struct_pack(k := {k}, mean_recall := round(
                sum(CASE WHEN rank_e <= {k} AND rank_m <= {k}
                    THEN 1 ELSE 0 END) / (10.0 * {k}), 6))"""
            for k in RECALL_KS)
        per_method.append(f"""
        SELECT '{method}' AS method, u.s.k AS k, u.s.mean_recall
        FROM (SELECT [{cells}] AS ss
              FROM exact e JOIN {ranked} m USING (query_id, neighbor_id)),
             LATERAL (SELECT unnest(ss) AS s) u""")
    union = " UNION ALL ".join(per_method)
    return f"""
    WITH {_pq_train_ctes()},
    cbv AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
               e AS cv
        FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {NUM_CELLS})
    ),
    assign AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell ASC) AS rn
        FROM (SELECT emb.vec_id, cbv.cell,
                     list_dot_product(e, cv)
                       / (sqrt(list_dot_product(e, e))
                          * sqrt(list_dot_product(cv, cv))) AS sim
              FROM emb, cbv)
    ),
    corpus_cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell
               FROM assign WHERE vec_id < {N_QUERIES} AND rn <= {NPROBE}),
    qv AS (SELECT vec_id AS query_id, e AS qe FROM emb
           WHERE vec_id < {N_QUERIES}),
    tabq AS MATERIALIZED (
        SELECT q.query_id, c.s, c.j,
               list_sum(list_transform({rngd},
                   i -> (q.qe[c.s * {DSUB} + i] - c.c[i])
                        * (q.qe[c.s * {DSUB} + i] - c.c[i]))) AS t
        FROM c{ROUNDS} c, qv q
    ),
    exact AS (
        SELECT query_id, neighbor_id, rnk AS rank_e FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_sum(list_transform(
                           range(1, {DIM + 1}),
                           i -> (c.e[i] - q.qe[i]) * (c.e[i] - q.qe[i]))), 6),
                           c.vec_id) AS rnk
            FROM emb c, qv q WHERE c.vec_id != q.query_id
        ) WHERE rnk <= {max(RECALL_KS)}
    ),
    adc_all AS (
        SELECT t.query_id, a.vec_id AS neighbor_id,
               list_sum(list(t.t ORDER BY a.s)) AS adc_raw
        FROM a{ROUNDS + 1} a JOIN tabq t ON t.s = a.s AND t.j = a.cluster
        GROUP BY t.query_id, a.vec_id
    ),
    rf AS (
        SELECT query_id, neighbor_id, rnk AS rank_m FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(adc_raw, 6),
                                               neighbor_id) AS rnk
            FROM adc_all WHERE neighbor_id != query_id
        ) WHERE rnk <= {max(RECALL_KS)}
    ),
    ri AS (
        SELECT query_id, neighbor_id, rnk AS rank_m FROM (
            SELECT ad.query_id, ad.neighbor_id,
                   row_number() OVER (PARTITION BY ad.query_id
                                      ORDER BY round(ad.adc_raw, 6),
                                               ad.neighbor_id) AS rnk
            FROM adc_all ad
            JOIN corpus_cells cc ON cc.vec_id = ad.neighbor_id
            JOIN probes p ON p.query_id = ad.query_id AND p.cell = cc.cell
            WHERE ad.neighbor_id != ad.query_id
        ) WHERE rnk <= {max(RECALL_KS)}
    )
    SELECT method, CAST(k AS INTEGER) AS k, mean_recall
    FROM ({union})
    ORDER BY method, k
    """


@register("q411_ann_recall_report", sql=_recall_oracle())
def q411_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess — the ANN plane's own evaluation harness as an
    oracle query: recall@1/5/10 of (a) full-scan ADC over PQ codes and
    (b) IVF-PQ (nprobe=4) against the exact L2 top-10, averaged over the
    10 query vectors. Every ranking uses the same (rounded distance,
    neighbor_id) total order, intersections are integer counts, and
    mean_recall is one exact division — so the whole evaluation replays
    bit-for-bit. This quantifies the quality the scale paths trade for
    their pruning: IVF-PQ's recall gap at nprobe=4 is the measured price
    of touching ~nprobe/num_cells of the corpus."""
    import math

    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = _cached_codebooks(spark, sf_dir)
    kmax = max(RECALL_KS)

    # 10 bounded query rows -> exact frames, ADC tables, coarse probes
    qrows = (emb.filter(F.col("vec_id") < N_QUERIES)
             .selectExpr("vec_id", "cast(embedding as array<double>) AS e")
             .collect())
    qdf = spark.createDataFrame(
        [(int(r.vec_id), list(r.e)) for r in qrows],
        "query_id long, qe array<double>")
    seeds = (emb.orderBy("vec_id").limit(NUM_CELLS)
             .selectExpr("cast(embedding as array<double>) AS v").collect())
    coarse = [list(r.v) for r in seeds]
    cn = [math.sqrt(sum(c * c for c in cv)) for cv in coarse]
    probe_rows, tab_rows = [], []
    for r in qrows:
        q = list(r.e)
        qn = math.sqrt(sum(x * x for x in q))
        sims = [sum(q[d] * coarse[i][d] for d in range(DIM)) / (qn * cn[i])
                for i in range(NUM_CELLS)]
        order = sorted(range(NUM_CELLS), key=lambda i: (-sims[i], i))
        probe_rows += [(int(r.vec_id), int(i)) for i in order[:NPROBE]]
        tab_rows.append((int(r.vec_id), [
            sum((q[s * DSUB + d] - c[d]) ** 2 for d in range(DSUB))
            for s in range(M_SUB) for c in cbs[s]]))
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    qtab = spark.createDataFrame(tab_rows, "query_id long, tab array<double>")

    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    true_d2 = F.expr(
        "aggregate(zip_with(cast(embedding as array<double>), qe,"
        " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
    exact = (emb.crossJoin(F.broadcast(qdf))
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id"),
                     F.round(true_d2, 6).alias("d"))
             .withColumn("rank_e", F.row_number().over(w))
             .filter(F.col("rank_e") <= kmax)
             .select("query_id", "neighbor_id", "rank_e"))

    from .similarity import _as_double, _unit_argmax_udf
    import numpy as np
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        _unit_argmax_udf(np.array(coarse))(_as_double(F.col("embedding")))
        .alias("cell"),
        _codes_col(cbs).alias("codes"))
    adc = F.expr(" + ".join(
        f"tab[{s} * {K_PQ} + codes[{s}]]" for s in range(M_SUB)))

    def ranked(cand):
        return (cand.filter(F.col("neighbor_id") != F.col("query_id"))
                .select("query_id", "neighbor_id",
                        F.round(adc, 6).alias("d"))
                .withColumn("rank_m", F.row_number().over(w))
                .filter(F.col("rank_m") <= kmax)
                .select("query_id", "neighbor_id", "rank_m"))

    flat = ranked(corpus.crossJoin(F.broadcast(qdf.select("query_id")))
                  .join(F.broadcast(qtab), "query_id"))
    ivf = ranked(corpus.join(F.broadcast(probes), "cell")
                 .join(F.broadcast(qtab), "query_id"))

    def recall_row(method_frame, name):
        inter = exact.join(method_frame, ["query_id", "neighbor_id"])
        aggs = [
            F.coalesce(F.sum(((F.col("rank_e") <= k)
                              & (F.col("rank_m") <= k)).cast("long")),
                       F.lit(0)).alias(f"i{k}")
            for k in RECALL_KS
        ]
        cells = F.array(*[
            F.struct(F.lit(k).alias("k"),
                     F.round(F.col(f"i{k}") / (10.0 * k), 6)
                     .alias("mean_recall"))
            for k in RECALL_KS
        ])
        return (inter.agg(*aggs)
                .select(F.lit(name).alias("method"),
                        F.explode(cells).alias("t"))
                .select("method", F.col("t.k").cast("int").alias("k"),
                        "t.mean_recall"))

    return (recall_row(flat, "adc_flat")
            .unionByName(recall_row(ivf, "ivf_pq"))
            .orderBy("method", "k"))


# ---------------------------------------------------------------------------
# Scalar (int8) quantization — the other point on the compression curve
# ---------------------------------------------------------------------------

SQ_LEVELS = 255  # 8-bit affine grid: code in [0, 255]


def sq_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension (dim, vmin, vmax) over the corpus — the scalar-quant
    calibration table. One linear pass; posexplode fans each row into
    DIM (dim_id, value) pairs that partial-aggregate map-side down to
    a DIM-row table (broadcastable; at cluster scale this is the
    artifact you'd persist next to the PQ codebooks). Components past DIM
    are dropped."""
    v = emb.select(
        F.posexplode(F.expr("cast(embedding as array<double>)"))
        .alias("pos", "x")).where(F.col("pos") < DIM)
    return (v.select((F.col("pos") + 1).alias("dim"), "x")
            .groupBy("dim")
            .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax")))


_Q413_SQL = f"""
WITH v AS (
  SELECT vec_id, unnest(range(1, {DIM + 1})) AS dim,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings),
stats AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM v GROUP BY dim),
j AS (
  SELECT v.dim, v.x, s.vmin, s.vmax,
         (s.vmax - s.vmin) / {float(SQ_LEVELS)!r} AS scale
  FROM v JOIN stats s USING (dim)),
coded AS (
  SELECT dim, x, vmin, vmax, scale,
         CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(least({SQ_LEVELS}, greatest(0,
                     floor((x - vmin) / scale + 0.5))) AS BIGINT)
         END AS code
  FROM j),
err AS (
  SELECT dim, vmin, vmax, code,
         x - (vmin + code * scale) AS e
  FROM coded)
SELECT CAST(dim AS INTEGER) AS dim,
       round(vmin, 6) AS vmin, round(vmax, 6) AS vmax,
       CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
       round(CAST(sum(CAST(floor(e * e * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1e12, 6) AS sse,
       round(max(abs(e)), 6) AS max_abs_err
FROM err GROUP BY dim, vmin, vmax
"""


@register("q413_scalar_quant_audit", sql=_Q413_SQL)
def q413_scalar_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus with a per-dimension
    reconstruction audit: affine [vmin, vmax] -> [0, 255] grid, code =
    floor((x-vmin)/scale + 0.5) (pure IEEE ops, replayed bit-for-bit by the
    oracle), reporting codes_used, SSE (exact-integer summed at 1e12
    scaling — the registry's floor-cents convention) and max |error| per
    dimension. Scalar quant is the 4x-compression sibling of PQ (q399):
    per-dim independent, zero codebook training, exact on the grid points.

    100 TB lens: calibration is one map-side-combined pass to a 64-row
    broadcastable table; encode/audit is a second linear pass joined
    against that broadcast — no corpus shuffle anywhere (the only shuffled
    rows are the 64-group partial aggregates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = (emb.select(F.posexplode(F.expr("cast(embedding as array<double>)"))
                    .alias("pos", "x"))
         .select((F.col("pos") + 1).alias("dim"), "x"))
    stats = sq_dim_stats(emb)
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(float(SQ_LEVELS))
    j = v.join(F.broadcast(stats), "dim").withColumn("scale", scale)
    code = F.when(F.col("scale") == 0, F.lit(0).cast("bigint")).otherwise(
        F.least(F.lit(SQ_LEVELS).cast("bigint"),
                F.greatest(F.lit(0).cast("bigint"),
                           F.floor((F.col("x") - F.col("vmin"))
                                   / F.col("scale") + F.lit(0.5)))))
    coded = j.withColumn("code", code)
    e = F.col("x") - (F.col("vmin") + F.col("code") * F.col("scale"))
    err = coded.withColumn("e", e).withColumn(
        "ie2", F.floor(F.col("e") * F.col("e") * F.lit(1e12) + F.lit(0.5))
        .cast("bigint"))
    return (err.groupBy("dim", "vmin", "vmax")
            .agg(F.countDistinct("code").cast("bigint").alias("codes_used"),
                 F.round(F.sum("ie2").cast("double") / F.lit(1e12), 6)
                 .alias("sse"),
                 F.round(F.max(F.abs(F.col("e"))), 6).alias("max_abs_err"))
            .select(F.col("dim").cast("int").alias("dim"),
                    F.round("vmin", 6).alias("vmin"),
                    F.round("vmax", 6).alias("vmax"),
                    "codes_used", "sse", "max_abs_err"))


# ---------------------------------------------------------------------------
# q432 — Matryoshka truncation eval: recall of prefix-dim cosine rankings
# ---------------------------------------------------------------------------

MRL_DIMS = [8, 16, 32]   # prefix widths evaluated against the full 64
MRL_K = 10
MRL_QUERIES = 10


def _mrl_rank_sql(d: int | None) -> str:
    """Ranked cosine top-k CTE body for prefix width d (None = full)."""
    vec = ("embedding::DOUBLE[]" if d is None
           else f"(embedding::DOUBLE[])[1:{d}]")
    return f"""
      SELECT q.query_id, c.neighbor_id,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_dot_product(q.v, c.v)
                                  / (sqrt(list_dot_product(q.v, q.v))
                                     * sqrt(list_dot_product(c.v, c.v)))
                                  DESC, c.neighbor_id) AS r
      FROM (SELECT vec_id AS query_id, {vec} AS v FROM embeddings
            WHERE vec_id < {MRL_QUERIES}) q
      JOIN (SELECT vec_id AS neighbor_id, {vec} AS v FROM embeddings) c
        ON q.query_id <> c.neighbor_id"""


def _q432_oracle() -> str:
    parts = []
    for d in MRL_DIMS:
        parts.append(f"""
        SELECT {d} AS dims,
               round(CAST(count(*) AS DOUBLE)
                     / ({MRL_QUERIES} * {MRL_K}), 6) AS recall_at_{MRL_K}
        FROM (SELECT query_id, neighbor_id FROM ({_mrl_rank_sql(d)}) x
              WHERE r <= {MRL_K}) v
        JOIN (SELECT query_id, neighbor_id FROM ({_mrl_rank_sql(None)}) y
              WHERE r <= {MRL_K}) t
        USING (query_id, neighbor_id)""")
    return ("SELECT CAST(dims AS INTEGER) AS dims, recall_at_10 FROM ("
            + " UNION ALL ".join(parts) + ") u ORDER BY dims")


@register("q432_matryoshka_recall", sql=_q432_oracle())
def q432_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/truncation evaluation: how much of the full-64-dim exact
    cosine top-10 survives when vectors are truncated to their first
    8/16/32 dimensions — the measurement that picks a serving dimension
    (store prefix dims hot, full vectors cold; re-rank the prefix
    candidates with the full vector). Same measure-don't-guess shape as
    q411: every ranking shares the (cosine, id) total order on bit-exact
    folds, intersections are integer counts, one exact division per row.

    100 TB lens: each variant is a brute-force broadcast ranking (q44's
    shape — corpus never shuffles); the eval set is bounded, and the
    intersection join runs on (query_id, neighbor_id) int pairs."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")

    def ranked(d: int | None) -> DataFrame:
        vec = F.expr("cast(embedding as array<double>)" if d is None
                     else f"slice(cast(embedding as array<double>), 1, {d})")
        q = (emb.filter(F.col("vec_id") < MRL_QUERIES)
             .select(F.col("vec_id").alias("query_id"), vec.alias("qv")))
        c = emb.select(F.col("vec_id").alias("neighbor_id"), vec.alias("cv"))
        cos = (F.expr("aggregate(zip_with(qv, cv, (x, y) -> x * y),"
                      " cast(0.0 as double), (a, x) -> a + x)")
               / (F.sqrt(F.expr("aggregate(zip_with(qv, qv, (x, y) -> x * y),"
                                " cast(0.0 as double), (a, x) -> a + x)"))
                  * F.sqrt(F.expr(
                      "aggregate(zip_with(cv, cv, (x, y) -> x * y),"
                      " cast(0.0 as double), (a, x) -> a + x)"))))
        w = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                   "neighbor_id")
        return (c.join(F.broadcast(q),
                       F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id", cos.alias("s"))
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= MRL_K)
                .select("query_id", "neighbor_id"))

    truth = ranked(None).localCheckpoint()
    out = None
    for d in MRL_DIMS:
        row = (ranked(d).join(truth, ["query_id", "neighbor_id"])
               .agg(F.round(F.count("*").cast("double")
                            / F.lit(float(MRL_QUERIES * MRL_K)), 6)
                    .alias(f"recall_at_{MRL_K}"))
               .select(F.lit(d).cast("int").alias("dims"),
                       f"recall_at_{MRL_K}"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dims")


# ---------------------------------------------------------------------------
# q433 — label-ground-truth retrieval eval (MRR / precision@k)
# ---------------------------------------------------------------------------

EVAL_K = 10


@register(
    "q433_label_retrieval_eval",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v, label
               FROM embeddings WHERE vec_id < {MRL_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v, label
          FROM embeddings),
    ranked AS (
      SELECT q.query_id, q.label AS qlabel, c.label AS clabel,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY list_dot_product(q.v, c.v)
                                  / (sqrt(list_dot_product(q.v, q.v))
                                     * sqrt(list_dot_product(c.v, c.v)))
                                  DESC, c.neighbor_id) AS r
      FROM q JOIN c ON q.query_id <> c.neighbor_id),
    top AS (SELECT * FROM ranked WHERE r <= {EVAL_K}),
    per_q AS (
      SELECT query_id, CAST(max(qlabel) AS INTEGER) AS label,
             CAST(coalesce(min(CASE WHEN clabel = qlabel THEN r END), -1)
                  AS BIGINT) AS first_rel_rank,
             CAST(coalesce(floor(1e12 / min(CASE WHEN clabel = qlabel
                                                 THEN r END) + 0.5), 0)
                  AS BIGINT) AS rr_q,
             CAST(sum(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_relevant
      FROM top GROUP BY query_id)
    SELECT query_id, label, first_rel_rank,
           round(CAST(rr_q AS DOUBLE) / 1e12, 6) AS reciprocal_rank,
           round(CAST(n_relevant AS DOUBLE) / {EVAL_K}, 6)
             AS precision_at_{EVAL_K},
           round(CAST(sum(rr_q) OVER () AS DOUBLE)
                 / 1e12 / {MRL_QUERIES}, 6) AS mrr
    FROM per_q ORDER BY query_id
    """,
)
def q433_label_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation with REAL ground truth: the embeddings table
    carries a label column, so 'relevant' = same label as the query — per
    query, the rank of the first same-label neighbor in the exact cosine
    top-10, its reciprocal rank (1e12-quantized so the corpus MRR is an
    exact integer sum), and precision@10; the window column repeats the
    corpus MRR on every row. Complements q411/q432 (which measure an
    index against exact search) by measuring exact search against
    LABELS — the end-to-end quality number a retrieval system reports.

    100 TB lens: q44's broadcast brute-force shape; everything after the
    rank is bounded per-query arithmetic."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < MRL_QUERIES)
         .selectExpr("vec_id AS query_id",
                     "cast(embedding as array<double>) AS qv",
                     "label AS qlabel"))
    c = emb.selectExpr("vec_id AS neighbor_id",
                       "cast(embedding as array<double>) AS cv",
                       "label AS clabel")
    cos = F.expr(
        "aggregate(zip_with(qv, cv, (x, y) -> x * y), cast(0.0 as double),"
        " (a, x) -> a + x)"
        " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y),"
        "          cast(0.0 as double), (a, x) -> a + x))"
        "    * sqrt(aggregate(zip_with(cv, cv, (x, y) -> x * y),"
        "            cast(0.0 as double), (a, x) -> a + x)))")
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                               "neighbor_id")
    top = (c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
           .select("query_id", "neighbor_id", "qlabel", "clabel",
                   cos.alias("s"))
           .withColumn("r", F.row_number().over(w))
           .filter(F.col("r") <= EVAL_K))
    rel_rank = F.min(F.when(F.col("clabel") == F.col("qlabel"),
                            F.col("r")))
    per_q = (top.groupBy("query_id")
             .agg(F.max("qlabel").cast("int").alias("label"),
                  F.coalesce(rel_rank, F.lit(-1)).cast("bigint")
                  .alias("first_rel_rank"),
                  F.coalesce(F.floor(F.lit(1e12) / rel_rank + F.lit(0.5)),
                             F.lit(0)).cast("bigint").alias("rr_q"),
                  F.sum((F.col("clabel") == F.col("qlabel")).cast("int"))
                  .cast("bigint").alias("n_relevant")))
    return (per_q.select(
        "query_id", "label", "first_rel_rank",
        F.round(F.col("rr_q").cast("double") / F.lit(1e12), 6)
        .alias("reciprocal_rank"),
        F.round(F.col("n_relevant").cast("double") / F.lit(float(EVAL_K)), 6)
        .alias(f"precision_at_{EVAL_K}"),
        F.round(F.sum("rr_q").over(Window.partitionBy()).cast("double")
                / F.lit(1e12) / F.lit(float(MRL_QUERIES)), 6).alias("mrr"))
        .orderBy("query_id"))


# ---------------------------------------------------------------------------
# q437 — IVF nprobe tuning curve: recall vs corpus fraction touched
# ---------------------------------------------------------------------------

NPROBE_SWEEP = [1, 2, 4, 8]

_COS_DUCK = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
             " * sqrt(list_dot_product({b}, {b})))")


def _q437_oracle() -> str:
    cos_qc = _COS_DUCK.format(a="q.e", b="c.e")
    cos_ec = _COS_DUCK.format(a="emb.e", b="cbv.cv")
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cbv AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             e AS cv
      FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {NUM_CELLS})),
    assign AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cell ASC) AS rn
      FROM (SELECT emb.vec_id, cbv.cell, {cos_ec} AS sim FROM emb, cbv)),
    corpus_cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cell, rn
               FROM assign WHERE vec_id < {MRL_QUERIES}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos_qc} DESC, c.vec_id) AS r
        FROM emb q JOIN emb c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {MRL_QUERIES}) t WHERE r <= {MRL_K}),
    sweep(np) AS (SELECT unnest([{", ".join(map(str, NPROBE_SWEEP))}])),
    cand AS (
      SELECT s.np, p.query_id, cc.vec_id AS neighbor_id
      FROM sweep s
      JOIN probes p ON p.rn <= s.np
      JOIN corpus_cells cc USING (cell)
      WHERE cc.vec_id <> p.query_id),
    ranked AS (
      SELECT cd.np, cd.query_id, cd.neighbor_id,
             row_number() OVER (PARTITION BY cd.np, cd.query_id
                                ORDER BY {_COS_DUCK.format(a="q.e", b="c.e")}
                                  DESC, cd.neighbor_id) AS r
      FROM cand cd
      JOIN emb q ON q.vec_id = cd.query_id
      JOIN emb c ON c.vec_id = cd.neighbor_id),
    rec AS (
      SELECT r.np, CAST(count(*) AS BIGINT) AS hits
      FROM (SELECT np, query_id, neighbor_id FROM ranked
            WHERE r <= {MRL_K}) r
      JOIN truth t USING (query_id, neighbor_id)
      GROUP BY r.np),
    touched AS (
      SELECT np, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY np),
    corpus AS (SELECT count(*) AS n FROM emb)
    SELECT CAST(s.np AS INTEGER) AS nprobe,
           round(CAST(coalesce(r.hits, 0) AS DOUBLE)
                 / ({MRL_QUERIES} * {MRL_K}), 6) AS recall_at_{MRL_K},
           round(CAST(t.n_cand AS DOUBLE)
                 / ({MRL_QUERIES} * corpus.n), 6) AS corpus_fraction
    FROM sweep s
    LEFT JOIN rec r ON r.np = s.np
    JOIN touched t ON t.np = s.np, corpus
    ORDER BY nprobe
    """


@register("q437_ivf_nprobe_sweep", sql=_q437_oracle())
def q437_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@10 of cell-pruned EXACT cosine search
    (deterministic first-16 coarse codebook, the q358/q402 assignment)
    against the full exact top-10, swept over nprobe in {1, 2, 4, 8},
    next to the corpus fraction each setting actually touches — the
    recall-vs-cost trade a deployment picks its nprobe from, measured
    instead of assumed (q411's discipline applied to the knob itself).

    100 TB lens: assignment is one corpus scan against the 16-row
    broadcast codebook; the sweep multiplies only candidate-ranking work
    (bounded by nprobe/num_cells of the corpus per query), and recall
    arithmetic is integer counts over (query, neighbor) int pairs."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.selectExpr("vec_id", "cast(embedding as array<double>) AS e")
    w_cell = Window.orderBy("vec_id")
    seeds = (e.orderBy("vec_id").limit(NUM_CELLS)
             .withColumn("cell", (F.row_number().over(w_cell) - 1)
                         .cast("int"))
             .select("cell", F.col("e").alias("cv")))
    cos_ec = F.expr(
        "aggregate(zip_with(e, cv, (x, y) -> x * y), cast(0.0 as double),"
        " (a, x) -> a + x)"
        " / (sqrt(aggregate(zip_with(e, e, (x, y) -> x * y),"
        "          cast(0.0 as double), (a, x) -> a + x))"
        "    * sqrt(aggregate(zip_with(cv, cv, (x, y) -> x * y),"
        "            cast(0.0 as double), (a, x) -> a + x)))")
    w_asg = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cell")
    assign = (e.crossJoin(F.broadcast(seeds))
              .select("vec_id", "cell", cos_ec.alias("sim"))
              .withColumn("rn", F.row_number().over(w_asg))
              .localCheckpoint())
    corpus_cells = assign.filter(F.col("rn") == 1).select("vec_id", "cell")
    probes = (assign.filter(F.col("vec_id") < MRL_QUERIES)
              .select(F.col("vec_id").alias("query_id"), "cell", "rn"))
    cos_qc = F.expr(
        "aggregate(zip_with(qe, ce, (x, y) -> x * y), cast(0.0 as double),"
        " (a, x) -> a + x)"
        " / (sqrt(aggregate(zip_with(qe, qe, (x, y) -> x * y),"
        "          cast(0.0 as double), (a, x) -> a + x))"
        "    * sqrt(aggregate(zip_with(ce, ce, (x, y) -> x * y),"
        "            cast(0.0 as double), (a, x) -> a + x)))")
    q = e.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")) \
         .filter(F.col("query_id") < MRL_QUERIES)
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("e").alias("ce"))
    w_rank = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                    "neighbor_id")
    truth = (c.join(F.broadcast(q),
                    F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id", cos_qc.alias("s"))
             .withColumn("r", F.row_number().over(w_rank))
             .filter(F.col("r") <= MRL_K)
             .select("query_id", "neighbor_id").localCheckpoint())
    sweep = spark.createDataFrame([(n,) for n in NPROBE_SWEEP], "np int")
    # ONE plan for the whole sweep (no per-point driver actions): the
    # sweep joins in as a column, ranking windows partition by (np, query)
    cand = (probes.crossJoin(F.broadcast(sweep))
            .filter(F.col("rn") <= F.col("np"))
            .join(corpus_cells.withColumnRenamed("vec_id", "neighbor_id"),
                  "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("np", "query_id", "neighbor_id"))
    w_np = Window.partitionBy("np", "query_id").orderBy(F.col("s").desc(),
                                                        "neighbor_id")
    ranked = (cand.join(F.broadcast(q), "query_id")
              .join(c, "neighbor_id")
              .select("np", "query_id", "neighbor_id", cos_qc.alias("s"))
              .withColumn("r", F.row_number().over(w_np))
              .filter(F.col("r") <= MRL_K)
              .select("np", "query_id", "neighbor_id"))
    hits = (ranked.join(truth, ["query_id", "neighbor_id"])
            .groupBy("np").agg(F.count("*").alias("hits")))
    n_cand = cand.groupBy("np").agg(F.count("*").alias("n_cand"))
    corpus_n = e.agg(F.count("*").alias("nc"))
    return (sweep.join(hits, "np", "left").join(n_cand, "np")
            .crossJoin(F.broadcast(corpus_n))
            .select(F.col("np").cast("int").alias("nprobe"),
                    F.round(F.coalesce(F.col("hits"), F.lit(0))
                            .cast("double")
                            / F.lit(float(MRL_QUERIES * MRL_K)), 6)
                    .alias(f"recall_at_{MRL_K}"),
                    F.round(F.col("n_cand").cast("double")
                            / (F.lit(float(MRL_QUERIES)) * F.col("nc")), 6)
                    .alias("corpus_fraction"))
            .orderBy("nprobe"))


# ---------------------------------------------------------------------------
# q438 — scalar-quant search parity: recall of int8-dequantized rankings
# ---------------------------------------------------------------------------

_SQ_VEC_DUCK = f"""
  list_transform(range(1, {DIM + 1}), d ->
    CASE WHEN s.scales[d] = 0 THEN s.los[d]
         ELSE s.los[d] + least({'{SQL}'}, greatest(0,
                floor((v[d] - s.los[d]) / s.scales[d] + 0.5)))
              * s.scales[d] END)"""


def _q438_oracle() -> str:
    from .quantize import SQ_LEVELS  # self-import safe at call time

    sq_vec = _SQ_VEC_DUCK.replace("{SQL}", str(SQ_LEVELS))
    cos = ("list_dot_product(q.{col}, c.{col})"
           " / (sqrt(list_dot_product(q.{col}, q.{col}))"
           " * sqrt(list_dot_product(c.{col}, c.{col})))")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    stats AS (
      SELECT list(vmin ORDER BY dim) AS los,
             list((vmax - vmin) / {float(SQ_LEVELS)!r} ORDER BY dim)
               AS scales
      FROM (SELECT dim, min(x) AS vmin, max(x) AS vmax
            FROM (SELECT unnest(range(1, {DIM + 1})) AS dim,
                         unnest(v) AS x FROM v) u
            GROUP BY dim) t),
    deq AS (
      SELECT vec_id, v, {sq_vec} AS dv FROM v, stats s),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos.format(col='v')} DESC,
                                           c.vec_id) AS r
        FROM deq q JOIN deq c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {MRL_QUERIES}) t WHERE r <= {MRL_K}),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos.format(col='dv')} DESC,
                                           c.vec_id) AS r
        FROM deq q JOIN deq c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {MRL_QUERIES}) t WHERE r <= {MRL_K})
    SELECT CAST({MRL_K} AS INTEGER) AS k,
           round(CAST((SELECT count(*) FROM approx a
                       JOIN truth t USING (query_id, neighbor_id))
                      AS DOUBLE) / ({MRL_QUERIES} * {MRL_K}), 6)
             AS recall_at_{MRL_K}
    """


@register("q438_scalar_quant_recall", sql=_q438_oracle())
def q438_scalar_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-quant plane's own eval (completing q413 the way
    q400/q411 complete q399): recall@10 of cosine search over
    int8-DEQUANTIZED vectors against the full-precision exact top-10 —
    the number that says whether 4x-compressed storage changes answers.
    Quantize/dequantize replays q413's exact grid law per dimension; both
    rankings share the (cosine, id) total order on bit-exact folds.

    100 TB lens: the 64-row calibration table broadcasts (as a single
    collected struct of literals here — codebook-sized); both rankings
    are q44-shape broadcast scans."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    stats = (sq_dim_stats(emb).orderBy("dim")
             .collect())
    los = [float(r.vmin) for r in stats]
    scales = [(float(r.vmax) - float(r.vmin)) / float(SQ_LEVELS)
              for r in stats]
    los_arr = "array(" + ",".join(f"{x!r}D" for x in los) + ")"
    sc_arr = "array(" + ",".join(f"{x!r}D" for x in scales) + ")"
    dq = F.expr(
        f"transform(sequence(1, {DIM}), d -> CASE"
        f" WHEN element_at({sc_arr}, d) = 0D THEN element_at({los_arr}, d)"
        f" ELSE element_at({los_arr}, d) + least(cast({SQ_LEVELS} as bigint),"
        f"   greatest(cast(0 as bigint),"
        f"     floor((element_at(cast(embedding as array<double>), d)"
        f"            - element_at({los_arr}, d))"
        f"           / element_at({sc_arr}, d) + 0.5D)))"
        f"      * element_at({sc_arr}, d) END)")
    deq = emb.select("vec_id",
                     F.expr("cast(embedding as array<double>)").alias("v"),
                     dq.alias("dv")).localCheckpoint()

    def topk(col: str) -> DataFrame:
        q = (deq.filter(F.col("vec_id") < MRL_QUERIES)
             .select(F.col("vec_id").alias("query_id"),
                     F.col(col).alias("qv")))
        c = deq.select(F.col("vec_id").alias("neighbor_id"),
                       F.col(col).alias("cv"))
        cos = F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> x * y),"
            " cast(0.0 as double), (a, x) -> a + x)"
            " / (sqrt(aggregate(zip_with(qv, qv, (x, y) -> x * y),"
            "          cast(0.0 as double), (a, x) -> a + x))"
            "    * sqrt(aggregate(zip_with(cv, cv, (x, y) -> x * y),"
            "            cast(0.0 as double), (a, x) -> a + x)))")
        w = Window.partitionBy("query_id").orderBy(F.col("s").desc(),
                                                   "neighbor_id")
        return (c.join(F.broadcast(q),
                       F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id", cos.alias("s"))
                .withColumn("r", F.row_number().over(w))
                .filter(F.col("r") <= MRL_K)
                .select("query_id", "neighbor_id"))

    inter = topk("dv").join(topk("v"), ["query_id", "neighbor_id"])
    return inter.agg(
        F.lit(MRL_K).cast("int").alias("k"),
        F.round(F.count("*").cast("double")
                / F.lit(float(MRL_QUERIES * MRL_K)), 6)
        .alias(f"recall_at_{MRL_K}"))
