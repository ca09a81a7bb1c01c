"""Distributed linear algebra on the embeddings table: PCA top component by
power iteration.

Scale contract (round-8 shape): because the embedding dimension is small
(64), the corpus-sized work is ONE pass — an Arrow-batched BLAS Gram
accumulation (per-batch ``mat.T @ mat`` syrk, a 64x64 + 64 + 1 partial per
batch) merged by a tiny distributed elementwise sum — after which all 15
power-iteration rounds run on the driver against the collected 64x64
matrix in microseconds. The corpus is never collected and never shuffles
(the only shuffle is 4,161 (index, partial-sum) rows); at 100 TB this is
one scan TOTAL, versus one scan per iteration for the loop-in-Spark shape
this replaced — the classic small-dim covariance-PCA trade. K-means keeps
the per-iteration distributed pass (assignments depend nonlinearly on the
evolving codebook, so no sufficient statistic exists), with driver state
bounded at the k x dim codebook.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..sources.readers import load_table
from .similarity import _as_double

DIM = 64
ITERATIONS = 15
KMEANS_K = 8       # k-means clusters, seeded by the first k vec_ids
KMEANS_ROUNDS = 5  # Lloyd rounds, replayed unrolled by the oracle


def gram_stats(emb: DataFrame) -> tuple[int, list[float], list[list[float]]]:
    """One distributed pass over the embedding column returning the PCA
    sufficient statistics ``(n, m, S)``: row count, per-dimension sums
    ``m_j = sum_i e_ij`` and the uncentered Gram matrix
    ``S_jk = sum_i e_ij * e_ik``.

    Per Arrow batch, the partial is a single BLAS ``mat.T @ mat`` (the
    vectorized fast path — this is the documented exception to "UDFs are
    the slow path"); partials are ``dim*dim + dim + 1`` doubles regardless
    of batch size, merged with a distributed elementwise sum whose shuffle
    is ``dim*(dim+1)`` rows total. Driver state is the collected 64x64
    matrix — bounded like the IVF codebook."""
    import pandas as pd

    def partials(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            flat = np.concatenate([mat.sum(axis=0), (mat.T @ mat).ravel()])
            yield pd.DataFrame({"n": [mat.shape[0]], "flat": [flat.tolist()]})

    parts = (emb.select(_as_double(F.col("embedding")).alias("embedding"))
             .mapInPandas(partials, "n long, flat array<double>"))
    rows = (parts.select("n", F.posexplode("flat").alias("i", "x"))
            .groupBy("i")
            .agg(F.sum("x").alias("s"), F.sum("n").alias("nn"))
            .collect())
    if not rows:
        raise ValueError("gram_stats: empty embedding input")
    # every exploded row carries its partial's n, so any group's nn is the
    # total row count multiplied by nothing — each partial contributes its
    # n exactly once per group
    by_i = {int(r["i"]): float(r["s"]) for r in rows}
    n = int(rows[0]["nn"])
    m = [by_i[j] for j in range(DIM)]
    s = [[by_i[DIM + j * DIM + k] for k in range(DIM)] for j in range(DIM)]
    return n, m, s


def pca_top_component(emb: DataFrame) -> tuple[list[float], float, float]:
    """Leading eigenvector of the (uncentered-storage, centered-math)
    covariance via power iteration on the :func:`gram_stats` sufficient
    statistics. Returns (unit eigenvector, eigenvalue, explained-variance
    share). The covariance action never materializes centered vectors:
    with S = sum(e e^T), m = sum(e), mu = m/n,

        (A.v)_j = (S.v)_j - (mu.v) m_j - mu_j (m.v) + n mu_j (mu.v)

    which is the expansion of sum_i e_ij d_i - mu_j sum_i d_i with
    d_i = e_i.v - mu.v — identical math to the per-iteration distributed
    pass this replaced, now in driver floats (the oracle replays this
    exact sequence)."""
    n_rows, m, s = gram_stats(emb)
    n = float(n_rows)
    mu = [x / n for x in m]
    # Deterministic start: normalized all-ones (never orthogonal to the top
    # component in practice; a zero Rayleigh quotient would flag it loudly).
    v = [1.0 / math.sqrt(DIM)] * DIM
    eigenvalue = 0.0
    for _ in range(ITERATIONS):
        mu_dot_v = sum(mu[k] * v[k] for k in range(DIM))
        m_dot_v = sum(m[k] * v[k] for k in range(DIM))
        w = [
            sum(s[j][k] * v[k] for k in range(DIM))
            - mu_dot_v * m[j] - mu[j] * m_dot_v + n * mu[j] * mu_dot_v
            for j in range(DIM)
        ]
        nrm = math.sqrt(sum(x * x for x in w))
        v = [x / nrm for x in w]
        eigenvalue = nrm / n  # Rayleigh quotient after normalization step

    # total variance from the same statistics: Var_j = S_jj/n - mu_j^2
    total_var = sum(s[j][j] / n - mu[j] * mu[j] for j in range(DIM))
    return v, eigenvalue, eigenvalue / total_var


def _pca_oracle() -> str:
    """Replay of :func:`pca_top_component`: the Gram statistics computed in
    SQL (sequential sums vs Spark's BLAS-partial distributed sums — the
    usual summation-order noise, ~1e-13 relative, nine orders below the
    6-decimal output rounding), then all 15 driver-float iterations
    unrolled as MATERIALIZED CTEs computing the identical IEEE double
    sequence. Deterministic by construction: all-ones init, fixed rounds."""
    rng = f"range(1, {DIM + 1})"
    stages = []
    for k in range(1, ITERATIONS + 1):
        stages.append(f"""
    i{k} AS MATERIALIZED (
        SELECT list_transform(w, x -> x / nrm) AS v, nrm / n AS eig
        FROM (
            SELECT n, list_transform({rng}, j ->
                       list_sum(list_transform({rng}, kk -> s[j][kk] * v[kk]))
                       - mdv * m[j] - mu[j] * mv + n * mu[j] * mdv) AS w
            FROM (
                SELECT n, m, mu, s, v,
                       list_sum(list_transform({rng},
                           kk -> mu[kk] * v[kk])) AS mdv,
                       list_sum(list_transform({rng},
                           kk -> m[kk] * v[kk])) AS mv
                FROM i{k - 1}, gram
            )
        ) tw,
        LATERAL (SELECT sqrt(list_sum(list_transform(w, x -> x * x)))
                 AS nrm) tn
    ),""")
    return f"""
    WITH emb AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    gram AS MATERIALIZED (
        SELECT nn.n, mm.m, list_transform(mm.m, x -> x / nn.n) AS mu, ss.s
        FROM (SELECT count(*)::DOUBLE AS n FROM emb) nn,
             (SELECT (SELECT list(mj ORDER BY j)
                      FROM (SELECT t.j AS j, sum(e[t.j]) AS mj
                            FROM emb, LATERAL (SELECT unnest({rng}) AS j) t
                            GROUP BY t.j)) AS m) mm,
             (SELECT (SELECT list(sr ORDER BY j)
                      FROM (SELECT j, list(sjk ORDER BY k) AS sr
                            FROM (SELECT tj.j AS j, tk.k AS k,
                                         sum(e[tj.j] * e[tk.k]) AS sjk
                                  FROM emb,
                                       LATERAL (SELECT unnest({rng}) AS j) tj,
                                       LATERAL (SELECT unnest({rng}) AS k) tk
                                  GROUP BY tj.j, tk.k)
                            GROUP BY j)) AS s) ss
    ),
    i0 AS (SELECT list_transform({rng}, i -> 1.0 / sqrt({DIM}.0)) AS v,
           0.0 AS eig),
    {''.join(stages)}
    jmax AS (
        SELECT t.j AS j
        FROM i{ITERATIONS}, LATERAL (SELECT unnest({rng}) AS j) t
        ORDER BY abs(v[t.j]) DESC, t.j ASC LIMIT 1
    ),
    tv AS (
        SELECT list_sum(list_transform({rng},
                   j -> s[j][j] / n - mu[j] * mu[j])) AS total_var
        FROM gram
    )
    SELECT CAST(t.j - 1 AS INTEGER) AS dim_idx,
           round(CASE WHEN v[jm.j] < 0 THEN -v[t.j] ELSE v[t.j] END, 6)
               AS loading,
           round(eig, 6) AS eigenvalue,
           round(eig / total_var, 6) AS var_share
    FROM i{ITERATIONS}, jmax jm, tv,
         LATERAL (SELECT unnest({rng}) AS j) t
    ORDER BY dim_idx
    """


@register("q146_pca_power_iteration", sql=_pca_oracle())
def q146_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA leading component of the embedding corpus by power iteration —
    one corpus pass (BLAS Gram partials, :func:`gram_stats`) plus a driver
    loop, oracle-paired via the fixed-round float-sequence replay
    (q390/q391's technique), with unit tests additionally pinning the
    result against NumPy (exact eigenvector match on gapped data,
    Rayleigh-quotient-at-lambda1 bound on the near-isotropic fixture).
    Output: one row per dimension with the loading, plus the
    eigenvalue/explained-variance share repeated for context. Sign is fixed
    by making the largest-|loading| entry positive."""
    emb = load_table(spark, sf_dir, "embeddings")
    v, eigenvalue, share = pca_top_component(emb)
    flip = -1.0 if v[max(range(DIM), key=lambda j: abs(v[j]))] < 0 else 1.0
    rows = [
        (j, round(flip * v[j], 6), round(eigenvalue, 6), round(share, 6))
        for j in range(DIM)
    ]
    return spark.createDataFrame(
        rows, "dim_idx int, loading double, eigenvalue double, var_share double"
    )


def _argmin_cluster(centroids: list[list[float]]):
    """JVM argmin over k centroids: array_min over (distance², j) structs —
    the struct comparison is lexicographic, so the index rides along free.
    The k distance HOFs are built as SQL text, not Python lambdas: multiple
    pyspark-lambda HOFs in one projection collapse into one shared expression
    (all k distances would silently become centroid 0's).

    Round 11 (guide §1.2, the quantize._argmin_cells change): ONE
    transform() loop over a nested centroid literal instead of k unrolled
    aggregate(zip_with) trees — identical IEEE ops in identical order per
    centroid, so cluster/d2 are bit-equal while Catalyst analyzes and
    Janino compiles a k× smaller tree."""
    carr = ("array(" + ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
        for c in centroids) + ")")
    best = (f"array_min(transform(sequence(0, {len(centroids) - 1}),"
            " j -> struct(aggregate(zip_with(cast(embedding as array<double>),"
            f" element_at({carr}, j + 1),"
            " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
            " AS d2, j AS j)))")
    return (F.expr(best).getField("j").alias("cluster"),
            F.expr(best).getField("d2").alias("d2"))


def kmeans(emb: DataFrame) -> tuple[list[list[float]], DataFrame]:
    """Lloyd's k-means over the embedding column. Same scale contract as
    pca_top_component: per-iteration driver state is the k×dim codebook
    (collected — bounded and small, like the IVF codebook in
    operators/similarity.py), and each iteration is ONE partial-aggregated
    shuffle on the k-valued cluster key. Seeds are the first k vectors by
    vec_id (deterministic, replayable)."""
    seed_rows = (emb.orderBy("vec_id").limit(KMEANS_K)
                 .select(_as_double(F.col("embedding")).alias("e")).collect())
    centroids = [list(r.e) for r in seed_rows]
    emb = emb.select("vec_id", "embedding").localCheckpoint()
    for _ in range(KMEANS_ROUNDS):
        cluster, _d2 = _argmin_cluster(centroids)
        sums = (
            emb.select(cluster, _as_double(F.col("embedding")).alias("e"))
            .groupBy("cluster")
            .agg(F.count("*").alias("n"),
                 *[F.sum(F.col("e").getItem(d)).alias(f"s{d}")
                   for d in range(DIM)])
            .collect()
        )
        by_j = {r.cluster: r for r in sums}
        centroids = [
            [float(by_j[j][f"s{d}"]) / by_j[j].n for d in range(DIM)]
            if j in by_j else centroids[j]          # empty cluster: keep seed
            for j in range(len(centroids))
        ]
    cluster, d2 = _argmin_cluster(centroids)
    assigned = emb.select("vec_id", cluster, d2)
    return centroids, assigned


def _kmeans_oracle() -> str:
    """Unrolled replay of :func:`kmeans`: per Lloyd round, an assignment
    CTE (argmin over the k centroids with the same (d2, j) lexicographic
    tie-break as the Spark struct-min) and a centroid CTE (per-cluster
    per-dim mean, COALESCE keeping the previous centroid for an empty
    cluster, exactly like the Spark loop). Deterministic by construction:
    seeds are the first k vectors by vec_id, 5 fixed rounds; the only
    engine divergence is distributed-vs-sequential summation order, ~1e-13
    relative against the 6-decimal output rounding."""
    rng = f"range(1, {DIM + 1})"
    stages = []
    for r in range(1, KMEANS_ROUNDS + 2):   # last round = final assignment
        stages.append(f"""
    a{r} AS MATERIALIZED (
        SELECT vec_id, e, cluster, d2 FROM (
            SELECT vec_id, e, cluster, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster) AS rn
            FROM (SELECT emb.vec_id, emb.e, c.j AS cluster,
                         list_sum(list_transform({rng},
                             i -> (emb.e[i] - c.c[i])
                                  * (emb.e[i] - c.c[i]))) AS d2
                  FROM emb, c{r - 1} c)
        ) WHERE rn = 1
    ),""")
        if r <= KMEANS_ROUNDS:
            stages.append(f"""
    c{r} AS MATERIALIZED (
        SELECT p.j, COALESCE(m.c, p.c) AS c
        FROM c{r - 1} p LEFT JOIN (
            SELECT cluster AS j, list(sd / cnt ORDER BY i) AS c
            FROM (SELECT cluster, t.i AS i, sum(e[t.i]) AS sd,
                         count(*) AS cnt
                  FROM a{r}, LATERAL (SELECT unnest({rng}) AS i) t
                  GROUP BY cluster, t.i)
            GROUP BY cluster
        ) m ON p.j = m.j
    ),""")
    return f"""
    WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
    c0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, e AS c
        FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {KMEANS_K})
    ),
    {''.join(stages)}
    dummy AS (SELECT 1)
    SELECT CAST(cluster AS INTEGER) AS cluster,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(d2), 6) AS mean_sq_dist
    FROM a{KMEANS_ROUNDS + 1}
    GROUP BY cluster
    ORDER BY cluster
    """


@register("q149_kmeans_clusters", sql=_kmeans_oracle())
def q149_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, 5 Lloyd iterations) over the embedding corpus —
    oracle-paired since round 8 via the unrolled Lloyd replay (assignment
    argmin with the exact (d2, cluster) tie-break, per-cluster means,
    empty-cluster carry-over), with the NumPy unit test still pinning
    assignments and inertia against an independent implementation.
    Output: per-cluster size and mean squared distance (inertia
    contribution)."""
    emb = load_table(spark, sf_dir, "embeddings")
    _centroids, assigned = kmeans(emb)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").cast("bigint").alias("n"),
             F.round(F.avg("d2"), 6).alias("mean_sq_dist"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Multi-component PCA: deflation on the driver-side covariance (q403)
# ---------------------------------------------------------------------------

N_COMP = 3


def pca_components(
        emb: DataFrame) -> tuple[list[list[float]], list[float], list[float]]:
    """Top N_COMP principal components by power iteration WITH
    deflation — all on the driver against the one-pass :func:`gram_stats`
    statistics (the centered covariance C = S/n - mu mu^T is a 64x64
    driver matrix; each found component is subtracted as C <- C - eig v
    v^T). Corpus cost is ONE scan regardless of N_COMP. Returns
    (components, eigenvalues, mu); each component's sign is canonical
    (largest-|loading| entry positive) — deflation is sign-invariant, so
    the flip is safe to apply inside the loop."""
    n_rows, m, s = gram_stats(emb)
    n = float(n_rows)
    mu = [x / n for x in m]
    c = [[s[j][k] / n - mu[j] * mu[k] for k in range(DIM)]
         for j in range(DIM)]
    comps: list[list[float]] = []
    eigs: list[float] = []
    for _ in range(N_COMP):
        v = [1.0 / math.sqrt(DIM)] * DIM
        nrm = 0.0
        for _ in range(ITERATIONS):
            w = [sum(c[j][k] * v[k] for k in range(DIM)) for j in range(DIM)]
            nrm = math.sqrt(sum(x * x for x in w))
            v = [x / nrm for x in w]
        if v[max(range(DIM), key=lambda j: abs(v[j]))] < 0:
            v = [-x for x in v]
        comps.append(v)
        eigs.append(nrm)
        c = [[c[j][k] - nrm * v[j] * v[k] for k in range(DIM)]
             for j in range(DIM)]
    return comps, eigs, mu


def _pca_proj_oracle() -> str:
    """Replay of :func:`pca_components` + the per-label projection report:
    the same gram CTE as q146's oracle, the covariance matrix as a 64x64
    list-of-lists, and per component 15 matvec-normalize rounds, a
    canonical sign flip, then a deflation stage — every float in the same
    IEEE order as the driver loop."""
    rng = f"range(1, {DIM + 1})"
    parts = []
    for p in range(1, N_COMP + 1):
        parts.append(f"""
    p{p}i0 AS (SELECT list_transform({rng}, i -> 1.0 / sqrt({DIM}.0)) AS v,
               0.0 AS eig),""")
        for t in range(1, ITERATIONS + 1):
            parts.append(f"""
    p{p}i{t} AS MATERIALIZED (
        SELECT list_transform(w, x -> x / nrm) AS v, nrm AS eig
        FROM (SELECT list_transform({rng}, j ->
                  list_sum(list_transform({rng}, k -> c[j][k] * v[k]))) AS w
              FROM p{p}i{t - 1}, cc{p - 1}) tw,
        LATERAL (SELECT sqrt(list_sum(list_transform(w, x -> x * x)))
                 AS nrm) tn
    ),""")
        parts.append(f"""
    comp{p} AS MATERIALIZED (
        SELECT CASE WHEN v[jm.j] < 0
                    THEN list_transform(v, x -> -x) ELSE v END AS v,
               eig
        FROM p{p}i{ITERATIONS},
             (SELECT t.j AS j
              FROM p{p}i{ITERATIONS},
                   LATERAL (SELECT unnest({rng}) AS j) t
              ORDER BY abs(v[t.j]) DESC, t.j ASC LIMIT 1) jm
    ),
    cc{p} AS MATERIALIZED (
        SELECT list_transform({rng}, j -> list_transform({rng},
                   k -> c[j][k] - eig * v[j] * v[k])) AS c
        FROM cc{p - 1}, comp{p}
    ),""")
    proj_units = ",\n".join(
        f"""    proj{p} AS (
        SELECT {p} AS component, emb.label,
               list_sum(list_transform({rng}, i -> e[i] * v[i]))
               - (SELECT list_sum(list_transform({rng}, k -> mu[k] * v[k]))
                  FROM comp{p}, gram) AS proj,
               (SELECT eig FROM comp{p}) AS eig
        FROM emb, comp{p}
    )""" for p in range(1, N_COMP + 1))
    unions = " UNION ALL ".join(
        f"SELECT * FROM proj{p}" for p in range(1, N_COMP + 1))
    return f"""
    WITH emb AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                 FROM embeddings),
    gram AS MATERIALIZED (
        SELECT nn.n, mm.m, list_transform(mm.m, x -> x / nn.n) AS mu, ss.s
        FROM (SELECT count(*)::DOUBLE AS n FROM emb) nn,
             (SELECT (SELECT list(mj ORDER BY j)
                      FROM (SELECT t.j AS j, sum(e[t.j]) AS mj
                            FROM emb, LATERAL (SELECT unnest({rng}) AS j) t
                            GROUP BY t.j)) AS m) mm,
             (SELECT (SELECT list(sr ORDER BY j)
                      FROM (SELECT j, list(sjk ORDER BY k) AS sr
                            FROM (SELECT tj.j AS j, tk.k AS k,
                                         sum(e[tj.j] * e[tk.k]) AS sjk
                                  FROM emb,
                                       LATERAL (SELECT unnest({rng}) AS j) tj,
                                       LATERAL (SELECT unnest({rng}) AS k) tk
                                  GROUP BY tj.j, tk.k)
                            GROUP BY j)) AS s) ss
    ),
    cc0 AS MATERIALIZED (
        SELECT list_transform({rng}, j -> list_transform({rng},
                   k -> s[j][k] / n - mu[j] * mu[k])) AS c
        FROM gram
    ),
    {''.join(parts)}
    {proj_units}
    SELECT CAST(component AS INTEGER) AS component,
           CAST(label AS INTEGER) AS label,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(proj), 6) AS mean_proj,
           round(any_value(eig), 6) AS eigenvalue
    FROM ({unions})
    GROUP BY component, label
    ORDER BY component, label
    """


@register("q403_pca_projection_report", sql=_pca_proj_oracle())
def q403_pca_projection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-structure report: project every vector onto the top-3
    principal components (one Gram pass + driver deflation — corpus cost
    is ONE scan however many components) and report per (component, label)
    counts, mean centered projection and the component's eigenvalue — the
    drift/cluster-structure dashboard a curation pipeline watches. The
    projections are pure scan-side fold expressions against literal
    component vectors; nothing but the 15-row report shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps, eigs, mu = pca_components(emb)
    units = []
    for p, (v, eig) in enumerate(zip(comps, eigs), start=1):
        varr = "array(" + ",".join(f"{x!r}D" for x in v) + ")"
        dotv = F.expr(
            f"aggregate(zip_with(cast(embedding as array<double>), {varr},"
            f" (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
        mdv = sum(mu[k] * v[k] for k in range(DIM))
        units.append(F.struct(
            F.lit(p).alias("component"),
            (dotv - F.lit(mdv)).alias("proj"),
            F.lit(eig).alias("eig")))
    return (emb.select("label", F.explode(F.array(*units)).alias("t"))
            .select("label", "t.component", "t.proj", "t.eig")
            .groupBy(F.col("component").cast("int").alias("component"),
                     F.col("label").cast("int").alias("label"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("proj"), 6).alias("mean_proj"),
                 F.round(F.first("eig"), 6).alias("eigenvalue"))
            .orderBy("component", "label"))
