"""Similarity search over embedding columns (north-star: ANN / J9).

- brute_force_topk: exact cosine top-k — the correctness baseline. Query set
  broadcasts; the corpus never shuffles. Cost O(|Q|·|corpus|) per batch —
  fine when |Q| is bounded, regardless of corpus size.
- lsh_topk: random-hyperplane (signed random projection) LSH bucketing — the
  scale path. Corpus is bucketed once (linear scan), queries probe only
  matching buckets; recall traded via number of hyperplanes/tables.

All vector math is built-in higher-order functions (zip_with/aggregate) over
array<double> — JVM-side, no Python in the loop. Floats are cast to double
BEFORE any arithmetic so Spark and the DuckDB oracle see identical inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import index_store
from ..sources.readers import (fixture_memo, hadoop_fs, load_table,
                               read_parquet, scan_parallel, scratch_dir)
from ..plans.registry import register

# Every vector search here returns each query's TOPK nearest neighbours.
# The IVF paths quantize into IVF_CELLS cells seeded by the lowest ids and
# probe IVF_NPROBE of them; the SRP-LSH paths hash into SRP_TABLES tables
# of SRP_PLANES seeded ±1 planes over SRP_DIM-wide vectors. The engine,
# the SRP index's params row and the DuckDB oracles all read these.
TOPK = 5
IVF_CELLS = 16
IVF_NPROBE = 4
SRP_PLANES = 4
SRP_TABLES = 16
SRP_DIM = 64
SRP_SEED = 42
# The params row an SRP index records; a search refuses any other.
_SRP_PARAMS = dict(planes_per_table=SRP_PLANES, num_tables=SRP_TABLES,
                   dim=SRP_DIM, seed=SRP_SEED)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus, window top-k.

    Output: query_id, neighbor_id, cosine_sim, rank (self-matches excluded).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id",
                F.round("sim", 6).alias("cosine_sim"), "rank")
    )


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------


@register(
    "q44_embedding_topk",
    sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
               FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
                  list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                    AS sim
           FROM q JOIN c ON query_id <> neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q44_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/ANN baseline: exact cosine top-5 for query vectors vec_id<10 over
    the full corpus. Brute force IS the oracle-checkable baseline; the LSH
    variant (q45) is the scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries)


def _rademacher_planes() -> list[list[list[float]]]:
    """Seeded ±1 (Rademacher) hyperplanes — Achlioptas-style random
    projections: SRP_TABLES tables of SRP_PLANES planes over SRP_DIM
    components. ±1 entries make the projection a signed SUM of vector
    components: every multiply is exact, so Spark's fold and the SQL
    oracle's list_dot_product see bit-identical dots."""
    import random

    rnd = random.Random(SRP_SEED)
    return [[[1.0 if rnd.random() < 0.5 else -1.0 for _ in range(SRP_DIM)]
             for _ in range(SRP_PLANES)]
            for _ in range(SRP_TABLES)]


def _srp_planes_df(spark: SparkSession) -> DataFrame:
    """The planes as ONE broadcast literal VALUE (a single-row DataFrame),
    not L·k·dim expression-literal nodes — inlining them as F.lit trees
    costs ~14 s of Catalyst analysis/codegen at the default width."""
    return spark.createDataFrame(
        [(_rademacher_planes(), [1 << j for j in range(SRP_PLANES)])],
        "planes array<array<array<double>>>, wgt array<bigint>")


def _srp_hash(df: DataFrame, out_id: str, out_vec: str,
              planes_df: DataFrame) -> DataFrame:
    """(id, vec) -> one row per LSH table: (id, vec, t, b). Buckets come
    from nested HOFs over the broadcast planes column — a constant-size
    expression tree whatever L·k·dim is."""
    vec = F.col(out_vec)
    bucket_of_table = lambda tbl: F.aggregate(  # noqa: E731
        F.zip_with(tbl, F.col("wgt"), lambda plane, wgt:
                   F.when(dot(vec, plane) > 0, wgt)
                   .otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"), lambda a, x: a + x)
    return (df.crossJoin(F.broadcast(planes_df))
            .select(out_id, out_vec,
                    F.posexplode(F.transform("planes", bucket_of_table))
                    .alias("t", "b")))


def srp_bucket_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Multi-table SRP-LSH top-k with the hashing JVM-side (no Python hop).

    L independent tables of SRP_PLANES ±1 hyperplanes each; the
    corpus is hashed once into (table, bucket) keys — L rows per vector —
    each query probes its L buckets, and candidates are the union, scored
    exactly. Recall for a pair with per-plane agreement p = 1−θ/π is
    1−(1−p^k)^L. The bucket codes are built-in expressions over the plane
    literals:
    bucket_t = Σ_j 2^j·[dot(v, plane_tj) > 0]. Whole-stage codegen
    evaluates the hashing inside the corpus scan stage — no Arrow batch
    transfer — and the arithmetic is exactly reproducible in ANSI SQL,
    which is what gives q45 a full-fidelity DuckDB oracle.

    Vectors NEVER shuffle (round-10 plan fix): the candidate dedup used
    to carry both 64-double vectors through its exchange (~1 KB/row ×
    every bucket collision — the dominant shuffle at scale); now the
    (t, b) join and the (query, neighbor) dedup move int keys only, and
    the surviving candidate ids broadcast back into a second columnar
    corpus scan to re-attach vectors (incremental_near_dup's
    candidate-id re-scan discipline). Cost: one extra corpus scan —
    pruned to (id, vec), no shuffle — bought for a candidate exchange
    that stays O(pairs × ints) however wide the vectors."""
    spark = corpus.sparkSession
    planes_df = _srp_planes_df(spark)

    def hashed(df, out_id, out_vec):
        return _srp_hash(df, out_id, out_vec, planes_df)

    cd = scan_parallel(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                     _as_double(F.col("embedding")).alias("cv")))
    c = hashed(cd, "neighbor_id", "cv").select("neighbor_id", "t", "b")
    qh = hashed(queries.select(F.col("vec_id").alias("query_id"),
                               _as_double(F.col("embedding")).alias("qv")),
                "query_id", "qv")
    candidates = (
        c.join(F.broadcast(qh.select("query_id", "t", "b")), ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = qh.select("query_id", "qv").dropDuplicates(["query_id"])
    scored = (cd.join(F.broadcast(candidates), "neighbor_id")
              .join(F.broadcast(qv), "query_id")
              .select("query_id", "neighbor_id",
                      cosine(F.col("qv"), F.col("cv")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id",
                F.round("sim", 6).alias("cosine_sim"), "rank")
    )


def _q45_oracle(corpus_excl: str | None = None) -> str:
    """DuckDB twin of srp_bucket_topk: identical ±1 plane literals, bucket
    codes, candidate join and exact re-scoring. ``corpus_excl`` is an
    optional SQL predicate over the CANDIDATE side (alias ``c``) — q449
    applies the deletion predicate there, exactly where the engine's
    tombstone anti-join prunes the bucket scan (queries stay untouched,
    matching ivf/srp delete semantics)."""
    planes = _rademacher_planes()
    excl = f" AND NOT ({corpus_excl})" if corpus_excl else ""

    def bucket_sql(tbl) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(v, [{', '.join(map(str, plane))}])"
            f" > 0 THEN {1 << j} ELSE 0 END"
            for j, plane in enumerate(tbl))

    buckets = ", ".join(f"({bucket_sql(t)})" for t in planes)
    return f"""
    WITH vec AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    hashed AS (
        SELECT vec_id, v,
               unnest(range(0, {SRP_TABLES})) AS t,
               unnest([{buckets}]) AS b
        FROM vec
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM hashed q JOIN hashed c ON q.t = c.t AND q.b = c.b
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id{excl}
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               list_dot_product(qv.v, cv.v)
                 / (sqrt(list_dot_product(qv.v, qv.v))
                    * sqrt(list_dot_product(cv.v, cv.v))) AS sim
        FROM cand
        JOIN vec qv ON qv.vec_id = cand.query_id
        JOIN vec cv ON cv.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim,
           CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {TOPK}
    """


@register("q45_embedding_lsh_topk", sql=_q45_oracle())
def q45_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: multi-table signed-random-projection LSH bucketing +
    in-bucket exact cosine, hashed JVM-side with seeded ±1 planes so the
    ENTIRE pipeline (bucketing included) hash-matches the DuckDB oracle.
    Recall vs brute force additionally asserted in unit tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return srp_bucket_topk(emb, queries)


@register(
    "q46_label_centroid_sim",
    sql="""
    WITH pos AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS i,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, list(cx ORDER BY i) AS centroid
      FROM (SELECT label, i, avg(x) AS cx FROM pos GROUP BY label, i)
      GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round(list_dot_product(e.embedding::DOUBLE[], c.centroid)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.centroid, c.centroid))), 6)
             AS centroid_sim
    FROM embeddings e JOIN cent c ON e.label = c.label
    """,
)
def q46_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation: per-label centroid (element-wise avg via
    posexplode→groupBy) then each vector's cosine to its class centroid —
    the building block for embedding-cluster dedup/quality filtering."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    # cast INLINED at the explode (round 12, the q144 rule):
    # InferFiltersFromGenerate fires only on an ATTRIBUTE generator input;
    # exploding staged `v` pushed the inferred size>0/isnotnull filter
    # below the staging Project, substituting the cast-transform tree into
    # it — 3 evaluations per row (measured in the plan), 1 inline. The
    # inferred filter was semantically redundant: a non-outer posexplode
    # emits nothing for NULL/empty arrays anyway.
    pos = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(_as_double(F.col("embedding"))).alias("i", "x"))
    cent = (
        pos.groupBy("label", "i").agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cx"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda s: s["cx"]).alias("centroid"))
    )
    return (
        emb.join(F.broadcast(cent), "label")
        .select("vec_id", "label",
                F.round(cosine(F.col("v"), F.col("centroid")), 6)
                .alias("centroid_sim"))
    )


def embedding_near_dup(corpus: DataFrame,
                       lsh_prefilter: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= 0.4).

    Exact path (default): unit-normalize each vector ONCE in a projection,
    then score id-ordered pairs with a plain dot product — half the HOF work
    of computing full cosine per pair, and the broadcast self-join never
    shuffles the corpus.  O(n²) pair scoring is the *oracle-checkable
    baseline*; at 100 TB set ``lsh_prefilter=True`` to score only LSH
    candidate pairs (one linear bucketing pass, near-linear candidate join;
    recall <1 is the documented tradeoff, precision stays 1 because every
    candidate is exactly verified). The prefilter buckets with the seeded
    ±1-plane JVM-HOF hashing (:func:`_srp_hash`, same machinery as
    q45/q365), whose arithmetic an ANSI-SQL engine reproduces bit-exactly —
    which gives q82 its full-fidelity oracle.
    """
    threshold = 0.4
    vecs = (corpus.select(F.col("vec_id").alias("id"),
                          _as_double(F.col("embedding")).alias("v"))
            .withColumn("n", norm(F.col("v")))
            .select("id", F.transform("v", lambda x: x / F.col("n")).alias("uv")))
    if lsh_prefilter:
        # Candidate generation carries ONLY ids through the bucket
        # self-join — vectors re-attach at verify time. Shipping two
        # 128-dim arrays per candidate row through the join + distinct was
        # measured 20× slower at sf0.1 than this id-only plan.
        hashed = _srp_hash(vecs, "id", "uv",
                           _srp_planes_df(corpus.sparkSession)
                           ).select("id", "t", "b")
        a_ids = hashed.select(F.col("id").alias("id_a"), "t", "b")
        b_ids = hashed.select(F.col("id").alias("id_b"), "t", "b")
        pairs = (a_ids.join(b_ids, ["t", "b"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b")
                 .distinct())
        verified = (
            pairs
            .join(vecs.select(F.col("id").alias("id_a"),
                              F.col("uv").alias("ua")), "id_a")
            .join(vecs.select(F.col("id").alias("id_b"),
                              F.col("uv").alias("ub")), "id_b")
        )
        return (verified
                .select("id_a", "id_b",
                        F.round(dot(F.col("ua"), F.col("ub")), 6)
                        .alias("cosine_sim"))
                .filter(F.col("cosine_sim") >= threshold))
    a = vecs.select(F.col("id").alias("id_a"), F.col("uv").alias("ua"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("uv").alias("ub"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(dot(F.col("ua"), F.col("ub")), 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    IVF_CELLS Voronoi cells, probe only the IVF_NPROBE nearest cells per
    query, score exactly within probed cells.

    Seeds are the first IVF_CELLS corpus vectors by id — deterministic,
    no iterative training (at 100 TB you'd k-means a sample offline and
    broadcast the codebook; the search-side plan is identical). Cell
    assignment is one Arrow-batched matmul per vector batch; the candidate
    join shuffles only (cell, id) keys, and each query touches ~IVF_NPROBE/IVF_CELLS
    of the corpus — that fraction, not the corpus size, is the scan cost.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    seeds = (corpus.orderBy("vec_id").limit(IVF_CELLS)
             .select(_as_double(F.col("embedding")).alias("v")).collect())
    cb = np.array([r.v for r in seeds])                 # (C, dim) codebook
    cb_unit = cb / np.linalg.norm(cb, axis=1, keepdims=True)

    def nearest_cells(n: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def cells_of(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy())             # (batch, dim)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ cb_unit.T                      # (batch, C)
            top = np.argsort(-sims, axis=1)[:, :n].astype("int32")
            return pd.Series(list(top))
        return cells_of

    c = (corpus.select(F.col("vec_id").alias("neighbor_id"),
                       _as_double(F.col("embedding")).alias("cv"))
         .withColumn("cell", nearest_cells(1)(F.col("cv"))[0]))
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        _as_double(F.col("embedding")).alias("qv"))
         .select("query_id", "qv",
                 F.explode(nearest_cells(IVF_NPROBE)(F.col("qv")))
                 .alias("cell")))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine(F.col("qv"), F.col("cv")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id",
                F.round("sim", 6).alias("cosine_sim"), "rank")
    )


def _unit_argmax_udf(cb: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment shared by every
    coarse-quantizing operator (IVF build, IVF append, IVF-PQ's
    coarse cells): row-normalize the batch, one matmul against the unit codebook,
    argmax with numpy's first-index (= lowest cell) tie-break — the
    tie-break every SQL oracle replays as ORDER BY sim DESC, cell ASC.
    One definition so a semantics fix (dtype pin, zero-norm guard) cannot
    drift between call sites."""
    from pyspark.sql.types import IntegerType

    cb_unit = cb / np.linalg.norm(cb, axis=1, keepdims=True)

    @F.pandas_udf(IntegerType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(np.argmax(mat @ cb_unit.T, axis=1).astype("int32"))

    return cell_of


def build_ivf_index(corpus: DataFrame, index_dir: str) -> None:
    """Materialize an IVF index as a cell-PARTITIONED parquet layout: the
    index IS the physical layout, so probing a cell is reading a directory.

    ``{index_dir}/corpus`` is written ``partitionBy("cell")`` (one shuffle on
    cell, then directory-per-cell files) as the ``ingest=base`` generation
    of the shared index layout (sources/index_store.py; the build first
    clears the index's own sub-trees), and ``{index_dir}/codebook`` holds
    the IVF_CELLS centroid vectors. ``ivf_search`` then prunes the scan
    to the probed cells — at 100 TB a search touches IVF_NPROBE/IVF_CELLS of the
    corpus BYTES, not just rows, because pruning happens at file listing.
    Codebook seeds are the IVF_CELLS lowest-id corpus vectors
    (deterministic; at scale you'd k-means a sample offline — layout and
    search plan are identical either way). Cell assignment is one
    Arrow-batched matmul map pass (ties: lowest cell wins, matching the SQL
    oracle's ORDER BY sim DESC, cell ASC)."""
    seeds = (corpus.orderBy("vec_id").limit(IVF_CELLS)
             .select(_as_double(F.col("embedding")).alias("v")).collect())
    cb = np.array([r.v for r in seeds])                  # (C, dim) codebook
    cell_of = _unit_argmax_udf(cb)
    spark = corpus.sparkSession
    index_store.begin_build(spark, index_dir, ("codebook", "corpus"), None)
    (spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(cb)],
        f"cell int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebook"))
    index_store.write_generation(
        corpus.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .withColumn("cell", cell_of(F.col("v")))
        .repartition("cell"),   # co-locate each cell's rows -> one file each
        index_dir, "corpus", None, "cell")


def ivf_balance(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-cell occupancy of an IVF index, split by ingest generation,
    with an ``overfull`` flag (> 2× the uniform share)
    — the drift signal of the frozen-codebook append trade.
    Reads ONLY partition columns (cell, ingest): zero vector bytes, pure
    metadata shape, safe to run on every ingest cycle at 100 TB. Deleted
    ids still count: they occupy cell files until the next build."""
    num_cells = read_parquet(spark, f"{index_dir}/codebook").count()
    cells = (read_parquet(spark, f"{index_dir}/corpus")
             .groupBy("cell")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                  F.sum(F.when(F.col("ingest") == "base", 1).otherwise(0))
                  .cast("bigint").alias("n_base"),
                  F.sum(F.when(F.col("ingest") != "base", 1).otherwise(0))
                  .cast("bigint").alias("n_appended")))
    tot = cells.agg(F.sum("n_vectors").cast("double").alias("n"))
    share = F.col("n_vectors") * num_cells / F.col("n")
    return (cells.crossJoin(F.broadcast(tot))
            .select("cell", "n_vectors", "n_base", "n_appended",
                    F.round(share, 6).alias("occupancy_ratio"),
                    (share > 2.0).alias("overfull"))
            .orderBy("cell"))


def ivf_search(spark: SparkSession, index_dir: str,
               queries: DataFrame) -> DataFrame:
    """Search a ``build_ivf_index`` layout: probe the IVF_NPROBE nearest
    cells per query, score exactly inside probed cells only.

    Probe selection is pure JVM (queries × broadcast 16-row codebook →
    window top-nprobe — no Python in the loop). The probed-cell set is at
    most IVF_CELLS distinct ints regardless of query count, so it is
    collected (bounded driver state) and applied as a STATIC
    ``cell IN (...)`` partition filter — the parquet scan lists only the
    probed cell directories; unprobed cells cost zero I/O. Scoring joins the
    pruned corpus against broadcast (query, cell) pairs; only the
    per-partition top-k candidate rows reach the final rank window's
    exchange (WindowGroupLimit), never the full corpus."""
    cb = F.broadcast(read_parquet(spark, f"{index_dir}/codebook"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc())
    probes = (queries
              .select(F.col("vec_id").alias("query_id"),
                      _as_double(F.col("embedding")).alias("qv"))
              .crossJoin(cb)
              .withColumn("csim", cosine(F.col("qv"), F.col("centroid")))
              .withColumn("crank", F.row_number().over(probe_w))
              .filter(F.col("crank") <= IVF_NPROBE)
              .select("query_id", "qv", "cell"))
    # bounded driver state: <= num_cells ints, no matter how many queries
    cells = [r.cell for r in probes.select("cell").distinct().collect()]
    # static partition prune; deleted ids never reach scoring
    corpus = index_store.live(
        spark, index_dir,
        read_parquet(spark, f"{index_dir}/corpus")
        .filter(F.col("cell").isin(cells)), "vec_id")
    scored = (corpus.join(F.broadcast(probes), "cell")
              .filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      cosine(F.col("qv"), F.col("v")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("cosine_sim"), "rank"))


# one materialized IVF index per fixture state — repeated registry/bench
# invocations reuse it (the build-once/search-many contract is the point).
@fixture_memo("embeddings")
def _ivf_cached_index(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("ivf_index_")
    build_ivf_index(load_table(spark, sf_dir, "embeddings"), d)
    return d


# Shared DuckDB twin of the deterministic IVF algorithm (seeds = 16
# lowest-id vectors, nprobe=4, exact scoring in probed cells). q71 (inline
# ivf_topk) and q358 (materialized index) are the SAME algorithm in two
# physical layouts — pinned equal by test_ivf_index_search_matches_inline_ivf
# — so one oracle checks both.
_IVF_ORACLE = """
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(v, cv)
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(cv, cv))) DESC,
                        cell ASC) AS rn
      FROM corpus CROSS JOIN cb
    ),
    corpus_cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, cell
      FROM assign WHERE vec_id < 10 AND rn <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(c.v, c.v))) AS sim
      FROM probes p JOIN corpus_cells c USING (cell)
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= 5
    """


@register("q358_ivf_index_search", sql=_IVF_ORACLE)
def q358_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2b: IVF as a MATERIALIZED cell-partitioned index —
    build once (cached per fixture), search many. This is q71's algorithm
    with the build cost amortized out of the query path and the probed-cell
    scan turned into genuine partition pruning. The oracle replicates the
    same deterministic algorithm in SQL (seeds = 16 lowest-id vectors,
    nprobe=4, exact scoring in probed cells); the independent pins are the
    unit tests (recall vs brute force, equality with the non-materialized
    q71 path, and pruned file count)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(spark, _ivf_cached_index(spark, sf_dir), queries)


@register(
    "q448_ivf_tombstone_search",
    sql=_IVF_ORACLE.replace(
        "WHERE c.vec_id != p.query_id",
        "WHERE c.vec_id != p.query_id AND c.vec_id % 7 <> 3"),
)
def q448_ivf_tombstone_search(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The ANN removal plane (round 10): build the q358 index, TOMBSTONE
    every ``vec_id % 7 == 3`` via :func:`index_store.delete` (one O(|delete|)
    parquet append, no index row moves), and search — deleted vectors
    must never surface as neighbors, and the survivors' ranks re-pack.
    The oracle is q358's deterministic IVF replay with the deletion
    predicate applied to the candidate cells exactly where the engine's
    broadcast anti-join applies it: cell assignment, probe selection and
    scoring are untouched (the codebook is immutable under deletes; only
    the candidate set shrinks). A fresh index is built in-query (the
    cached q358 index is shared state a delete must not mutate) — the
    q365 build-dominated convention."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = scratch_dir("ivf_tomb_")
    build_ivf_index(emb, d)
    index_store.delete(spark, d,
                       emb.filter(F.pmod("vec_id", F.lit(7)) == 3)
                       .select("vec_id"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(spark, d, queries)


def build_srp_index(corpus: DataFrame, index_dir: str) -> None:
    """Materialize the multi-table SRP-LSH index as a bucket-PARTITIONED
    parquet layout — the LSH sibling of :func:`build_ivf_index`: the index
    IS the physical layout, so probing a bucket is reading a directory.

    Each vector lands once per table under partition key
    ``tb = t·2^planes + b`` (one combined column so pruning is a single
    IN-set). That is the standard multi-table LSH storage trade —
    SRP_TABLES× the corpus bytes — bought back at search time: a query
    batch reads ONLY its probed bucket directories. The build clears the
    index's own sub-trees and writes ``{index_dir}/params``, the
    plane-generation parameters, so a search refuses an index hashed with
    other planes (shared index layout, sources/index_store.py; the buckets
    table has no ingest generations)."""
    spark = corpus.sparkSession
    index_store.begin_build(spark, index_dir, ("buckets",), _SRP_PARAMS)
    cd = scan_parallel(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                     _as_double(F.col("embedding"))
                                     .alias("cv")))
    (_srp_hash(cd, "neighbor_id", "cv", _srp_planes_df(spark))
     .withColumn("tb", F.col("t") * (1 << SRP_PLANES) + F.col("b"))
     .repartition("tb")     # co-locate each bucket's rows -> one file each
     .write.mode("overwrite").partitionBy("tb")
     .parquet(f"{index_dir}/buckets"))


def srp_search(spark: SparkSession, index_dir: str,
               queries: DataFrame) -> DataFrame:
    """Search a ``build_srp_index`` layout: hash the query batch with the
    SAME seeded planes, read ONLY the probed bucket directories (static
    ``tb IN (...)`` partition prune — at most num_tables·|queries| ints of
    driver state, capped by the total bucket count), then exact-cosine
    verify + per-query top-k. Returns exactly what the non-materialized
    :func:`srp_bucket_topk` returns — the layout changes cost, not
    semantics (pinned by unit test). An index whose params row differs
    from :data:`_SRP_PARAMS` is refused."""
    index_store.check_params(spark, index_dir, **_SRP_PARAMS)
    probes = (_srp_hash(queries.select(F.col("vec_id").alias("query_id"),
                                       _as_double(F.col("embedding"))
                                       .alias("qv")),
                        "query_id", "qv", _srp_planes_df(spark))
              .withColumn("tb", F.col("t") * (1 << SRP_PLANES) + F.col("b")))
    keys = [r.tb for r in probes.select("tb").distinct().collect()]
    # static partition prune; deleted ids never become candidates
    bucket_rows = index_store.live(
        spark, index_dir,
        read_parquet(spark, f"{index_dir}/buckets")
        .filter(F.col("tb").isin(keys)), "neighbor_id")
    candidates = (bucket_rows
                  .join(F.broadcast(probes.select("query_id", "qv", "tb",
                                                  "t", "b")),
                        ["tb", "t", "b"])
                  .filter(F.col("query_id") != F.col("neighbor_id"))
                  .select("query_id", "qv", "neighbor_id", "cv")
                  .dropDuplicates(["query_id", "neighbor_id"]))
    scored = candidates.select(
        "query_id", "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "neighbor_id",
                    F.round("sim", 6).alias("cosine_sim"), "rank"))


@fixture_memo("embeddings")
def _srp_cached_index(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("srp_index_")
    build_srp_index(load_table(spark, sf_dir, "embeddings"), d)
    return d


@register("q365_srp_index_search", sql=_q45_oracle())
def q365_srp_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #1b: SRP-LSH as a MATERIALIZED bucket-partitioned
    index — build once (cached per fixture), search many; q45's algorithm
    with hashing amortized out of the query path and the probed-bucket
    scan turned into genuine partition pruning (the LSH sibling of q358's
    IVF index). Shares q45's full-fidelity oracle because the candidate
    union and verify are identical; equality with srp_bucket_topk and the
    pruned scan are pinned in unit tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return srp_search(spark, _srp_cached_index(spark, sf_dir), queries)


@register("q449_srp_tombstone_search",
          sql=_q45_oracle(corpus_excl="c.vec_id % 7 = 3"))
def q449_srp_tombstone_search(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The SRP removal plane (round 11 — the LSH sibling of q448): build
    the q365 bucket-partitioned index, TOMBSTONE every ``vec_id % 7 == 3``
    via :func:`index_store.delete` (one O(|delete|) parquet partition, no bucket
    file moves), and search — deleted vectors must never surface as
    neighbors and survivor ranks re-pack. The oracle is q45's
    full-fidelity SRP replay with the deletion predicate applied on the
    candidate side exactly where the engine's broadcast anti-join prunes
    the bucket scan (hashing, probing and scoring untouched — buckets are
    a pure function of the vector, so deletion only shrinks the candidate
    set). A fresh index is built in-query (the cached q365 index is
    shared state a delete must not mutate) — the q448 convention."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = scratch_dir("srp_tomb_")
    build_srp_index(emb, d)
    index_store.delete(spark, d,
                       emb.filter(F.pmod("vec_id", F.lit(7)) == 3)
                       .select("vec_id"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 10)
    return srp_search(spark, d, queries)


@register(
    "q70_embedding_near_dup",
    sql="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                           embedding::DOUBLE[]))) AS uv
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.uv, b.uv), 6) AS cosine_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.uv, b.uv), 6) >= 0.4
    """,
)
def q70_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star embedding-cosine near-dup: all pairs with cosine >= 0.4
    (fixture max pairwise cosine is ~0.51, so the threshold selects the true
    near-dup tail). Exact scoring here; the LSH-prefilter scale path shares
    the same verify stage (tests pin candidate⊆exact + recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb)


@register("q71_embedding_ivf_topk", sql=_IVF_ORACLE)
def q71_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #2 (IVF): coarse-quantize + nprobe cell search.
    Deterministic (seeds = 16 lowest-id vectors, no iterative training), so
    it shares q358's same-algorithm SQL oracle; recall vs brute force is
    additionally pinned in unit tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries)


def _q82_oracle() -> str:
    """DuckDB twin of the portable LSH near-dup path: identical ±1 plane
    literals hashed over the SAME unit-normalized vectors (sign of
    dot(uv, plane) — normalization can't flip a sign, but the replay
    matches the engine's expression exactly anyway), the same
    id_a < id_b candidate join, the same round-6 unit-dot verification."""
    planes = _rademacher_planes()

    def bucket_sql(tbl) -> str:
        return " + ".join(
            f"CASE WHEN list_dot_product(uv, [{', '.join(map(str, plane))}])"
            f" > 0 THEN {1 << j} ELSE 0 END"
            for j, plane in enumerate(tbl))

    buckets = ", ".join(f"({bucket_sql(t)})" for t in planes)
    return f"""
    WITH vec AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    unit AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
        FROM vec
    ),
    hashed AS (
        SELECT vec_id, uv,
               unnest(range(0, {SRP_TABLES})) AS t,
               unnest([{buckets}]) AS b
        FROM unit
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM hashed a JOIN hashed c ON a.t = c.t AND a.b = c.b
        WHERE a.vec_id < c.vec_id
    )
    SELECT id_a, id_b,
           round(list_dot_product(ua.uv, ub.uv), 6) AS cosine_sim
    FROM cand
    JOIN unit ua ON ua.vec_id = cand.id_a
    JOIN unit ub ON ub.vec_id = cand.id_b
    WHERE round(list_dot_product(ua.uv, ub.uv), 6) >= {0.4}
    """


@register("q82_embedding_near_dup_lsh", sql=_q82_oracle())
def q82_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of q70 executed every round: LSH-bucketed candidate
    generation + exact cosine verify (lsh_prefilter=True), on the PORTABLE
    ±1-plane hashing so the full pipeline — bucketing, candidate join,
    verification — replays in the DuckDB oracle (upgraded from rows-only
    in round 6; the candidate-⊆-exact and recall pins are in
    tests/test_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, lsh_prefilter=True)


@register(
    "q90_embedding_quantize",
    sql="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
    ),
    q AS (
      SELECT vec_id, x,
             list_max(list_transform(x, e -> abs(e))) AS scale
      FROM v
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           round(list_reduce(list_prepend(0.0, list_transform(x,
                 e -> abs(e - round(e * 127 / scale) * scale / 127))),
                 (acc, e) -> acc + e)
                 / len(x), 6) AS mean_abs_err
    FROM q
    """,
)
def q90_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit: per-vector scale (max |x|) and the
    mean absolute reconstruction error of round(x*127/scale) — the storage
    decision every embedding lake faces (int8 is 4× smaller than float32).
    All JVM-side higher-order functions; at scale this runs in the scan
    projection with zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    raw = _as_double(F.col("embedding"))
    scale = F.array_max(F.transform(raw, lambda e: F.abs(e)))
    x = F.col("x")
    # NB: the raw scale column is named __scale, NOT scale — aliasing the
    # rounded output as "scale" in the same select would otherwise capture
    # err's references via lateral-column-alias resolution (Spark 3.4+) and
    # quantize against the ROUNDED scale.
    err = F.aggregate(
        F.transform(x, lambda e: F.abs(
            e - F.round(e * 127 / F.col("__scale")) * F.col("__scale") / 127)),
        F.lit(0.0), lambda acc, e: acc + e,
    ) / F.size(x)
    return (emb.select("vec_id", raw.alias("x"), scale.alias("__scale"))
            .select("vec_id", F.round("__scale", 6).alias("scale"),
                    F.round(err, 6).alias("mean_abs_err")))


@register(
    "q200_embedding_truncation",
    sql="""
    WITH p AS (
        SELECT a.vec_id,
               a.embedding::DOUBLE[] AS va, b.embedding::DOUBLE[] AS vb
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    )
    SELECT vec_id,
           round(list_dot_product(va, vb)
                 / (sqrt(list_dot_product(va, va))
                    * sqrt(list_dot_product(vb, vb))), 6) AS cos_full,
           round(list_dot_product(va[1:16], vb[1:16])
                 / (sqrt(list_dot_product(va[1:16], va[1:16]))
                    * sqrt(list_dot_product(vb[1:16], vb[1:16]))), 6) AS cos_16,
           round(abs(list_dot_product(va, vb)
                     / (sqrt(list_dot_product(va, va))
                        * sqrt(list_dot_product(vb, vb)))
                   - list_dot_product(va[1:16], vb[1:16])
                     / (sqrt(list_dot_product(va[1:16], va[1:16]))
                        * sqrt(list_dot_product(vb[1:16], vb[1:16])))), 6)
               AS abs_drift
    FROM p
    """,
)
def q200_embedding_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation fidelity: for chained vector pairs
    (vec_id, vec_id+1), compare full-64-dim cosine against first-16-dim
    cosine — the eval a pipeline runs before storing truncated embeddings to
    cut ANN index cost 4×. All vector math is JVM higher-order functions on
    doubles; the pair join is a self equi-join on the id, so at scale it
    shuffles ids+vectors once with no quadratic blowup."""
    from ..sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", _as_double("embedding").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                   _as_double("embedding").alias("vb"))
    p = a.join(b, "vec_id")
    cos_full = cosine(F.col("va"), F.col("vb"))
    cos_16 = cosine(F.slice("va", 1, 16), F.slice("vb", 1, 16))
    return p.select(
        "vec_id",
        F.round(cos_full, 6).alias("cos_full"),
        F.round(cos_16, 6).alias("cos_16"),
        F.round(F.abs(cos_full - cos_16), 6).alias("abs_drift"))


@register(
    "q212_embedding_norm_audit",
    sql="""
    WITH norms AS (
        SELECT label,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                   AS nrm
        FROM embeddings
    ),
    stats AS (
        SELECT label, avg(nrm) AS avg_nrm FROM norms GROUP BY label
    )
    SELECT norms.label,
           CAST(count(*) AS BIGINT)        AS n_vecs,
           round(avg(nrm), 6)              AS avg_norm,
           round(min(nrm), 6)              AS min_norm,
           round(max(nrm), 6)              AS max_norm,
           CAST(sum(CASE WHEN nrm > 1.25 * avg_nrm THEN 1 ELSE 0 END)
                AS BIGINT)                 AS n_outliers
    FROM norms JOIN stats USING (label)
    GROUP BY norms.label
    """,
)
def q212_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: per-label L2-norm distribution plus a count
    of vectors whose norm exceeds 1.25× the label mean — the cheap screen
    for collapsed or exploding embeddings before they poison cosine-based
    dedup/ANN (un-normalized outliers dominate dot products). Two-phase:
    per-label stats aggregate (label-count-sized) broadcasts back over the
    norms; norm math is JVM higher-order functions."""
    from ..sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select("label",
                       norm(_as_double("embedding")).alias("nrm"))
    stats = norms.groupBy("label").agg(F.avg("nrm").alias("avg_nrm"))
    return (norms.join(F.broadcast(stats), "label")
            .groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 F.round(F.avg("nrm"), 6).alias("avg_norm"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"),
                 F.sum(F.when(F.col("nrm") > 1.25 * F.col("avg_nrm"), 1)
                       .otherwise(0)).cast("bigint").alias("n_outliers")))


@register(
    "q254_label_separability",
    sql="""
    WITH pairs AS (
        SELECT a.label AS la, b.label AS lb,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                        a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]))) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 120 AND b.vec_id < 120
    )
    SELECT CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
               AS intra_pairs,
           CAST(sum(CASE WHEN la <> lb THEN 1 ELSE 0 END) AS BIGINT)
               AS inter_pairs,
           round(avg(CASE WHEN la = lb THEN sim END), 6)  AS intra_cos,
           round(avg(CASE WHEN la <> lb THEN sim END), 6) AS inter_cos,
           round(avg(CASE WHEN la = lb THEN sim END)
                 - avg(CASE WHEN la <> lb THEN sim END), 6) AS margin
    FROM pairs
    """,
)
def q254_label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space separability: mean intra-label vs inter-label cosine
    over a bounded vector sample, and their margin — the one-number answer
    to "do these embeddings know about the labels" that decides whether
    label-aware negative sampling (q202) is even meaningful. Bounded pair
    window documented as the audit form; the estimator at scale samples
    pairs per label instead of enumerating them."""
    from ..sources.readers import load_table

    emb = (load_table(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 120)
           .select("vec_id", "label", _as_double("embedding").alias("e")))
    a = emb.select(F.col("vec_id").alias("ia"), F.col("label").alias("la"),
                   F.col("e").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("label").alias("lb"),
                   F.col("e").alias("eb"))
    pairs = (a.join(b, F.col("ia") < F.col("ib"))
             .select("la", "lb", cosine(F.col("ea"), F.col("eb")).alias("sim")))
    intra = F.when(F.col("la") == F.col("lb"), F.col("sim"))
    inter = F.when(F.col("la") != F.col("lb"), F.col("sim"))
    return pairs.agg(
        F.count(intra).cast("bigint").alias("intra_pairs"),
        F.count(inter).cast("bigint").alias("inter_pairs"),
        F.round(F.avg(intra), 6).alias("intra_cos"),
        F.round(F.avg(inter), 6).alias("inter_cos"),
        F.round(F.avg(intra) - F.avg(inter), 6).alias("margin"))


@register(
    "q301_embedding_anisotropy",
    sql="""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (SELECT max(vec_id) + 1 FROM embeddings) AS n
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, o.off AS off,
               list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS cos
        FROM vecs a
        CROSS JOIN (SELECT unnest([7, 131]) AS off) o
        JOIN vecs b ON b.vec_id = (a.vec_id + o.off) % a.n
        WHERE a.vec_id <> (a.vec_id + o.off) % a.n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(cos), 6) AS mean_cos,
           round(stddev_samp(cos), 6) AS sd_cos,
           round(quantile_cont(cos, 0.05), 6) AS p05_cos,
           round(quantile_cont(cos, 0.95), 6) AS p95_cos
    FROM pairs
    """,
)
def q301_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit: the distribution of cosine
    similarity between (deterministically chosen) unrelated vector pairs.
    A healthy isotropic space centers near 0; a collapsed/anisotropic one
    (common after bad pooling or truncation — see q200) shows a high mean
    offset, which silently breaks every cosine threshold downstream (q70's
    near-dup cut, q45's LSH recall). Pairing by fixed id offsets (+7,
    +131 mod n) gives a reproducible pseudo-random sample with ZERO
    shuffle fan-out: each offset is one equi-join on vec_id, and at scale
    a storage-partitioned join on the id keeps it co-located."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_row = emb.agg((F.max("vec_id") + 1).alias("n"))
    vecs = (emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
            .crossJoin(F.broadcast(n_row)))
    offs = spark.createDataFrame([(7,), (131,)], "off long")
    a = (vecs.crossJoin(F.broadcast(offs))
         .withColumn("b_id", (F.col("vec_id") + F.col("off")) % F.col("n"))
         .filter(F.col("vec_id") != F.col("b_id")))
    b = vecs.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"))
    pairs = (a.join(b, "b_id")
             .select(cosine(F.col("v"), F.col("bv")).alias("cos")))
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
        F.round(F.stddev_samp("cos"), 6).alias("sd_cos"),
        F.round(F.percentile("cos", 0.05), 6).alias("p05_cos"),
        F.round(F.percentile("cos", 0.95), 6).alias("p95_cos"))


@register(
    "q320_knn_accuracy",
    sql="""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nb_label,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.e, b.e)
                            / (sqrt(list_dot_product(a.e, a.e))
                               * sqrt(list_dot_product(b.e, b.e))) DESC,
                            b.vec_id) AS rnk
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    votes AS (
        SELECT qid, true_label, nb_label, count(*) AS c
        FROM pairs WHERE rnk <= 5
        GROUP BY qid, true_label, nb_label
    ),
    pred AS (
        SELECT qid, true_label, nb_label AS pred_label
        FROM votes
        QUALIFY row_number() OVER (PARTITION BY qid
                                   ORDER BY c DESC, nb_label) = 1
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(avg(CASE WHEN pred_label = true_label
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM pred
    GROUP BY true_label
    ORDER BY label
    """,
)
def q320_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification accuracy on the labeled embedding
    corpus — the standard probe of whether an embedding space separates
    classes, run entirely as relational ops: cosine all-pairs (the exact
    baseline, same contract as q44 — at scale the candidate pairs come
    from LSH q45/IVF q71 instead), per-query top-5 window, majority vote
    as a count + rank (ties broken toward the smaller label on both
    engines), per-class accuracy. Complements q254's centroid margin: the
    margin says classes have distinct means, accuracy says NEIGHBORHOODS
    are pure."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label",
                   _as_double(F.col("embedding")).alias("e"))
    a = v.select(F.col("vec_id").alias("qid"),
                 F.col("label").alias("true_label"),
                 F.col("e").alias("qe"))
    b = v.select(F.col("vec_id").alias("nid"),
                 F.col("label").alias("nb_label"),
                 F.col("e").alias("ne"))
    pairs = (a.join(b, F.col("qid") != F.col("nid"))
             .select("qid", "true_label", "nb_label", "nid",
                     cosine(F.col("qe"), F.col("ne")).alias("cos")))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "nid")
    votes = (pairs.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= 5)
             .groupBy("qid", "true_label", "nb_label")
             .agg(F.count(F.lit(1)).alias("c")))
    wv = Window.partitionBy("qid").orderBy(F.desc("c"), "nb_label")
    pred = (votes.withColumn("vr", F.row_number().over(wv))
            .filter(F.col("vr") == 1)
            .select("qid", "true_label",
                    F.col("nb_label").alias("pred_label")))
    hit = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (pred.groupBy(F.col("true_label").alias("label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                 F.sum(hit).cast("bigint").alias("n_correct"),
                 F.round(F.avg(hit.cast("double")), 6).alias("accuracy"))
            .orderBy("label"))


@register(
    "q321_silhouette",
    sql="""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    pd AS (
        SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
               1 - list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))) AS dist
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    per_cluster AS (
        SELECT i, li, lj, avg(dist) AS mean_d
        FROM pd GROUP BY i, li, lj
    ),
    ab AS (
        SELECT i, li,
               max(CASE WHEN lj = li THEN mean_d END) AS a,
               min(CASE WHEN lj <> li THEN mean_d END) AS b
        FROM per_cluster GROUP BY i, li
    ),
    sil AS (
        SELECT i, li, (b - a) / greatest(a, b) AS s
        FROM ab WHERE a IS NOT NULL AND b IS NOT NULL
    )
    SELECT li AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(s), 6) AS mean_silhouette,
           round(sum(avg(s) * count(*)) OVER () / sum(count(*)) OVER (), 6)
               AS overall_silhouette
    FROM sil
    GROUP BY li
    ORDER BY label
    """,
)
def q321_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette coefficient of the label partition in embedding space
    (cosine distance): a(i) = mean distance to own cluster, b(i) = nearest
    other cluster's mean distance, s = (b-a)/max(a,b), averaged per label
    and size-weighted overall. The clustering-quality number that punishes
    both loose clusters AND close neighbors, where q254's margin only
    sees centroids. All-pairs on the bounded eval corpus (at 100 TB:
    sampled, or per-candidate via LSH buckets); the per-(point, cluster)
    reduction is one groupBy, the rest is residue arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label",
                   _as_double(F.col("embedding")).alias("e"))
    a = v.select(F.col("vec_id").alias("i"), F.col("label").alias("li"),
                 F.col("e").alias("ae"))
    b = v.select(F.col("vec_id").alias("j"), F.col("label").alias("lj"),
                 F.col("e").alias("be"))
    pd_ = (a.join(b, F.col("i") != F.col("j"))
           .select("i", "li", "lj",
                   (1 - cosine(F.col("ae"), F.col("be"))).alias("dist")))
    per_cluster = (pd_.groupBy("i", "li", "lj")
                   .agg(F.avg("dist").alias("mean_d")))
    ab = (per_cluster.groupBy("i", "li")
          .agg(F.max(F.when(F.col("lj") == F.col("li"), F.col("mean_d")))
               .alias("a"),
               F.min(F.when(F.col("lj") != F.col("li"), F.col("mean_d")))
               .alias("b")))
    sil = (ab.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
           .select("li", ((F.col("b") - F.col("a"))
                          / F.greatest("a", "b")).alias("s")))
    grp = sil.groupBy(F.col("li").alias("label")).agg(
        F.count(F.lit(1)).alias("n"), F.avg("s").alias("ms"))
    everything = Window.partitionBy()
    return (grp.select(
        "label", F.col("n").cast("bigint").alias("n_vectors"),
        F.round("ms", 6).alias("mean_silhouette"),
        F.round(F.sum(F.col("ms") * F.col("n")).over(everything)
                / F.sum("n").over(everything), 6)
        .alias("overall_silhouette"))
        .orderBy("label"))


@register(
    "q322_intrinsic_dimension",
    sql="""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    nn AS (
        SELECT a.vec_id AS i,
               list_distance(a.e, b.e) AS d,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY list_distance(a.e, b.e), b.vec_id)
                   AS rnk
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    two AS (
        SELECT i,
               max(CASE WHEN rnk = 1 THEN d END) AS r1,
               max(CASE WHEN rnk = 2 THEN d END) AS r2
        FROM nn WHERE rnk <= 2 GROUP BY i
    ),
    mu AS (
        SELECT i, r2 / r1 AS mu FROM two WHERE r1 > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(avg(mu), 6) AS mean_mu,
           round(count(*) / sum(ln(mu)), 4) AS id_twonn
    FROM mu
    """,
)
def q322_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    (Facco et al.): the MLE id = n / sum(ln(r2/r1)) over each point's two
    nearest-neighbor euclidean distances. A 64-dim embedding whose
    intrinsic dimension is ~8 wastes 7/8ths of its storage AND its
    distance contrast — this number decides whether q200's truncation or
    q90's quantization is safe. Exact all-pairs on the bounded corpus
    with a top-2 window (at scale: candidate pairs from LSH buckets, the
    estimator is unchanged); points with duplicate coordinates (r1 = 0)
    are excluded on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    a = v.select(F.col("vec_id").alias("i"), F.col("e").alias("ae"))
    b = v.select(F.col("vec_id").alias("j"), F.col("e").alias("be"))
    dist = F.sqrt(F.aggregate(
        F.zip_with(F.col("ae"), F.col("be"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x))
    w = Window.partitionBy("i").orderBy("d", "j")
    nn = (a.join(b, F.col("i") != F.col("j"))
          .select("i", "j", dist.alias("d"))
          .withColumn("rnk", F.row_number().over(w))
          .filter(F.col("rnk") <= 2))
    two = (nn.groupBy("i")
           .agg(F.max(F.when(F.col("rnk") == 1, F.col("d"))).alias("r1"),
                F.max(F.when(F.col("rnk") == 2, F.col("d"))).alias("r2")))
    mu = (two.filter(F.col("r1") > 0)
          .select((F.col("r2") / F.col("r1")).alias("mu")))
    return mu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.round(F.avg("mu"), 6).alias("mean_mu"),
        F.round(F.count(F.lit(1)) / F.sum(F.log("mu")), 4).alias("id_twonn"))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-pruned semantic near-duplicate pairs (q377)
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(corpus: DataFrame) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): coarse
    cluster assignment first, exact cosine scoring ONLY within clusters.
    This is the embedding sibling of MinHash banding — the cluster is the
    candidate bucket, so the quadratic verify is bounded per cluster and
    the pipeline never goes all-pairs.

    Deterministic for oracle replay: centroids are the 16
    lowest-id vectors (the same seeded-codebook convention as ivf_topk;
    at 100 TB you'd train a k-means codebook on a sample — q149 — and
    broadcast it, leaving this plan unchanged), shipped as ONE broadcast
    literal-value row (not k·dim expression literals). Assignment is
    argmax cosine with first-index (lowest cell) tie-break, computed
    shuffle-free per row by JVM higher-order functions — bit-identical to
    the SQL oracle's window formulation. The within-cluster self-join
    shuffles rows keyed on cluster; cluster count scales with corpus size
    in production (|corpus|/1000-ish), so groups stay bounded and AQE's
    skew split covers stragglers.

    Output: (cluster, id_a < id_b, cosine_sim >= 0.35), round-6.
    """
    spark = corpus.sparkSession
    vecs = corpus.select(F.col("vec_id").alias("id"),
                         _as_double(F.col("embedding")).alias("v"))
    seeds = (corpus.orderBy("vec_id").limit(16)
             .select(_as_double(F.col("embedding")).alias("cv")).collect())
    cb_df = spark.createDataFrame(
        [([list(r.cv) for r in seeds],)], "cells array<array<double>>")
    scores = F.transform("cells", lambda c: cosine(F.col("v"), c))
    assigned = (
        vecs.crossJoin(F.broadcast(cb_df))
        .withColumn("sc", scores)
        .select("id", "v",
                (F.array_position(F.col("sc"), F.array_max("sc")) - 1)
                .cast("int").alias("cluster"))
    )
    # pair scoring on UNIT vectors: normalize once per row, score each pair
    # with a plain dot — one HOF pass per pair instead of cosine's three
    # (dot + two norms); same float recipe the q70 oracle replays
    unit = (assigned.withColumn("n", norm(F.col("v")))
            .select("cluster", "id",
                    F.transform("v", lambda x: x / F.col("n")).alias("uv")))
    a = unit.select("cluster", F.col("id").alias("id_a"),
                    F.col("uv").alias("ua"))
    b = unit.select("cluster", F.col("id").alias("id_b"),
                    F.col("uv").alias("ub"))
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cluster", "id_a", "id_b",
                F.round(dot(F.col("ua"), F.col("ub")), 6)
                .alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.35)
    )


@register(
    "q377_semantic_dedup",
    sql="""
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS cv
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(v, cv)
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(cv, cv))) DESC,
                        cell ASC) AS rn
      FROM corpus CROSS JOIN cb
    ),
    members AS (
      SELECT vec_id, cell,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS uv
      FROM assign WHERE rn = 1)
    SELECT a.cell AS cluster, a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.uv, b.uv), 6) AS cosine_sim
    FROM members a JOIN members b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.uv, b.uv), 6) >= 0.35
    """,
)
def q377_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: 16 deterministic seed clusters,
    exact within-cluster cosine pairs >= 0.35. Complements q42 (lexical
    MinHash) and q82 (SRP-LSH): the cluster prune is the scale device —
    candidate generation is one shuffle-free assignment pass + a join keyed
    on cluster, never all-pairs. Full-fidelity SQL oracle (assignment
    replayed as a window argmax with identical float ops and tie-break)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb)


# ---------------------------------------------------------------------------
# Incremental IVF ingest: append a delta batch to a materialized index (q378)
# ---------------------------------------------------------------------------

def ivf_index_append(spark: SparkSession, index_dir: str, delta: DataFrame,
                     ingest_id: str) -> None:
    """Append an ingest delta to a :func:`build_ivf_index` layout WITHOUT
    rebuilding: re-read the frozen codebook, assign only the delta rows
    (one Arrow matmul batch per partition), and write them into the
    batch's own ``ingest=<ingest_id>`` generation directory — standing
    files (the build's ``ingest=base`` and earlier ingests) are untouched
    (pinned by unit test on file mtimes), so ingest cost is O(|delta|)
    regardless of index size. The per-ingest OVERWRITE makes a retried
    batch (at-least-once delivery) replace its own rows instead of
    duplicating them — the same convention as ``minhash_index_append``;
    callers pass a stable id per logical batch, and an invalid id is
    refused before the first job (:func:`index_store.check_ingest_id`).
    This is the vector sibling of the MinHash index's incremental probe
    (q376): the corpus is quantized once, every later batch only pays for
    itself. The codebook
    staying frozen is the standard IVF ingest trade — cell balance drifts
    as the data distribution moves, and the remedy is an offline re-train
    + rebuild, not per-batch retraining."""
    index_store.check_ingest_id(ingest_id)
    # Hadoop FS, not os.listdir: index_dir may be an hdfs://-s3a:// URI,
    # where os.path would silently skip this guard.
    fs, corpus_path = hadoop_fs(spark, f"{index_dir}/corpus")
    if fs.exists(corpus_path) and any(
            st.getPath().getName().startswith("cell=")
            for st in fs.listStatus(corpus_path)):
        # pre-generation layout (corpus/cell=N directly): appending an
        # ingest=<id> level would mix partition-directory depths, which
        # Spark partition discovery rejects. No silent migration — the
        # index predates the generation contract, so rebuild it.
        raise ValueError(
            f"{index_dir}/corpus uses the old corpus/cell=N layout; rebuild "
            "the index with build_ivf_index before appending ingests")
    cb_rows = (read_parquet(spark, f"{index_dir}/codebook")
               .orderBy("cell").collect())
    cell_of = _unit_argmax_udf(
        np.array([list(map(float, r.centroid)) for r in cb_rows]))
    index_store.write_generation(
        delta.select(F.col("vec_id"), _as_double(F.col("embedding")).alias("v"))
        .withColumn("cell", cell_of(F.col("v")))
        .repartition("cell"),
        index_dir, "corpus", ingest_id, "cell")


@fixture_memo("embeddings")
def _ivf_appended_index(spark: SparkSession, sf_dir: str) -> str:
    """Index built from the standing corpus (vec_id % 10 != 0) then
    incrementally appended with the delta (vec_id % 10 == 0) — built once
    per fixture state like the other materialized indexes."""
    d = scratch_dir("ivf_append_")
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(emb.filter(F.col("vec_id") % 10 != 0), d)
    ivf_index_append(spark, d, emb.filter(F.col("vec_id") % 10 == 0),
                     ingest_id="delta")
    return d


# q378's oracle is the IVF algorithm with the codebook seeded from the
# STANDING corpus only (lowest 16 ids with vec_id % 10 != 0) while the
# searched corpus includes the appended delta — exactly what the
# build-then-append layout contains.
_IVF_APPEND_ORACLE = """
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 10 <> 0
            ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, v, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(v, cv)
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(cv, cv))) DESC,
                        cell ASC) AS rn
      FROM corpus CROSS JOIN cb
    ),
    corpus_cells AS (SELECT vec_id, v, cell FROM assign WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, cell
      FROM assign WHERE vec_id < 10 AND rn <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             list_dot_product(p.qv, c.v)
               / (sqrt(list_dot_product(p.qv, p.qv))
                  * sqrt(list_dot_product(c.v, c.v))) AS sim
      FROM probes p JOIN corpus_cells c USING (cell)
      WHERE c.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine_sim,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, neighbor_id) AS rnk
          FROM cand)
    WHERE rnk <= 5
    """


@register("q378_ivf_append_search", sql=_IVF_APPEND_ORACLE)
def q378_ivf_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN operational path: search an IVF index built from the standing
    corpus (vec_id % 10 != 0) and INCREMENTALLY APPENDED with an ingest
    delta (vec_id % 10 == 0) — no rebuild, standing cell files untouched.
    Same pruned-probe search plan as q358; the oracle replays the
    frozen-codebook semantics (seeds from the standing corpus, search over
    corpus + delta). The vector sibling of q376's incremental dedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_search(spark, _ivf_appended_index(spark, sf_dir), queries)


# ---------------------------------------------------------------------------
# q385 — hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------


@register(
    "q385_hard_negative_mining",
    sql="""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label
               FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id, c.label AS neg_label,
                  list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv))
                       * sqrt(list_dot_product(cv, cv))) AS sim
           FROM q JOIN c
             ON query_id <> neighbor_id AND q.label <> c.label),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, neighbor_id) AS rank
           FROM scored)
    SELECT query_id, neighbor_id, neg_label,
           round(sim, 6) AS cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q385_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor (vec_id <
    10), the top-5 most-cosine-similar vectors with a DIFFERENT label —
    the negatives closest to the decision boundary, the standard recipe
    for dense-retriever / embedding-model training batches (ANCE-style
    mining, deterministic exact-scoring variant). Plan: the label filter
    rides INSIDE the broadcast join condition, so disqualified pairs are
    dropped before scoring; the corpus never shuffles (queries broadcast,
    same shape as q44) and the rank filter compiles to WindowGroupLimit.
    At 100 TB the mining runs against the IVF/SRP indexes instead (probe
    then label-filter candidates) — exact scoring is the oracle-checkable
    baseline, same contract as q44 vs q45."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 _as_double(F.col("embedding")).alias("qv"),
                 F.col("label").alias("q_label")))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   _as_double(F.col("embedding")).alias("cv"),
                   F.col("label").alias("neg_label"))
    scored = (c.join(F.broadcast(q),
                     (F.col("query_id") != F.col("neighbor_id"))
                     & (F.col("q_label") != F.col("neg_label")))
              .select("query_id", "neighbor_id", "neg_label",
                      cosine(F.col("qv"), F.col("cv")).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "neg_label",
                    F.round("sim", 6).alias("cosine_sim"), "rank"))


# ---------------------------------------------------------------------------
# q386 — IVF cell-balance drift audit (rebuild trigger for frozen codebooks)
# ---------------------------------------------------------------------------


@register(
    "q386_ivf_balance_audit",
    sql="""
    WITH cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
             embedding::DOUBLE[] AS cv
      FROM (SELECT * FROM embeddings WHERE vec_id % 10 <> 0
            ORDER BY vec_id LIMIT 16)
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cell,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY list_dot_product(v, cv)
                        / (sqrt(list_dot_product(v, v))
                           * sqrt(list_dot_product(cv, cv))) DESC,
                        cell ASC) AS rn
      FROM corpus CROSS JOIN cb
    ),
    cells AS (
      SELECT cell,
             count(*)::BIGINT AS n_vectors,
             sum(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_base,
             sum(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_appended
      FROM assign WHERE rn = 1 GROUP BY cell
    ),
    tot AS (SELECT sum(n_vectors)::DOUBLE AS n FROM cells)
    SELECT cell, n_vectors, n_base, n_appended,
           round(n_vectors * 16 / tot.n, 6) AS occupancy_ratio,
           n_vectors * 16 / tot.n > 2.0 AS overfull
    FROM cells CROSS JOIN tot ORDER BY cell
    """,
)
def q386_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational audit of the frozen-codebook trade ivf_index_append
    documents: as ingests accumulate, cell occupancy drifts away from the
    build's balance, and an overfull cell degrades every probe that hits
    it (its exact-scoring candidate set grows). This query reads the
    MATERIALIZED appended index (base + ingest generations — q378's
    fixture) and reports per-cell occupancy split by generation plus an
    ``overfull`` flag (>2× the uniform share) — the signal a maintenance
    scheduler turns into an offline re-train + rebuild. Pure metadata-
    shape work: one groupBy over the index's (cell, ingest) partition
    columns — column-pruned to zero vector bytes read — and a broadcast
    one-row total; the oracle replays the frozen-codebook assignment
    semantics in SQL. The same computation, generalized over any index
    via :func:`ivf_balance` (num_cells read from the codebook it
    audits)."""
    return ivf_balance(spark, _ivf_appended_index(spark, sf_dir))
