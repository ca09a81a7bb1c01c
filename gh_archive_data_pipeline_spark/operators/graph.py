"""Graph operators for dedup-cluster resolution.

Near-duplicate detection (operators/dedup.py, operators/similarity.py)
yields PAIRS; a training-data pipeline needs CLUSTERS — "these 5 documents
are all one document; keep the canonical one". That is connected components
over the pair graph, which Spark lacks natively.

Implementation: iterative min-label propagation as pure DataFrame ops.
Each round every node adopts the minimum label among itself and its
neighbors; convergence in O(graph diameter) rounds. Near-dup graphs have
tiny diameters (clusters are quasi-cliques — a duplicate of A and a
duplicate of B are usually duplicates of each other), so 3-5 rounds settle
real corpora; ``max_iters`` bounds pathological chains. Per round: one
join + one groupBy (both shuffle on node id — co-partitioned by AQE), and a
``localCheckpoint`` to truncate the growing lineage (at cluster scale:
checkpoint to reliable storage instead). The alternative for adversarial
diameters is the large-star/small-star algorithm (O(log n) rounds); the
round structure below is the same, only the propagation rule changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.arrays import sorted_pairs
from ..plans.registry import register


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Label every node with the smallest node id reachable from it.

    ``nodes``: one column ``node`` — must include isolated nodes.
    ``edges``: (``src``, ``dst``) pairs, treated as undirected.
    Returns (node, component) where component = min id in the node's
    connected component, after at most 25 label-propagation rounds.
    """
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    sym = (sym.union(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct()
           .localCheckpoint())
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(25):
        nbr = (sym.join(labels.withColumnRenamed("node", "a"), "a")
               .groupBy(F.col("b").alias("node"))
               .agg(F.min("label").alias("nbr_label")))
        stepped = (labels.join(nbr, "node", "left")
                   .select("node", "label",
                           F.least("label", F.coalesce("nbr_label", "label"))
                           .alias("new_label"))
                   .localCheckpoint())
        changed = stepped.filter(F.col("new_label") < F.col("label"))
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed.isEmpty():
            break
    return labels.select("node", F.col("label").alias("component"))


@register(
    "q84_dedup_clusters",
    sql="""
    WITH RECURSIVE
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id < 40
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')] END AS s
        FROM toks
    ),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE round(len(list_filter(a.s, x -> list_contains(b.s, x)))::DOUBLE
                    / (len(a.s) + len(b.s)
                       - len(list_filter(a.s, x -> list_contains(b.s, x)))), 6)
              >= 0.25
    ),
    edges AS (
        SELECT da AS src, db AS dst FROM pairs
        UNION
        SELECT db, da FROM pairs
    ),
    reach(node, root) AS (
        SELECT doc_id, doc_id FROM toks
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node AS doc_id, min(root) AS cluster_id
        FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           (doc_id = cluster_id) AS is_keeper
    FROM comp
    """,
)
def q84_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster resolution end-to-end: near-dup pairs (exact trigram
    Jaccard >= 0.25 on the bounded q41 window) → connected components →
    per-doc cluster id, cluster size, and keeper flag (min id is canonical).
    The DuckDB oracle computes the same components with a recursive CTE —
    an independent algorithm (transitive closure) pinning the clustering."""
    from ..sources.readers import load_table
    from .dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = (ngram_jaccard_pairs(docs)
             .filter(F.col("jaccard") >= 0.25)
             .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    comp = connected_components(docs.select(F.col("doc_id").alias("node")),
                                pairs)
    from pyspark.sql import Window
    w = Window.partitionBy("cluster_id")
    return (comp.select(F.col("node").alias("doc_id"),
                        F.col("component").alias("cluster_id"))
            .withColumn("cluster_size", F.count(F.lit(1)).over(w))
            .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id")))


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges: three rounds at
    damping 0.85, as pure DataFrame rounds.

    Each round is one join (ranks ⋈ edges on src) + one groupBy (dst) — the
    same two-shuffle envelope as connected_components above, and both
    shuffles key on the node id so AQE co-partitions consecutive rounds.
    Dangling nodes (no out-edges) follow the standard simplification of
    dropping their mass rather than redistributing it; the oracle mirrors
    that exactly. The single driver-side scalar is the node COUNT (needed in
    the teleport term) — O(1) bytes regardless of graph size.
    """
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .distinct()
             .localCheckpoint())
    n = nodes.count()
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    norm = (edges.join(out_w, "src")
            .select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
                    (F.col("weight") / F.col("out_w")).alias("p"))
            .localCheckpoint())
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(3):
        contribs = (norm.join(ranks.withColumnRenamed("node", "e_src"), "e_src")
                    .groupBy(F.col("e_dst").alias("node"))
                    .agg(F.sum(F.col("p") * F.col("rank")).alias("contrib")))
        ranks = (nodes.join(contribs, "node", "left")
                 .select("node",
                         (F.lit((1.0 - 0.85) / n)
                          + F.lit(0.85) * F.coalesce("contrib", F.lit(0.0)))
                         .alias("rank")))
    return ranks


@register(
    "q189_pagerank_event_graph",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    edges AS (
        SELECT event_type AS src, next_type AS dst, count(*)::DOUBLE AS w
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    params AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
    e AS (
        SELECT edges.src, edges.dst, w / out_w AS p
        FROM edges JOIN outw USING (src)
    ),
    r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN params),
    c1 AS (SELECT dst, sum(p * rank) AS c FROM e JOIN r0 ON e.src = r0.node GROUP BY dst),
    r1 AS (SELECT node, 0.15 / n + 0.85 * coalesce(c, 0) AS rank
           FROM nodes CROSS JOIN params LEFT JOIN c1 ON node = c1.dst),
    c2 AS (SELECT dst, sum(p * rank) AS c FROM e JOIN r1 ON e.src = r1.node GROUP BY dst),
    r2 AS (SELECT node, 0.15 / n + 0.85 * coalesce(c, 0) AS rank
           FROM nodes CROSS JOIN params LEFT JOIN c2 ON node = c2.dst),
    c3 AS (SELECT dst, sum(p * rank) AS c FROM e JOIN r2 ON e.src = r2.node GROUP BY dst),
    r3 AS (SELECT node, 0.15 / n + 0.85 * coalesce(c, 0) AS rank
           FROM nodes CROSS JOIN params LEFT JOIN c3 ON node = c3.dst)
    SELECT node AS event_type, round(rank, 6) AS pagerank
    FROM r3 ORDER BY pagerank DESC, event_type
    """,
)
def q189_pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the event-type transition graph:
    nodes are event types, edge weights are per-user consecutive-event
    transition counts (the q134 Markov graph). The oracle unrolls the same
    three iterations as SQL CTEs — an independent derivation pinning every
    rank. The graph here is small; the operator's plan (join + groupBy per
    round, node-count as the only driver scalar) is the one that runs on a
    billion-node web/citation graph unchanged."""
    from ..sources.readers import load_table
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (ev.select("event_type",
                       F.lead("event_type").over(w).alias("next_type"))
             .filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("src"),
                      F.col("next_type").alias("dst"))
             .agg(F.count(F.lit(1)).cast("double").alias("weight")))
    ranks = pagerank(edges)
    return (ranks.select(F.col("node").alias("event_type"),
                         F.round("rank", 6).alias("pagerank"))
            .orderBy(F.desc("pagerank"), "event_type"))


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges oriented low-id -> high-id: users who
    purchased within the same hour. Shared by the graph-statistics queries
    (q295/q309/q310); the per-hour pair blowup is bounded by hour-group
    size (k users -> k(k-1)/2 pairs).

    Plan: one aggregation collects each hour's purchasers as a sorted
    distinct array (``array_sort(collect_set(user_id))``), the pairs are
    emitted on the aggregate's side with :func:`sorted_pairs` (exactly the
    i < j pairs, no k^2 post-filter), and one ``distinct`` merges users who
    share several hours: one exchange of per-hour arrays where an hour
    self-join exchanges per-user rows twice, for the same edge set (pinned
    by unit test against the self-join). Purchases with a NULL hour (NULL
    ``ts``) or a NULL ``user_id`` form no edge.

    The 100× scale study (BASELINE.md round 4) measured this sub-linear
    because real event data grows hour COUNT, not hour-group size. The
    documented hazard is a FLASH event — one hour whose group genuinely
    densifies to k users and emits k²/2 pairs from one array. No hour is
    capped: a capped hour would subsample its clique and change the graph
    statistics (triangle counts, degree distributions) these edges feed."""
    from ..sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    users = F.array_sort(F.collect_set("user_id"))
    groups = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id", F.date_trunc("hour", "ts").alias("h"))
              .filter(F.col("h").isNotNull())
              .groupBy("h")
              .agg(users.alias("us")))
    return (groups.select(F.explode(sorted_pairs("us", "u", "v")).alias("p"))
            .select("p.u", "p.v")
            .distinct())


def degree_oriented(edges: DataFrame) -> DataFrame:
    """Re-orient undirected edges ``(u, v)`` from the LOW-degree endpoint to
    the HIGH-degree endpoint (ties broken by id). Returns ``(s, t, tk)``
    where ``tk = struct(d, n)`` is t's position in the total degree order —
    kept so wedge enumeration can order a node's out-neighbors without a
    global rank (struct comparison is lexicographic and JVM-side).

    This is the standard skew cap for wedge-based triangle counting
    (Chiba–Nishizeki / "compact-forward"): under degree orientation every
    out-neighborhood has size <= sqrt(2m), so the wedge self-join on ``s``
    generates at most O(m^1.5) rows TOTAL and no single join key explodes —
    a hub of degree k contributes 0 wedges as an apex (all its edges point
    IN) instead of k^2/2. The two degree-annotation joins broadcast the
    degree table (one row per node, at most 2m rows and in practice far
    fewer) and stream the edge list, which keeps its own partitioning. The
    hint is needed because Catalyst sizes an exploded-array frame like
    :func:`copurchase_edges`' output at a few bytes a row: left alone it
    broadcasts the EDGES and streams the degree aggregate, whose few
    coalesced partitions then carry every oriented edge (at 10x sf0.1: one
    task, q295 twice as slow)."""
    deg = (edges.select(F.col("u").alias("node"))
           .unionAll(edges.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).alias("d")))
    ed = (edges
          .join(F.broadcast(deg.select(F.col("node").alias("u"),
                                       F.col("d").alias("du"))), "u")
          .join(F.broadcast(deg.select(F.col("node").alias("v"),
                                       F.col("d").alias("dv"))), "v"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.struct(F.col("dv").alias("d"),
                                 F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"),
                            F.col("u").alias("n"))).alias("tk"))


@register(
    "q295_triangle_count",
    sql="""
    WITH pur AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM pur a JOIN pur b ON a.h = b.h AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT node, count(*)::DOUBLE AS d
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY node
    ),
    tri AS (
        SELECT count(*)::DOUBLE AS t
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wedge AS (
        SELECT sum(d * (d - 1) / 2) AS w, count(*) AS n_nodes
        FROM deg
    )
    SELECT CAST(w.n_nodes AS BIGINT) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(t.t AS BIGINT) AS n_triangles,
           round(3.0 * t.t / w.w, 6) AS clustering_coeff
    FROM tri t CROSS JOIN wedge w
    """,
)
def q295_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient on the co-purchase
    graph (users who purchased in the same hour share an edge). Algorithm:
    edge-iterator over DEGREE-ordered edges (``degree_oriented``: each
    edge points low-degree -> high-degree, ties by id) with materialized
    adjacency arrays — per node, the sorted out-neighbor list (size
    <= sqrt(2m) by the orientation bound); then each oriented edge (u,v)
    contributes |N+(u) ∩ N+(v)| triangles via JVM-side array_intersect.
    Under the total order a<b<c a triangle is counted exactly once, on its
    (a,b) edge. This shuffles only m edge rows + n adjacency rows — the
    wedge-close SELF-JOIN alternative materializes every wedge (22M rows
    at sf0.1; clique-shaped hour groups make most wedges close) and was
    measured 14x slower at 2x data when the closing join fell out of
    broadcast range. A hub user contributes zero out-edges as an apex, so
    no join key concentrates its neighborhood. The edges come from one
    sorted purchaser array per hour (:func:`copurchase_edges`: pairs
    emitted from the array, one distinct), so the co-occurrence blowup is
    bounded per hour-group (k users -> k(k-1)/2 pairs), the same contract
    as q41's candidate windows; a flash hour makes that bound loose."""
    edges = copurchase_edges(spark, sf_dir)
    # Materialize the oriented edge list ONCE (localCheckpoint truncates
    # lineage): deg, adjacency, the edge-iterator join and n_edges all read
    # it, and without the checkpoint each reference re-executes the
    # hour-group self-join + degree-annotation joins (~5 recomputes). The
    # checkpoint is the edge list only — O(m) narrow rows, the thing a
    # cluster would persist anyway between graph passes.
    o = degree_oriented(edges).select("s", "t").localCheckpoint()
    deg = (o.select(F.col("s").alias("node"))
           .unionAll(o.select(F.col("t").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("double").alias("d")))
    adj = (o.groupBy(F.col("s").alias("node"))
           .agg(F.sort_array(F.collect_list("t")).alias("nbrs")))
    tri = (o.join(adj.select(F.col("node").alias("s"),
                             F.col("nbrs").alias("s_nbrs")), "s")
           .join(adj.select(F.col("node").alias("t"),
                            F.col("nbrs").alias("t_nbrs")), "t")
           .select(F.size(F.array_intersect("s_nbrs", "t_nbrs"))
                   .alias("n_closed"))
           .agg(F.sum("n_closed").cast("double").alias("t")))
    wedge = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"),
                    F.count(F.lit(1)).alias("n_nodes"))
    n_edges = o.agg(F.count(F.lit(1)).alias("n_edges"))
    return (tri.crossJoin(F.broadcast(wedge))
            .crossJoin(F.broadcast(n_edges))
            .select(F.col("n_nodes").cast("bigint").alias("n_nodes"),
                    F.col("n_edges").cast("bigint").alias("n_edges"),
                    F.col("t").cast("bigint").alias("n_triangles"),
                    F.round(3.0 * F.col("t") / F.col("w"), 6)
                    .alias("clustering_coeff")))


@register(
    "q309_degree_powerlaw",
    sql="""
    WITH pur AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM pur a JOIN pur b ON a.h = b.h AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT node, count(*)::DOUBLE AS d
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY node
    ),
    dmin AS (SELECT min(d) AS dm FROM deg)
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(m.dm) AS BIGINT) AS d_min,
           CAST(max(deg.d) AS BIGINT) AS d_max,
           round(avg(deg.d), 4) AS mean_degree,
           round(1 + count(*) / sum(ln(deg.d / (m.dm - 0.5))), 6)
               AS alpha_mle
    FROM deg CROSS JOIN dmin m
    """,
)
def q309_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit for the co-purchase graph: the
    discrete maximum-likelihood exponent alpha = 1 + n / sum(ln(d /
    (d_min - 1/2))) (the Clauset-Shalizi-Newman estimator with the
    continuity correction). alpha tells you whether the graph has
    hub-and-spoke structure (2 < alpha < 3 — expect severe join skew on
    hub nodes, plan for salting) or a flat degree profile (alpha large —
    uniform shuffles are fine). One degree reduction + one scalar
    broadcast; the estimator itself is residue arithmetic."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (edges.select(F.col("u").alias("node"))
           .unionAll(edges.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("double").alias("d")))
    dmin = deg.agg(F.min("d").alias("dm"))
    return (deg.crossJoin(F.broadcast(dmin))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
                 F.min("dm").cast("bigint").alias("d_min"),
                 F.max("d").cast("bigint").alias("d_max"),
                 F.round(F.avg("d"), 4).alias("mean_degree"),
                 F.round(1 + F.count(F.lit(1))
                         / F.sum(F.log(F.col("d") / (F.col("dm") - 0.5))),
                         6).alias("alpha_mle")))


@register(
    "q310_degree_assortativity",
    sql="""
    WITH pur AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
        FROM events WHERE event_type = 'purchase'
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM pur a JOIN pur b ON a.h = b.h AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT node, count(*)::DOUBLE AS d
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY node
    ),
    ends AS (
        SELECT du.d AS da, dv.d AS db
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    sym AS (
        SELECT da, db FROM ends UNION ALL SELECT db, da FROM ends
    )
    SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
           round(corr(da, db), 6) AS assortativity
    FROM sym
    """,
)
def q310_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list.
    Positive = hubs link to hubs (social-network-like; hot shuffle
    partitions collide), negative = hubs link to leaves (star-like;
    broadcast the hub side). With q309's alpha this is the two-number
    summary of how the graph will behave under joins. Two broadcast-sized
    joins of the degree table onto the edge list, then one corr()
    reduction."""
    edges = copurchase_edges(spark, sf_dir)
    deg = (edges.select(F.col("u").alias("node"))
           .unionAll(edges.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("double").alias("d")))
    # broadcast hints: see degree_oriented (same estimate, same cure)
    du = F.broadcast(deg.select(F.col("node").alias("u"),
                                F.col("d").alias("da")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"),
                                F.col("d").alias("db")))
    ends = edges.join(du, "u").join(dv, "v").select("da", "db")
    sym = ends.unionAll(ends.select(F.col("db").alias("da"),
                                    F.col("da").alias("db")))
    return sym.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        F.round(F.corr("da", "db"), 6).alias("assortativity"))
