"""Unit tests for round-2 operators: connected components, reconciliation,
SCD2/gap/resample time-series primitives — semantics pinned on small crafted
inputs independent of the oracle fixtures.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators.graph import connected_components
from gh_archive_data_pipeline_spark.operators.reconcile import reconcile
from gh_archive_data_pipeline_spark.operators.timeseries import (
    resample,
    scd2_intervals,
    sequence_gaps,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, 0, 0) + dt.timedelta(minutes=minute)


def test_connected_components_chain_and_isolate(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11, isolated 99
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                  "node long")
    edges = spark.createDataFrame([(2, 1), (2, 3), (3, 4), (11, 10)],
                                  "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_converges_on_long_chain(spark):
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "src long, dst long")
    got = {r.node: r.component
           for r in connected_components(nodes, edges).collect()}
    assert set(got.values()) == {0}


def test_reconcile_classifications(spark):
    left = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "k int, s string, v double")
    right = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (3, None, 30.0), (5, "e", 50.0)],
        "k int, s string, v double")
    got = {r.k: r.status
           for r in reconcile(left, right, ["k"], ["s", "v"]).collect()}
    # NULL == NULL counts as a match (reconciliation semantics)
    assert got == {1: "match", 2: "mismatch", 3: "match",
                   4: "left_only", 5: "right_only"}


def test_scd2_intervals_open_tail(spark):
    ev = spark.createDataFrame(
        [(7, "a", _ts(0), 1), (7, "b", _ts(10), 2), (8, "x", _ts(5), 3)],
        "user_id long, event_type string, ts timestamp_ntz, event_id long")
    rows = {(r.user_id, r.valid_from): r for r in scd2_intervals(
        ev, key="user_id", ts="ts", attr_cols=["event_type"]).collect()}
    assert rows[(7, _ts(0))].valid_to == _ts(10)
    assert not rows[(7, _ts(0))].is_current
    assert rows[(7, _ts(10))].valid_to is None
    assert rows[(7, _ts(10))].is_current
    assert rows[(8, _ts(5))].is_current


def test_sequence_gaps_thresholds(spark):
    ev = spark.createDataFrame(
        [(1, _ts(0), 1), (1, _ts(30), 2), (1, _ts(200), 3),  # 170min gap
         (2, _ts(0), 4)],
        "user_id long, ts timestamp_ntz, event_id long")
    got = {r.user_id: r for r in sequence_gaps(
        ev, key="user_id", ts="ts").collect()}
    assert got[1].n_gaps_over == 1          # only the 170-minute gap > 1h
    assert got[1].max_gap_sec == 170 * 60
    assert got[2].n_gaps_over == 0 and got[2].max_gap_sec is None


def test_resample_fills_empty_buckets(spark):
    ev = spark.createDataFrame(
        [(1, _ts(0), 1.0), (1, _ts(150), 2.0)],   # 10:00 and 12:30
        "user_id long, ts timestamp_ntz, value double")
    rows = {r.hour: r for r in resample(
        ev, key="user_id", ts="ts", value="value").collect()}
    assert len(rows) == 3                          # 10:00, 11:00, 12:00
    assert rows[dt.datetime(2024, 1, 1, 11, 0)].n_events == 0
    assert rows[dt.datetime(2024, 1, 1, 11, 0)].total_value == 0.0
    assert rows[dt.datetime(2024, 1, 1, 12, 0)].n_events == 1


def test_hll_incremental_distinct_error_bound(spark):
    """Merged HLL estimates must sit within ~2% of exact distincts (lgk=14
    gives ~0.8% standard error; 2% is a comfortable pytest bound). The
    split/merge estimate is recomputed here independently of the registry
    query (whose output is now the tolerance-oracle form: exact + bound
    boolean)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    cutoff = F.lit("2001-01-01").cast("timestamp_ntz")

    def sketch(df):
        return df.groupBy("o_orderpriority").agg(
            F.hll_sketch_agg("o_custkey", 14).alias("sk"))

    merged = (sketch(orders.filter(F.col("o_orderdate") < cutoff))
              .unionByName(
                  sketch(orders.filter(F.col("o_orderdate") >= cutoff)))
              .groupBy("o_orderpriority")
              .agg(F.hll_union_agg("sk").alias("sk")))
    got = {r.o_orderpriority: r.est for r in merged.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("est")).collect()}
    exact = {r.o_orderpriority: r.n for r in orders.groupBy("o_orderpriority")
             .agg(F.count_distinct("o_custkey").alias("n")).collect()}
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) / exact[k] < 0.02, (k, est, exact[k])
    # and the registry form agrees: exacts match, bound booleans all true
    reg = all_queries()["q100_hll_incremental_distinct"].fn(spark, sf).collect()
    assert all(r.hll_within_2pct for r in reg)
    assert {r.o_orderpriority: r.exact_distinct_customers
            for r in reg} == exact


def test_freq_items_superset_of_true_heavy_hitters(spark):
    """freqItems may return false positives but never misses a true heavy
    hitter above the support threshold."""
    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    n = ev.count()
    true_hh = {r.event_type for r in
               ev.groupBy("event_type").count()
               .filter(F.col("count") > 0.05 * n).collect()}
    got = {r.event_type for r in
           ev.stat.freqItems(["event_type"], support=0.05)
           .select(F.explode("event_type_freqItems").alias("event_type"))
           .collect()}
    assert true_hh <= got


def test_approx_percentiles_within_bound(spark):
    """percentile_approx(accuracy=10000) must land within 0.5% (relative)
    of the exact percentile for each group — computed here independently of
    the registry query (whose output is now the tolerance-oracle form)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    approx = {r.l_returnflag: r for r in
              li.groupBy("l_returnflag")
              .agg(*[F.percentile_approx("l_extendedprice", p, 10_000)
                     .alias(f"p{int(p*100):02d}")
                     for p in (0.25, 0.5, 0.75, 0.99)]).collect()}
    exact = {r.l_returnflag: r for r in
             li.groupBy("l_returnflag")
             .agg(*[F.expr(f"percentile(l_extendedprice, {p})")
                    .alias(f"p{int(p*100):02d}")
                    for p in (0.25, 0.5, 0.75, 0.99)]).collect()}
    for k, a in approx.items():
        for col in ("p25", "p50", "p75", "p99"):
            e = exact[k][col]
            assert abs(a[col] - e) / e < 0.005, (k, col, a[col], e)
    # registry form: bound booleans all true at the driver SF too
    reg = all_queries()["q111_approx_percentiles"].fn(spark, sf).collect()
    assert all(r.approx_within_half_pct for r in reg)


def test_cms_overestimates_within_bound(spark):
    """Count-min sketch contract: est >= exact for every key, and the mean
    overestimate stays within the CMS expected bound e*N/width."""
    import math

    from gh_archive_data_pipeline_spark.operators.sampling import (
        CMS_WIDTH, cms_build, cms_estimate,
    )

    sf = "/root/testdata/sf0.01"
    events = spark.read.parquet(f"{sf}/events.parquet")
    n_total = events.count()
    sketch = cms_build(events, "user_id")
    probes = events.select("user_id").distinct()
    est = {r.user_id: r.est_count
           for r in cms_estimate(sketch, probes, "user_id").collect()}
    exact = {r.user_id: r.c
             for r in events.groupBy("user_id")
             .agg(F.count("*").alias("c")).collect()}
    assert set(est) == set(exact)
    overs = []
    for k, e in exact.items():
        assert est[k] >= e, (k, est[k], e)
        overs.append(est[k] - e)
    assert sum(overs) / len(overs) <= math.e * n_total / CMS_WIDTH


def test_cms_merges_across_shards(spark):
    """Sketches built on disjoint shards, unioned and re-summed, must equal
    the sketch built on the full table — the mergeability contract."""
    from gh_archive_data_pipeline_spark.operators.sampling import cms_build

    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf}/events.parquet")
    full = cms_build(events, "user_id")
    a = cms_build(events.where("event_id % 2 = 0"), "user_id")
    b = cms_build(events.where("event_id % 2 = 1"), "user_id")
    merged = (a.unionByName(b).groupBy("depth", "bucket")
              .agg(F.sum("c").alias("c")))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_zorder_clusters_both_dimensions(spark):
    """Sorting by the Morton code must bound BOTH dimensions per chunk far
    better than a linear sort bounds its non-sorted dimension: with 16x16
    buckets split into 16 z-ordered chunks, each chunk spans at most half
    of each axis (a linear x-sort leaves y spanning the full axis)."""
    from gh_archive_data_pipeline_spark.operators.layout import (
        _interleave_sql,
    )

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x int, y int").withColumn(
        "z", F.expr(_interleave_sql("x", "y", spark_dialect=True)))
    ordered = [ (r.x, r.y) for r in df.orderBy("z").collect() ]
    chunk = len(ordered) // 16
    for i in range(16):
        part = ordered[i * chunk:(i + 1) * chunk]
        xs = [p[0] for p in part]
        ys = [p[1] for p in part]
        assert max(xs) - min(xs) <= 8, (i, min(xs), max(xs))
        assert max(ys) - min(ys) <= 8, (i, min(ys), max(ys))


def test_weighted_sample_biases_toward_heavy_docs(spark):
    """A-ES sampling contract: the 50 sampled docs' mean length must exceed
    the corpus mean (weights are n_chars), and the sample must be replayable
    (identical doc_ids across two runs)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.01"
    fn = all_queries()["q129_weighted_sample"].fn
    s1 = [r.doc_id for r in fn(spark, sf).collect()]
    s2 = [r.doc_id for r in fn(spark, sf).collect()]
    assert s1 == s2
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample_mean = (docs.where(F.col("doc_id").isin(s1))
                   .agg(F.avg("n_chars")).first()[0])
    assert sample_mean > corpus_mean


def test_pca_power_iteration_matches_numpy(spark):
    """On data with a planted dominant direction (clear λ1/λ2 gap), the
    power-iteration component must align with NumPy's exact eigenvector
    (|cos| > 0.999) and the eigenvalue must match within 0.5%."""
    import numpy as np

    from gh_archive_data_pipeline_spark.operators.linalg import (
        DIM, pca_top_component,
    )

    rng = np.random.RandomState(7)
    direction = rng.randn(DIM)
    direction /= np.linalg.norm(direction)
    X = rng.randn(400, DIM) * 0.1 + np.outer(rng.randn(400), direction)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    v, eigenvalue, share = pca_top_component(emb)

    C = np.cov((X - X.mean(axis=0)).T, bias=True)
    evals, evecs = np.linalg.eigh(C)
    cos = abs(float(np.dot(evecs[:, -1], np.array(v))))
    assert cos > 0.999, cos
    assert abs(eigenvalue - evals[-1]) / evals[-1] < 5e-3
    assert share > 0.5  # planted direction dominates total variance


def test_pca_rayleigh_bound_on_isotropic_fixture(spark):
    """The fixture embeddings are near-isotropic (λ1/λ2 ≈ 1.01), where NO
    fixed-iteration method can pin the exact eigenvector — but the returned
    direction's Rayleigh quotient must still sit at the very top of the
    spectrum (≥ 97% of λ1)."""
    import numpy as np

    from gh_archive_data_pipeline_spark.operators.linalg import (
        pca_top_component,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    v, eigenvalue, share = pca_top_component(emb)

    X = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    C = np.cov((X - X.mean(axis=0)).T, bias=True)
    lam1 = np.linalg.eigvalsh(C)[-1]
    vv = np.array(v)
    rq = float(vv @ C @ vv)
    assert rq >= 0.97 * lam1, (rq, lam1)
    assert abs(eigenvalue - rq) / rq < 0.02


def test_kmeans_matches_numpy_lloyd(spark):
    """The distributed Lloyd iterations must track a NumPy reference running
    the identical algorithm (same seeds, same iteration count): ≥98%
    assignment agreement and inertia within 1%."""
    import numpy as np

    from gh_archive_data_pipeline_spark.operators.linalg import kmeans

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    centroids, assigned = kmeans(emb)
    got = {r.vec_id: (r.cluster, r.d2) for r in assigned.collect()}

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    C = X[:8].copy()
    for _ in range(5):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(8):
            if (a == j).any():
                C[j] = X[a == j].mean(axis=0)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    agree = sum(got[i][0] == int(a[n]) for n, i in enumerate(ids)) / len(ids)
    assert agree >= 0.98, agree
    inertia_spark = sum(v[1] for v in got.values())
    inertia_np = float(d.min(axis=1).sum())
    assert abs(inertia_spark - inertia_np) / inertia_np < 0.01


def test_resize_plan_preserves_aspect_and_bounds(spark):
    """Resize audit contract: target dims fit in 224x224, the long side is
    exactly 224, and aspect ratio error is bounded by integer flooring."""
    from gh_archive_data_pipeline_spark.operators.multimodal import (
        resize_plan, with_binary_payload,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rows = resize_plan(with_binary_payload(docs)).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert max(r.target_width, r.target_height) == 224
        assert r.target_width <= 224 and r.target_height <= 224
        assert r.scale_den == max(r.fake_width, r.fake_height)
        # integer flooring distorts the ratio by at most ~1/short_side;
        # the short target side is >= 224/9 here, so 5% relative bounds it
        got = r.target_width / r.target_height
        want = r.fake_width / r.fake_height
        assert abs(got - want) / want <= 0.05


def test_dedup_pipeline_consistency(spark):
    """dedup_pipeline contract: every doc appears exactly once, each
    cluster has exactly one representative, cluster sizes agree, and every
    near-dup pair from the pairwise stage shares a cluster."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        dedup_pipeline, minhash_near_dup,
    )

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = dedup_pipeline(docs).collect()
    assert len(out) == docs.count()
    by_cluster = {}
    cluster_of = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
        cluster_of[r.doc_id] = r.cluster
    for cid, members in by_cluster.items():
        assert sum(m.is_representative for m in members) == 1, cid
        assert all(m.cluster_size == len(members) for m in members)
    pairs = minhash_near_dup(docs, threshold=0.3).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert cluster_of[p.doc_a] == cluster_of[p.doc_b]


def test_trigram_ratio_orders_repetition_like_zlib(spark):
    """q175's trigram surrogate must order repetitive text strictly below
    high-entropy text, as zlib's compression ratio does — the property
    that lets the oracle-checked surrogate stand in for zlib."""
    import zlib

    from gh_archive_data_pipeline_spark.operators.text_queries import (
        _trigram_ratio)

    texts = {1: "spam " * 200,
             2: "".join(chr(33 + (i * 7919) % 90) for i in range(1000))}
    crafted = spark.createDataFrame(list(texts.items()),
                                    "doc_id long, text string")
    got = {r.doc_id: r.trigram_ratio for r in crafted.select(
        "doc_id", _trigram_ratio().alias("trigram_ratio")).collect()}
    zl = {d: len(zlib.compress(t.encode(), 6)) / len(t.encode())
          for d, t in texts.items()}
    assert zl[1] < 0.1 < zl[2]
    assert got[1] < got[2]


def test_audio_energy_frames_deterministic_and_bounded(spark):
    """Audio stub contract: 8 frames per asset, identical across runs
    (digest-derived, not hash()-salted), rms <= peak <= 32768."""
    from gh_archive_data_pipeline_spark.operators.multimodal import (
        audio_energy_frames, with_binary_payload,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    a = audio_energy_frames(with_binary_payload(docs)).collect()
    b = audio_energy_frames(with_binary_payload(docs)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == docs.count() * 8
    for r in a:
        assert 0 <= r.rms <= r.peak <= 32768


def test_pagerank_symmetric_cycle(spark):
    # a<->b with equal weights: ranks stay equal and sum to 1 (no dangling)
    from gh_archive_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, weight double")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert ranks["a"] == pytest.approx(0.5)
    assert ranks["b"] == pytest.approx(0.5)


def test_pagerank_sink_attracts_mass(spark):
    # star a->c, b->c plus c->a, c->b: c gets more than a or b
    from gh_archive_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0), ("c", "b", 1.0)],
        "src string, dst string, weight double")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert ranks["c"] > ranks["a"]
    assert ranks["a"] == pytest.approx(ranks["b"])
    assert sum(ranks.values()) == pytest.approx(1.0)  # no dangling nodes


def test_capped_sessions_slices_long_burst(spark, sf_dir):
    # 250 events 1s apart = one gap-session -> 3 cap slices (100/100/50)
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q190_capped_sessions,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(i, dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=i), 7)
            for i in range(250)]
    burst = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: burst
        # the query module binds load_table at module import; patch there too
        import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
        tsmod.load_table = lambda sp, d, n: burst
        out = q190_capped_sessions(spark, sf_dir).orderBy("cap_slice").collect()
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert [r["n_events"] for r in out] == [100, 100, 50]
    assert [r["cap_slice"] for r in out] == [0, 1, 2]
    # slices tile the burst contiguously
    assert out[0]["end_us"] < out[1]["start_us"] < out[1]["end_us"] < out[2]["start_us"]


def test_wordpiece_reference_segmentation():
    from gh_archive_data_pipeline_spark.operators.tokenize import wordpiece_word

    # multi-piece words follow greedy longest-match with ## continuations
    assert wordpiece_word("window") == ["wind", "##ow"]
    assert wordpiece_word("spark") == ["sp", "##ark"]
    assert wordpiece_word("query") == ["quer", "##y"]
    # 'windy': 'wind' then single-char fallback
    assert wordpiece_word("windy") == ["wind", "##y"]
    # word with no multi-char match: all single-char pieces
    assert wordpiece_word("cat") == ["c", "##a", "##t"]
    # greedy means longest first even when shorter pieces exist
    assert wordpiece_word("merge") == ["mer", "##ge"]
    # round trip: stripping ## markers reconstructs the word
    for w in ["window", "sparkly", "filter", "zzz9"]:
        pieces = wordpiece_word(w)
        assert "".join(p.removeprefix("##") for p in pieces) == w
        assert all(p.startswith("##") for p in pieces[1:])
        assert not pieces[0].startswith("##")


def test_pav_isotonic_pools_violators():
    # bins: rates [0.1, 0.5, 0.3, 0.8] with weights [10, 10, 30, 10]:
    # 0.5 > 0.3 violates -> pool to (10*0.5+30*0.3)/40 = 0.35; monotone after
    from gh_archive_data_pipeline_spark.functions.udfs import pav_isotonic

    pdf = pd.DataFrame({"score": [3, 0, 1, 2],  # unsorted on purpose
                        "w": [10.0, 10.0, 10.0, 30.0],
                        "y": [0.8, 0.1, 0.5, 0.3]})
    out = pav_isotonic(pdf)
    assert out["score"].tolist() == [0, 1, 2, 3]
    assert out["iso_rate"].tolist() == [0.1, 0.35, 0.35, 0.8]
    # PAV preserves the weighted mean within pooled blocks and overall
    assert (out["iso_rate"] * [10, 10, 30, 10]).sum() == pytest.approx(
        (pdf["w"] * pdf["y"]).sum())
    # monotone non-decreasing
    assert out["iso_rate"].is_monotonic_increasing


def test_pav_isotonic_identity_when_monotone():
    from gh_archive_data_pipeline_spark.functions.udfs import pav_isotonic

    pdf = pd.DataFrame({"score": [0, 1, 2], "w": [5.0, 5.0, 5.0],
                        "y": [0.1, 0.2, 0.9]})
    out = pav_isotonic(pdf)
    assert out["iso_rate"].tolist() == [0.1, 0.2, 0.9]


def test_poisson_bootstrap_weights_distribution(spark):
    # the md5-derived Poisson(1) weights should average ~1 with P(0)~e^-1
    sdf = spark.range(20_000).select(
        (F.conv(F.substring(F.md5(F.concat(F.lit("boot-0-"),
                                           F.col("id").cast("string"))),
                            1, 8), 16, 10).cast("bigint")
         / F.lit(4294967296.0)).alias("u"))
    w = (F.when(F.col("u") < 0.3678794412, 0)
         .when(F.col("u") < 0.7357588823, 1)
         .when(F.col("u") < 0.9196986029, 2)
         .when(F.col("u") < 0.9810118431, 3)
         .when(F.col("u") < 0.9963401532, 4)
         .when(F.col("u") < 0.9994058152, 5).otherwise(6))
    row = sdf.select(w.alias("w")).agg(
        F.avg("w").alias("mean"),
        F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
    ).collect()[0]
    assert row["mean"] == pytest.approx(1.0, abs=0.03)
    assert row["p0"] == pytest.approx(0.3679, abs=0.02)


def test_bh_fdr_step_up_rule(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import q287_fdr_bh

    out = q287_fdr_bh(spark, sf_dir).collect()
    assert len(out) == 25  # one hypothesis per nation
    # ranks are a permutation 1..25 and p is non-decreasing in rank
    assert sorted(r["p_rank"] for r in out) == list(range(1, 26))
    ordered = sorted(out, key=lambda r: r["p_rank"])
    ps = [r["p_value"] for r in ordered]
    assert ps == sorted(ps)
    # rejected set is a prefix of the p-ordered list (step-up property)
    flags = [r["rejected"] for r in ordered]
    assert flags == sorted(flags, reverse=True)


def test_sorted_neighborhood_candidates_have_high_sim(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.dedup import (
        q289_sorted_neighborhood,
    )

    out = q289_sorted_neighborhood(spark, sf_dir).collect()
    assert len(out) > 0  # fixture plants near-duplicates
    for r in out:
        assert 0.4 <= r["sim"] <= 1.0
        assert r["a_id"] != r["b_id"]


def test_quota_allocation_sums_to_budget(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q293_quota_allocation,
    )

    out = q293_quota_allocation(spark, sf_dir).collect()
    assert sum(r["final_alloc"] for r in out) == 1000
    # each final allocation is within 1 of the exact share (quota property)
    for r in out:
        assert abs(r["final_alloc"] - r["exact_share"]) < 1.0


def test_conformal_coverage_near_nominal(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q292_conformal_interval,
    )

    out = q292_conformal_interval(spark, sf_dir).collect()
    assert len(out) == 5  # one row per order priority
    for r in out:
        assert r["q_hat"] > 0
        # split-conformal guarantees coverage >= ~alpha on exchangeable
        # data; finite-sample slack at sf0.001 is wide but bounded
        assert 0.6 <= r["coverage"] <= 1.0


def test_cuped_preserves_arm_ordering_and_reduces_variance(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import q290_cuped

    out = {r["variant"]: r for r in q290_cuped(spark, sf_dir).collect()}
    assert set(out) == {"control", "treatment"}
    # theta shared across arms; variance never increases (theta optimal)
    assert out["control"]["theta"] == out["treatment"]["theta"]
    assert out["control"]["var_reduction"] >= 0


def test_brier_identity(spark, sf_dir):
    # Murphy: brier = reliability - resolution + uncertainty
    from gh_archive_data_pipeline_spark.operators.features import (
        q294_brier_decomposition,
    )

    r = q294_brier_decomposition(spark, sf_dir).collect()[0]
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=1e-5)
    assert 0 <= r["brier"] <= 1


def test_rrf_rewards_agreement(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q291_rrf_fusion,
    )

    out = q291_rrf_fusion(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    # rrf strictly computed from the two ranks
    for r in out:
        assert r["rrf"] == pytest.approx(
            1 / (60 + r["rank_a"]) + 1 / (60 + r["rank_b"]), abs=1e-6)
    # output sorted by fused score
    scores = [r["rrf"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_triangle_count_known_graph(spark):
    # 4 purchases in one hour -> K4: 6 edges, 4 triangles, gcc = 1
    import gh_archive_data_pipeline_spark.operators.graph as gmod
    from gh_archive_data_pipeline_spark.operators.graph import (
        q295_triangle_count,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(i, dt.datetime(2024, 1, 1, 10, i), i, "purchase")
            for i in range(4)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        out = q295_triangle_count(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
    assert out["n_nodes"] == 4
    assert out["n_edges"] == 6
    assert out["n_triangles"] == 4
    assert out["clustering_coeff"] == pytest.approx(1.0)


def test_degree_oriented_star_hub_has_zero_out_degree(spark):
    """Skew cap: under degree orientation a hub (star center) has ZERO
    out-edges — all star edges point leaf -> hub — so the wedge self-join
    apex key never concentrates a hot node's neighborhood. The previous
    id-ordered orientation gave a low-id hub out-degree k (k^2/2 wedges on
    one key)."""
    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.operators.graph import degree_oriented

    # star: hub 0 <-> leaves 1..100, plus one leaf-leaf edge (1,2) to make
    # one triangle and break total symmetry
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 101)] + [(1, 2)], "u long, v long")
    o = degree_oriented(edges)
    out_deg = {r["s"]: r["n"] for r in
               o.groupBy("s").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0 not in out_deg  # hub is never an apex
    assert max(out_deg.values()) <= 2  # leaves 1,2 have degree 2; rest 1
    # orientation preserves the edge set (as undirected pairs)
    undirected = {(min(r["s"], r["t"]), max(r["s"], r["t"]))
                  for r in o.collect()}
    assert undirected == {(0, i) for i in range(1, 101)} | {(1, 2)}
    # and the wedge-close pattern still finds exactly the one triangle
    o1, o2, o3 = o.alias("o1"), o.alias("o2"), o.alias("o3")
    tri = (o1.join(o2, (F.col("o2.s") == F.col("o1.s"))
                   & (F.col("o1.tk") < F.col("o2.tk")))
           .join(o3, (F.col("o3.s") == F.col("o1.t"))
                 & (F.col("o3.t") == F.col("o2.t"))).count())
    assert tri == 1


def test_ols_normal_equations_recovers_exact_fit(spark):
    # y = 10 + 2*x1 + 3*x2 exactly -> betas recovered, r2 = 1
    import gh_archive_data_pipeline_spark.operators.features as fmod
    from gh_archive_data_pipeline_spark.operators.features import (
        q296_ols_normal_equations,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    li_rows, o_rows = [], []
    for ok in range(1, 30):
        n_lines = 1 + ok % 4
        qty_each = float(ok % 7 + 1)
        for ln in range(n_lines):
            li_rows.append((ok, qty_each))
        x1, x2 = qty_each * n_lines, float(n_lines)
        o_rows.append((ok, 10.0 + 2.0 * x1 + 3.0 * x2))
    li = spark.createDataFrame(li_rows, "l_orderkey long, l_quantity double")
    orders = spark.createDataFrame(o_rows,
                                   "o_orderkey long, o_totalprice double")
    tables = {"lineitem": li, "orders": orders}
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: tables[n]
        fmod.load_table = lambda sp, d, n: tables[n]
        out = q296_ols_normal_equations(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        fmod.load_table = orig
    assert out["beta0"] == pytest.approx(10.0, abs=1e-3)
    assert out["beta1"] == pytest.approx(2.0, abs=1e-3)
    assert out["beta2"] == pytest.approx(3.0, abs=1e-3)
    assert out["r2"] == pytest.approx(1.0, abs=1e-5)


def test_fd_discovery_flags_keys_as_holding(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.quality import (
        q297_fd_discovery,
    )

    out = {r["fd"]: r for r in q297_fd_discovery(spark, sf_dir).collect()}
    # key-determined dependencies hold by construction
    assert out["customer.c_custkey->c_mktsegment"]["holds"] == 1
    assert out["nation.n_nationkey->n_regionkey"]["holds"] == 1
    for r in out.values():
        assert 0.0 <= r["violation_rate"] <= 1.0
        assert (r["holds"] == 1) == (r["n_violations"] == 0)


def _patch_events(spark, rows, schema, module):
    import gh_archive_data_pipeline_spark.sources.readers as readers

    ev = spark.createDataFrame(rows, schema)
    return readers, ev, module


def test_mann_kendall_detects_strict_trend(spark):
    # strictly increasing daily revenue -> S = n(n-1)/2, strong positive z
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q298_mann_kendall,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(i, dt.datetime(2024, 1, 1 + i, 12), 1,
             "purchase", 100.0 + 10 * i)
            for i in range(10)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q298_mann_kendall(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert out["s_stat"] == 45  # 10*9/2 — every pair concordant
    assert out["z"] > 2.5


def test_theil_sen_exact_on_linear_series(spark):
    # y = 50 + 7*d exactly -> slope 7, intercept 50 (robust to one outlier)
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q299_theil_sen,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    for i in range(12):
        v = 50.0 + 7.0 * (19723 + i)  # 19723 = epoch day of 2024-01-01
        if i == 5:
            v += 500.0  # outlier day
        rows.append((i, dt.datetime(2024, 1, 1 + i, 12), 1, "purchase", v))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q299_theil_sen(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert out["slope"] == pytest.approx(7.0, abs=0.01)
    assert out["intercept"] == pytest.approx(50.0, abs=1.0)


def test_rolling_backtest_perfect_on_constant_series(spark):
    # constant daily count -> trailing-mean forecast is exact, all errors 0
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q300_rolling_backtest,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(d * 10 + k, dt.datetime(2024, 1, 1 + d, k), k, "click", 1.0)
            for d in range(12) for k in range(3)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q300_rolling_backtest(spark, "unused").collect()
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert len(out) == 1
    assert out[0]["n_forecasts"] == 5  # days 8..12 have full 7-day history
    assert out[0]["mae"] == 0.0
    assert out[0]["rmse"] == 0.0


def test_embedding_anisotropy_shape(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q301_embedding_anisotropy,
    )

    r = q301_embedding_anisotropy(spark, sf_dir).collect()[0]
    assert r["n_pairs"] > 0
    assert -1.0 <= r["p05_cos"] <= r["p95_cos"] <= 1.0
    assert r["sd_cos"] > 0


def test_blocking_recall_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.dedup import (
        q302_blocking_recall_audit,
    )

    r = q302_blocking_recall_audit(spark, sf_dir).collect()[0]
    assert r["n_truth"] > 0  # fixture plants near-duplicates
    assert 0 <= r["n_hits"] <= r["n_truth"]
    assert 0.0 <= r["recall"] <= 1.0
    # candidate set is the w=2 sorted-neighborhood: at most 2 pairs per doc
    assert r["n_candidates"] <= 2 * 500


def test_entropy_rate_uniform_chain(spark):
    # uniform 2-state alternation: every state deterministic -> 0 bits;
    #uniform random transitions -> 1 bit. Build the deterministic case.
    import gh_archive_data_pipeline_spark.plans.advanced as amod
    from gh_archive_data_pipeline_spark.plans.advanced import (
        q303_markov_entropy_rate,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(i, dt.datetime(2024, 1, 1, 0, 0, i), 1,
             "click" if i % 2 == 0 else "view")
            for i in range(40)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        amod.load_table = lambda sp, d, n: ev
        out = q303_markov_entropy_rate(spark, "unused").collect()
    finally:
        readers.load_table = orig
        amod.load_table = orig
    # deterministic alternation: H(next|state) = 0 for both states
    assert all(r["h_cond_bits"] == 0.0 for r in out)
    assert all(r["entropy_rate_bits"] == 0.0 for r in out)


def test_hurst_fixture_in_valid_range(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q304_hurst_exponent,
    )

    out = q304_hurst_exponent(spark, sf_dir).collect()
    assert [r["m"] for r in out] == [5, 10, 15]
    # avg R/S grows with block size; H in (0, 1) for any real series
    rs = [r["avg_rs"] for r in out]
    assert rs == sorted(rs)
    h = out[0]["hurst"]
    assert 0.0 < h < 1.0
    assert all(r["hurst"] == h for r in out)


def test_wasserstein_identical_distributions_is_zero(spark):
    # click and purchase drawn from identical values -> W1 = 0, KS = 0
    import gh_archive_data_pipeline_spark.operators.features as fmod
    from gh_archive_data_pipeline_spark.operators.features import (
        q305_wasserstein_1d,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    for i in range(50):
        rows.append((2 * i, dt.datetime(2024, 1, 1), 1, "click",
                     float(i % 10)))
        rows.append((2 * i + 1, dt.datetime(2024, 1, 1), 1, "purchase",
                     float(i % 10)))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        fmod.load_table = lambda sp, d, n: ev
        r = q305_wasserstein_1d(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        fmod.load_table = orig
    assert r["w1_distance"] == 0.0
    assert r["ks_gap"] == 0.0


def test_wasserstein_shifted_distribution(spark):
    # purchase = click + 5 exactly -> W1 = 5 (mass moves 5 units)
    import gh_archive_data_pipeline_spark.operators.features as fmod
    from gh_archive_data_pipeline_spark.operators.features import (
        q305_wasserstein_1d,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    for i in range(40):
        rows.append((2 * i, dt.datetime(2024, 1, 1), 1, "click",
                     float(i % 8)))
        rows.append((2 * i + 1, dt.datetime(2024, 1, 1), 1, "purchase",
                     float(i % 8) + 5.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        fmod.load_table = lambda sp, d, n: ev
        r = q305_wasserstein_1d(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        fmod.load_table = orig
    assert r["w1_distance"] == pytest.approx(5.0, abs=1e-6)


def test_tail_dependence_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q306_tail_dependence,
    )

    r = q306_tail_dependence(spark, sf_dir).collect()[0]
    assert 0.0 <= r["lambda_upper"] <= 1.0
    assert 0.0 <= r["lambda_lower"] <= 1.0


def test_acf_lag_structure(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q307_autocorrelation,
    )

    out = q307_autocorrelation(spark, sf_dir).collect()
    assert [r["lag"] for r in out] == list(range(1, 8))
    # longer lags have fewer pairs; all correlations bounded
    ns = [r["n_pairs"] for r in out]
    assert ns == sorted(ns, reverse=True)
    assert all(-1.0 <= r["acf"] <= 1.0 for r in out)


def test_srm_check_balanced_hash_split(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q308_srm_check,
    )

    r = q308_srm_check(spark, sf_dir).collect()[0]
    # md5 split is unbiased: no SRM flag on fixture data
    assert r["srm_flag"] == 0
    assert r["p_value"] > 0.001
    assert r["n_control"] + r["n_treatment"] > 0


def test_degree_powerlaw_alpha_known_graph(spark):
    # star K1,4 in one hour: center degree 4, leaves degree 1 each... the
    # co-purchase graph of one hour is a CLIQUE, so use two hours instead:
    # hour A: users {1,2} (edge 1-2); hour B: users {1,3} (edge 1-3)
    import gh_archive_data_pipeline_spark.sources.readers as readers
    from gh_archive_data_pipeline_spark.operators.graph import (
        q309_degree_powerlaw,
    )

    rows = [(1, dt.datetime(2024, 1, 1, 10), 1, "purchase"),
            (2, dt.datetime(2024, 1, 1, 10), 2, "purchase"),
            (3, dt.datetime(2024, 1, 1, 11), 1, "purchase"),
            (4, dt.datetime(2024, 1, 1, 11), 3, "purchase")]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        out = q309_degree_powerlaw(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
    assert out["n_nodes"] == 3
    assert out["d_min"] == 1 and out["d_max"] == 2
    # alpha = 1 + 3 / (ln(2/0.5) + ln(1/0.5) + ln(1/0.5)) = 1 + 3/ln(16)
    import math
    assert out["alpha_mle"] == pytest.approx(1 + 3 / math.log(16), abs=1e-4)


def test_assortativity_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.graph import (
        q310_degree_assortativity,
    )

    r = q310_degree_assortativity(spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_edges"] > 0


def test_threshold_sweep_monotone(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.dedup import (
        q311_dedup_threshold_sweep,
    )

    out = q311_dedup_threshold_sweep(spark, sf_dir).collect()
    assert len(out) == 5
    pairs = [r["n_pairs"] for r in out]
    docs = [r["n_docs_affected"] for r in out]
    # raising the threshold can only shrink the hit sets
    assert pairs == sorted(pairs, reverse=True)
    assert docs == sorted(docs, reverse=True)


def test_horvitz_thompson_reasonable_estimate(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.sampling import (
        q312_horvitz_thompson,
    )

    r = q312_horvitz_thompson(spark, sf_dir).collect()[0]
    assert 0 < r["n_sampled"] < r["n_population"]
    # HT is unbiased; on the fixture one deterministic draw lands within 20%
    assert r["rel_error"] < 0.2


def test_effect_heterogeneity_consistency(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q313_effect_heterogeneity,
    )

    out = q313_effect_heterogeneity(spark, sf_dir).collect()
    if not out:  # tiny SF can have degenerate cells; structure test only
        return
    pooled = out[0]["pooled_effect"]
    # pooled effect is shared and lies within the per-segment effect range
    assert all(r["pooled_effect"] == pooled for r in out)
    effs = [r["effect"] for r in out]
    assert min(effs) - 1e-9 <= pooled <= max(effs) + 1e-9
    assert all(0.0 <= r["i_squared"] <= 1.0 for r in out)


def test_threshold_selection_confusion_consistency(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q314_threshold_selection,
    )

    out = q314_threshold_selection(spark, sf_dir).collect()
    assert len(out) == 12
    # recall is non-increasing in the threshold; exactly >=1 best-F1 rows
    recalls = [r["recall_"] for r in out]
    assert recalls == sorted(recalls, reverse=True)
    assert sum(r["is_best_f1"] for r in out) >= 1
    best = max(r["f1"] for r in out)
    assert all((r["f1"] == best) == bool(r["is_best_f1"]) for r in out)


def test_kneser_ney_discount_properties(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q315_kneser_ney,
    )

    out = q315_kneser_ney(spark, sf_dir).collect()
    assert 0 < len(out) <= 25
    for r in out:
        assert 0.0 < r["p_kn"] <= 1.0
        # for high-count bigrams discount and back-off nearly cancel;
        # KN never exceeds MLE by more than the back-off mass share
        assert abs(r["p_kn"] - r["p_mle"]) < 0.05


def test_scaling_curve_more_data_not_worse(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q316_scaling_curve,
    )

    out = q316_scaling_curve(spark, sf_dir).collect()
    assert [r["n_train_buckets"] for r in out] == [1, 2, 4, 7]
    toks = [r["train_tokens"] for r in out]
    assert toks == sorted(toks)  # nested subsets grow
    # held-out cross-entropy should not INCREASE materially with more data
    ces = [r["cross_entropy"] for r in out]
    assert ces[-1] <= ces[0] + 0.05
    slope = out[0]["scaling_slope"]
    assert all(r["scaling_slope"] == slope for r in out)


def test_anomaly_attribution_shares_sum_to_one(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q317_anomaly_attribution,
    )
    from collections import defaultdict

    out = q317_anomaly_attribution(spark, sf_dir).collect()
    days = defaultdict(float)
    for r in out:
        days[r["day_idx"]] += r["excess_share"]
    assert 1 <= len(days) <= 3
    for total in days.values():
        assert total == pytest.approx(1.0, abs=1e-3)


def test_session_gap_sweep_monotone(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q318_session_gap_sweep,
    )

    out = q318_session_gap_sweep(spark, sf_dir).collect()
    assert [r["gap_seconds"] for r in out] == [300, 900, 1800, 3600]
    # a longer allowed gap merges sessions: counts fall, sizes grow
    ns = [r["n_sessions"] for r in out]
    sz = [r["avg_events_per_session"] for r in out]
    assert ns == sorted(ns, reverse=True)
    assert sz == sorted(sz)


def test_mde_power_scales_inverse_sqrt_n(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q319_mde_power,
    )

    r = q319_mde_power(spark, sf_dir).collect()[0]
    # MDE formula check from the returned moments
    import math
    se = r["sd_outcome"] * math.sqrt(1 / r["n_treat"] + 1 / r["n_ctrl"])
    assert r["mde_absolute"] == pytest.approx((1.959964 + 0.841621) * se,
                                              rel=1e-3)
    assert r["mde_relative"] > 0


def test_knn_accuracy_perfectly_separated_clusters(spark):
    # two far-apart clusters of 6 -> leave-one-out 5-NN is 100% correct
    import gh_archive_data_pipeline_spark.operators.similarity as smod
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q320_knn_accuracy,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    for i in range(6):
        rows.append((i, [10.0 + 0.1 * i, 0.0, 1.0], 0))
        rows.append((10 + i, [-10.0 - 0.1 * i, 0.1, 1.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: emb
        smod.load_table = lambda sp, d, n: emb
        out = {r["label"]: r for r in q320_knn_accuracy(spark, "u").collect()}
    finally:
        readers.load_table = orig
        smod.load_table = orig
    assert out[0]["accuracy"] == 1.0 and out[1]["accuracy"] == 1.0


def test_silhouette_separated_clusters_near_one(spark):
    import gh_archive_data_pipeline_spark.operators.similarity as smod
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q321_silhouette,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    for i in range(5):
        rows.append((i, [1.0, 0.001 * i, 0.0], 0))
        rows.append((10 + i, [-0.001 * i, 0.0, 1.0], 1))  # orthogonal
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: emb
        smod.load_table = lambda sp, d, n: emb
        out = q321_silhouette(spark, "u").collect()
    finally:
        readers.load_table = orig
        smod.load_table = orig
    assert all(r["mean_silhouette"] > 0.9 for r in out)


def test_intrinsic_dimension_positive_and_finite(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q322_intrinsic_dimension,
    )

    r = q322_intrinsic_dimension(spark, sf_dir).collect()[0]
    assert r["n_points"] > 0
    assert r["mean_mu"] >= 1.0  # r2 >= r1 by construction
    assert 0 < r["id_twonn"] < 200


def test_q22_shape_buckets_partition_customers(spark, sf_dir):
    from gh_archive_data_pipeline_spark.plans.subqueries import (
        q323_q22_shape,
    )

    out = q323_q22_shape(spark, sf_dir).collect()
    assert all(0 <= r["cntry_grp"] <= 4 for r in out)
    assert all(r["n_custs"] > 0 for r in out)
    # above-average balances: per-bucket average beats a loose floor
    for r in out:
        assert r["total_acctbal"] / r["n_custs"] > 0


def test_q16_shape_excludes_brand(spark, sf_dir):
    from gh_archive_data_pipeline_spark.plans.subqueries import (
        q324_q16_shape,
    )

    out = q324_q16_shape(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    assert all(r["p_brand"] != "Brand#23" for r in out)
    assert all(r["p_size"] in (10, 20, 30, 40) for r in out)
    cnts = [r["supplier_cnt"] for r in out]
    assert cnts == sorted(cnts, reverse=True)


def test_kmv_estimate_within_theory_bound(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.profiler import (
        q325_kmv_sketch,
    )

    out = q325_kmv_sketch(spark, sf_dir).collect()
    assert len(out) == 5
    for r in out:
        # k=64 -> relative SE ~ 1/sqrt(62) ~ 12.7%; allow 4 sigma
        assert r["rel_error"] < 0.51
        assert r["kmv_estimate"] > 0


def test_join_size_estimate_exact_on_uniform_keys(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q326_join_size_estimate,
    )

    r = q326_join_size_estimate(spark, sf_dir).collect()[0]
    # fixture keys are uniform, so the histogram estimate is near-exact
    assert r["rel_error"] < 0.05
    assert r["actual_rows"] > 0


def test_huber_downweights_planted_outlier(spark):
    # exact line y=2x plus one wild outlier: OLS bends, Huber stays at 2
    import gh_archive_data_pipeline_spark.operators.features as fmod
    from gh_archive_data_pipeline_spark.operators.features import (
        q327_huber_regression,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = [(float(i % 25 + 1), 2.0 * (i % 25 + 1) + 0.01 * (i % 7))
            for i in range(200)]
    rows.append((26.0, 5000.0))  # outlier
    li = spark.createDataFrame(rows, "l_quantity double, l_extendedprice double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: li
        fmod.load_table = lambda sp, d, n: li
        r = q327_huber_regression(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        fmod.load_table = orig
    assert r["n_downweighted"] >= 1
    # Huber slope closer to the true 2.0 than OLS
    assert abs(r["huber_slope"] - 2.0) < abs(r["ols_slope"] - 2.0)


def test_did_arithmetic_identity(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q328_diff_in_diff,
    )

    r = q328_diff_in_diff(spark, sf_dir).collect()[0]
    assert r["did_estimate"] == pytest.approx(
        r["treated_change"] - r["control_change"], abs=1e-3)
    assert r["did_se"] > 0


def test_hill_alpha_positive(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q329_hill_tail_index,
    )

    r = q329_hill_tail_index(spark, sf_dir).collect()[0]
    assert r["k"] == 200
    assert r["hill_alpha"] > 0
    assert r["mean_log_excess"] > 0  # top values strictly above threshold


def test_capture_recapture_close_to_truth(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q330_capture_recapture,
    )

    r = q330_capture_recapture(spark, sf_dir).collect()[0]
    assert r["n_both"] <= min(r["n_sample1"], r["n_sample2"])
    # Chapman is nearly unbiased; deterministic draw lands within 35%
    assert abs(r["chapman_estimate"] - r["true_population"]) \
        < 0.35 * r["true_population"]


def test_qte_rows_and_monotone_quantiles(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q331_quantile_treatment_effect,
    )

    out = q331_quantile_treatment_effect(spark, sf_dir).collect()
    assert [r["quantile"] for r in out] == [0.25, 0.5, 0.75, 0.9]
    # quantiles are monotone within each arm
    assert [r["treat_q"] for r in out] == sorted(r["treat_q"] for r in out)
    assert [r["ctrl_q"] for r in out] == sorted(r["ctrl_q"] for r in out)


def test_source_influence_identity(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q332_source_influence,
    )

    out = q332_source_influence(spark, sf_dir).collect()
    assert len(out) == 20
    corpus = out[0]["corpus_mean_ttr"]
    for r in out:
        assert r["corpus_mean_ttr"] == corpus
        # influence = corpus mean - LOO mean by definition
        assert r["influence"] == pytest.approx(
            r["corpus_mean_ttr"] - r["loo_mean_ttr"], abs=2e-6)


def test_peak_detection_planted_spike(spark):
    # flat series with one spike at day 5 -> exactly one peak, prominence 50
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q333_peak_detection,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows = []
    eid = 0
    for d in range(11):
        n = 60 if d == 5 else 10
        for k in range(n):
            rows.append((eid, dt.datetime(2024, 1, 1 + d, k % 24), 1))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q333_peak_detection(spark, "unused").collect()
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert len(out) == 1
    assert out[0]["n_events"] == 60
    assert out[0]["prominence"] == 50.0


def test_cross_correlation_planted_lead(spark):
    # purchases = clicks shifted by +2 days -> ccf peaks at lag +2
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q334_cross_correlation,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows, eid = [], 0
    pattern = [5, 20, 8, 30, 12, 25, 6, 18, 10, 28, 7, 22, 9, 26, 11]
    for d, n in enumerate(pattern):
        for k in range(n):
            rows.append((eid, dt.datetime(2024, 1, 1 + d, k % 24), 1,
                         "click"))
            eid += 1
        if d + 2 < len(pattern):
            for k in range(n):  # same counts two days later
                rows.append((eid, dt.datetime(2024, 1, 3 + d, k % 24), 1,
                             "purchase"))
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = {r["lag"]: r["ccf"] for r in
               q334_cross_correlation(spark, "unused").collect()}
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert max(out, key=lambda k: out[k] if out[k] is not None else -2) == 2
    assert out[2] > 0.9


def test_burrows_delta_symmetric_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q335_burrows_delta,
    )

    out = q335_burrows_delta(spark, sf_dir).collect()
    assert 0 < len(out) <= 15
    for r in out:
        assert r["source_a"] < r["source_b"]
        assert r["n_shared_words"] <= 20
        assert r["burrows_delta"] >= 0


def test_kmv_set_ops_estimates_sane(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.profiler import (
        q336_kmv_set_ops,
    )

    r = q336_kmv_set_ops(spark, sf_dir).collect()[0]
    assert r["exact_intersection"] <= r["exact_union"]
    assert 0.0 <= r["kmv_jaccard_est"] <= 1.0
    # the sketch Jaccard is within 0.25 of truth at k=64
    assert abs(r["kmv_jaccard_est"] - r["exact_jaccard"]) < 0.25
    assert r["kmv_intersection_est"] <= r["kmv_union_est"] + 1e-9


def test_cluster_robust_se_counts(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q337_cluster_robust_se,
    )

    r = q337_cluster_robust_se(spark, sf_dir).collect()[0]
    assert r["n_users"] < r["n_events"]  # clustering is real
    assert r["naive_event_se"] > 0 and r["cluster_user_se"] > 0
    assert r["design_effect_ratio"] == pytest.approx(
        r["cluster_user_se"] / r["naive_event_se"], rel=1e-3)


def test_rd_placebo_small_jump(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q338_regression_discontinuity,
    )

    r = q338_regression_discontinuity(spark, sf_dir).collect()[0]
    # no discontinuity is planted: the jump must be small relative to 1
    assert abs(r["rd_jump"]) < 0.5
    assert r["n_above"] + r["n_below"] > 0


def test_price_index_fisher_between_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q339_price_index,
    )

    r = q339_price_index(spark, sf_dir).collect()[0]
    lo, hi = sorted([r["laspeyres"], r["paasche"]])
    # Fisher is the geometric mean: always between the two
    assert lo - 1e-9 <= r["fisher"] <= hi + 1e-9
    assert r["n_parts"] > 0


def test_seasonal_adjustment_factors_average_one(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q340_seasonal_adjustment,
    )

    out = q340_seasonal_adjustment(spark, sf_dir).collect()
    assert len(out) >= 7
    # the adjusted series preserves total volume approximately
    raw = sum(r["n_events"] for r in out)
    adj = sum(r["adjusted"] for r in out)
    assert adj == pytest.approx(raw, rel=0.02)
    # same weekday -> same factor
    by_dw = {}
    for r in out:
        by_dw.setdefault(r["day_of_week"], set()).add(r["seasonal_factor"])
    assert all(len(v) == 1 for v in by_dw.values())


def test_completeness_audit_dense_fixture(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q341_completeness_audit,
    )

    r = q341_completeness_audit(spark, sf_dir).collect()[0]
    assert r["observed_hours"] <= r["expected_hours"]
    assert r["missing_hours"] == r["expected_hours"] - r["observed_hours"]
    assert 0.0 <= r["completeness"] <= 1.0


def test_kish_neff_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.sampling import (
        q342_kish_neff,
    )

    r = q342_kish_neff(spark, sf_dir).collect()[0]
    assert 0 < r["kish_neff"] <= r["n_sampled"]
    assert 0 < r["weighting_efficiency"] <= 1.0
    # Kish identities: deff = n / neff
    assert r["deff_kish"] == pytest.approx(
        r["n_sampled"] / r["kish_neff"], rel=1e-3)


def test_wilson_tighter_than_wald_at_zero(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q343_wilson_ci,
    )

    out = q343_wilson_ci(spark, sf_dir).collect()
    for r in out:
        assert 0.0 <= r["wilson_lo"] <= r["rate"] <= r["wilson_hi"] <= 1.0
        # Wilson lower bound is strictly positive whenever rate > 0
        if r["rate"] > 0:
            assert r["wilson_lo"] > 0


def test_growth_accounting_identities(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q344_growth_accounting,
    )

    out = q344_growth_accounting(spark, sf_dir).collect()
    assert len(out) > 1
    by_day = {r["day_idx"]: r for r in out}
    for r in out:
        # DAU decomposes exactly
        assert r["dau"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
        prev = by_day.get(r["day_idx"] - 1)
        if prev is not None:
            # delta identity: DAU(t)-DAU(t-1) = new + resurrected - churned
            assert r["dau"] - prev["dau"] == \
                r["n_new"] + r["n_resurrected"] - r["n_churned"]
    # first day is all-new
    first = out[0]
    assert first["n_new"] == first["dau"]


def test_retention_halflife_planted_decay(spark):
    # users drop off by half each day -> lambda ~ ln(2), half-life ~ 1 day
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q345_retention_halflife,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows, eid = [], 0
    n_users = 256
    for u in range(n_users):
        rows.append((eid, dt.datetime(2024, 1, 1, 12), u))
        eid += 1
        # user u stays active for ~log2 pattern: active on day k if
        # u < n/2^k -> retention halves daily
        for k in range(1, 15):
            if u < n_users // (2 ** k):
                rows.append((eid, dt.datetime(2024, 1, 1 + k, 12), u))
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q345_retention_halflife(spark, "unused").collect()
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    lam = out[0]["decay_lambda"]
    assert lam == pytest.approx(0.6931, abs=0.01)
    assert out[0]["half_life_days"] == pytest.approx(1.0, abs=0.02)


def test_cold_start_detects_planted_sparse_user(spark):
    import gh_archive_data_pipeline_spark.operators.sampling as smod
    from gh_archive_data_pipeline_spark.operators.sampling import (
        q346_cold_start_coverage,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    # find an event_id that hashes into test bucket 4 for the planted user
    import hashlib
    def bucket(eid):
        return int(hashlib.md5(f"cold-{eid}".encode()).hexdigest()[:8],
                   16) % 5
    test_eid = next(e for e in range(100000, 100500) if bucket(e) == 4)
    rows = [(e, dt.datetime(2024, 1, 1), 1, "click", 1.0)
            for e in range(400)]  # dense user 1 in every bucket
    rows.append((test_eid, dt.datetime(2024, 1, 2), 99, "click", 50.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        smod.load_table = lambda sp, d, n: ev
        r = q346_cold_start_coverage(spark, "unused").collect()[0]
    finally:
        readers.load_table = orig
        smod.load_table = orig
    assert r["n_cold_events"] == 1  # user 99 only exists in the test fold
    assert r["cold_value_share"] > 0


def test_matrix_profile_planted_motif(spark):
    # two identical 5-day shapes planted far apart in noise-free ramp
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q347_matrix_profile,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    shape = [30, 50, 30, 50, 30]
    series = ([10, 11, 12, 13] + shape + [14, 15, 16, 17, 18]
              + shape + [19, 20, 21])
    rows, eid = [], 0
    for d, n in enumerate(series):
        for k in range(n):
            rows.append((eid, dt.datetime(2024, 1, 1 + d, k % 24), 1))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = q347_matrix_profile(spark, "unused").collect()
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    motifs = [r for r in out if r["is_motif"] == 1]
    # the planted twin shapes (starting at idx 5 and 15, 1-based) match
    starts = sorted(m["start_idx"] for m in motifs)
    assert 5 in starts
    assert all(m["mp_dist"] == 0.0 for m in motifs)
    # and the motif's nearest neighbor is its twin
    by_idx = {r["start_idx"]: r for r in out}
    assert by_idx[5]["nn_idx"] == 15


def test_sax_symbols_cover_alphabet_consistently(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q348_sax_encoding,
    )

    out = q348_sax_encoding(spark, sf_dir).collect()
    assert len(out) >= 2
    for r in out:
        sym = r["sax_symbol"]
        z = r["paa_value"]
        if z < -0.6745:
            assert sym == "a"
        elif z < 0:
            assert sym == "b"
        elif z < 0.6745:
            assert sym == "c"
        else:
            assert sym == "d"


def test_permutation_test_p_value_bounds(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q349_permutation_test,
    )

    r = q349_permutation_test(spark, sf_dir).collect()[0]
    assert r["n_permutations"] == 32
    # add-one smoothing keeps p in (0, 1]
    assert 1 / 33 <= r["perm_p_value"] <= 1.0
    assert r["null_mean_abs"] >= 0


def test_sprt_decision_is_absorbing_threshold(spark, sf_dir):
    import math
    from gh_archive_data_pipeline_spark.operators.features import (
        q350_sprt_trace,
    )

    out = q350_sprt_trace(spark, sf_dir).collect()
    assert len(out) >= 1
    for r in out:
        if r["cum_llr"] >= math.log(19.0):
            assert r["decision"] == 1
        elif r["cum_llr"] <= math.log(1 / 19.0):
            assert r["decision"] == -1
        else:
            assert r["decision"] == 0


def test_overdispersion_nb_moments_roundtrip(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q351_overdispersion_fit,
    )

    r = q351_overdispersion_fit(spark, sf_dir).collect()[0]
    assert r["dispersion_index"] > 0
    if r["nb_r"] is not None:
        # NB mean = r(1-p)/p reproduces the sample mean
        mean_back = r["nb_r"] * (1 - r["nb_p"]) / r["nb_p"]
        assert mean_back == pytest.approx(r["mean_events"], rel=0.01)


def test_kendall_tau_bounds_and_counts(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q352_rank_correlation,
    )

    r = q352_rank_correlation(spark, sf_dir).collect()[0]
    assert -1.0 <= r["kendall_tau_b"] <= 1.0
    assert r["concordant"] + r["discordant"] <= r["n_pairs"]
    assert r["kendall_tau_b"] > 0  # both scorers share the tf signal


def test_gumbel_return_levels_ordered(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q353_gumbel_return_level,
    )

    r = q353_gumbel_return_level(spark, sf_dir).collect()[0]
    # longer return periods demand higher levels, above the mean max
    assert r["mean_weekly_max"] < r["level_1in52w"] < r["level_1in520w"]
    assert r["gumbel_beta"] > 0
    assert r["n_blocks"] >= 2


def test_ndcg_bounds_and_ideal_dominance(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q354_ndcg,
    )

    r = q354_ndcg(spark, sf_dir).collect()[0]
    assert 0.0 < r["ndcg_at_10"] <= 1.0
    assert r["dcg_at_10"] <= r["idcg_at_10"] + 1e-9


def test_audience_overlap_rotating_population(spark):
    # disjoint user sets each week -> jaccard 0; same set -> jaccard 1
    import gh_archive_data_pipeline_spark.operators.timeseries as tsmod
    from gh_archive_data_pipeline_spark.operators.timeseries import (
        q355_audience_overlap,
    )
    import gh_archive_data_pipeline_spark.sources.readers as readers

    rows, eid = [], 0
    # weeks 0-1: users 0-9 both weeks (loyal); week 2: users 100-109 (churn)
    for wk, users in [(0, range(10)), (1, range(10)), (2, range(100, 110))]:
        for u in users:
            rows.append((eid, dt.datetime(2024, 1, 1 + 7 * wk, 12), u))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long")
    orig = readers.load_table
    try:
        readers.load_table = lambda sp, d, n: ev
        tsmod.load_table = lambda sp, d, n: ev
        out = {r["week_idx"]: r for r in
               q355_audience_overlap(spark, "unused").collect()}
    finally:
        readers.load_table = orig
        tsmod.load_table = orig
    assert out[0]["jaccard_overlap"] == 1.0
    assert out[1]["jaccard_overlap"] == 0.0
    assert out[1]["retention_ratio"] == 0.0


def test_ece_bounds_and_mce_dominates(spark, sf_dir):
    from gh_archive_data_pipeline_spark.operators.features import (
        q356_expected_calibration_error,
    )

    r = q356_expected_calibration_error(spark, sf_dir).collect()[0]
    assert 0.0 <= r["ece"] <= r["mce"] <= 1.0
    assert r["n_bins"] >= 1


def _selfjoin_copurchase_edges(ev):
    """Reference: co-purchase edges as an hour self-join over distinct
    (user, hour) rows."""
    pur = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", F.date_trunc("hour", "ts").alias("h"))
           .distinct())
    a, b = pur.alias("a"), pur.alias("b")
    return (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.user_id") < F.col("b.user_id")))
            .select(F.col("a.user_id").alias("u"),
                    F.col("b.user_id").alias("v"))
            .distinct())


def test_copurchase_edges_equal_hour_self_join(spark, tmp_path):
    """The per-hour sorted-array edges equal the hour self-join: repeated
    purchases by one user, a user in several hours, a NULL ts, a NULL
    user_id and a non-purchase event."""
    from gh_archive_data_pipeline_spark.operators.graph import (
        copurchase_edges,
    )

    h10, h11 = dt.datetime(2024, 1, 1, 10, 5), dt.datetime(2024, 1, 1, 11, 7)
    rows = [(5, h10), (3, h10), (3, h10.replace(minute=40)), (8, h10),
            (1, h10), (None, h10),                       # hour 10: 1 3 5 8
            (3, h11), (8, h11), (9, h11),                # hour 11: 3 8 9
            (4, None), (6, None)]                        # no hour
    ev = spark.createDataFrame(
        [(i, ts, u, "purchase", 1.0) for i, (u, ts) in enumerate(rows)]
        + [(99, h10, 7, "view", 1.0)],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double")
    d = str(tmp_path / "edges_fixture")
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    ev = spark.read.parquet(f"{d}/events.parquet")

    def edges(df):
        return sorted((r.u, r.v) for r in df.collect())

    got = edges(copurchase_edges(spark, d))
    assert got == edges(_selfjoin_copurchase_edges(ev))
    assert got == [(1, 3), (1, 5), (1, 8), (3, 5), (3, 8), (3, 9), (5, 8),
                   (8, 9)]


# ---------------------------------------------------------------------------
# Round 4: incremental dedup index (q376) + SemDeDup (q377)
# ---------------------------------------------------------------------------

def test_incremental_near_dup_equals_filtered_full_pipeline(spark, sf_dir,
                                                            tmp_path):
    """The incremental probe against a materialized index must emit exactly
    the full-corpus pipeline's pairs that touch the delta — same pairs, same
    round-6 jaccard."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, incremental_near_dup, minhash_near_dup)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    idx = str(tmp_path / "mh_idx")
    build_minhash_index(corpus, idx)
    inc = {(r.doc_a, r.doc_b, r.jaccard)
           for r in incremental_near_dup(spark, idx, delta).collect()}
    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in minhash_near_dup(docs).collect()
            if r.doc_a % 10 == 0 or r.doc_b % 10 == 0}
    assert inc == full
    assert inc, "fixture should produce at least one delta-touching pair"


def test_incremental_index_is_not_rehashed_on_probe(spark, sf_dir, tmp_path):
    """Probing must read the materialized signatures, not recompute them:
    corrupt the index's band signatures after build and assert the probe
    believes the index (no candidates -> no cross pairs)."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, incremental_near_dup)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 10 = 0")
    idx = str(tmp_path / "mh_idx2")
    build_minhash_index(corpus, idx)
    # shift every stored band id out of the probe's band range
    shifted = (spark.read.parquet(f"{idx}/bands")
               .withColumn("band", F.col("band") + 1000))
    shifted.write.mode("overwrite").parquet(f"{idx}/bands_tmp")
    spark.read.parquet(f"{idx}/bands_tmp").write.mode("overwrite").parquet(
        f"{idx}/bands")
    pairs = incremental_near_dup(spark, idx, delta).collect()
    assert all(r.doc_a % 10 == 0 and r.doc_b % 10 == 0 for r in pairs), (
        "with a corrupted index only delta-internal pairs may survive")


def test_semantic_dedup_matches_numpy_ground_truth(spark, sf_dir):
    """Cluster assignment and within-cluster pair emission pinned against a
    brute-force NumPy replay (argmax cosine to the 16 lowest-id seed
    centroids; pairs >= threshold). Boundary rows within 1e-6 of the
    threshold are excluded from the two-sided check to keep the pin
    ULP-robust."""
    import numpy as np

    from gh_archive_data_pipeline_spark.operators.similarity import (
        semantic_dedup_pairs)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = sorted(emb.select("vec_id", "embedding").collect(),
                  key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    V = np.array([[float(x) for x in r.embedding] for r in rows])
    U = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = U[:16]
    cl = (U @ C.T).argmax(axis=1)
    tau = 0.35
    got = semantic_dedup_pairs(emb).collect()
    got_pairs = {(r.id_a, r.id_b) for r in got}
    by_id = {int(i): k for i, k in zip(ids, cl)}
    # every emitted pair: same numpy cluster, cosine above (tau - eps)
    for r in got:
        assert by_id[r.id_a] == by_id[r.id_b] == r.cluster
        assert float(U[ids == r.id_a] @ U[ids == r.id_b].T) >= tau - 1e-6
    # every clearly-above-threshold same-cluster numpy pair is emitted
    sims = U @ U.T
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if cl[a] == cl[b] and sims[a, b] >= tau + 1e-6:
                assert (int(ids[a]), int(ids[b])) in got_pairs


def test_ivf_append_preserves_standing_files_and_serves_delta(spark, sf_dir,
                                                              tmp_path):
    """Incremental IVF ingest contract: appending a delta must not rewrite
    any standing cell file (O(|delta|) ingest regardless of index size),
    and the appended rows must be searchable."""
    import os

    from gh_archive_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_index_append, ivf_search)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 10 != 0")
    delta = emb.filter("vec_id % 10 = 0")
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus, idx)

    def data_files(root):
        out = {}
        for dirpath, _, files in os.walk(f"{root}/corpus"):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = data_files(idx)
    ivf_index_append(spark, idx, delta, ingest_id="d1")
    # retry idempotence: an at-least-once redelivery overwrites its own
    # ingest partition instead of duplicating the delta's vectors
    ivf_index_append(spark, idx, delta, ingest_id="d1")
    after = data_files(idx)
    assert set(before) <= set(after), "append must not delete standing files"
    for p, m in before.items():
        assert after[p] == m, f"standing file rewritten: {p}"
    assert len(after) > len(before), "append must add delta files"
    n_rows = spark.read.parquet(f"{idx}/corpus").count()
    assert n_rows == emb.count(), "retried append must not duplicate rows"
    # appended rows are searchable beside the standing ones
    res = ivf_search(spark, idx, emb.filter("vec_id < 10"))
    assert {r.neighbor_id % 10 == 0 for r in res.collect()} == {True, False}


def test_ivf_append_guards(spark, sf_dir, tmp_path):
    """ivf_index_append's safety contract (same as minhash_index_append):
    ingest_id must not be 'base' (would overwrite the build's generation)
    or contain path/partition metacharacters, and both appends refuse such
    an id before starting a Spark job; appending into an index laid
    out before the generation contract (corpus/cell=N directly) fails with
    a rebuild message instead of writing mixed-depth partitions; and a
    REBUILD into an existing index_dir clears stale prior generations."""
    import os

    from test_fixture_memo import _jobs_started

    from gh_archive_data_pipeline_spark.operators.dedup import (
        _cached_minhash_index, minhash_index_append)
    from gh_archive_data_pipeline_spark.operators.similarity import (
        build_ivf_index, ivf_index_append)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 10 != 0")
    delta = emb.filter("vec_id % 10 = 0")
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus, idx)
    mh_idx = _cached_minhash_index(spark, sf_dir)
    mh_delta = load_table(spark, sf_dir, "documents").filter("doc_id % 10 = 0")

    def refusal(append, index_dir, rows, bad):
        try:
            append(spark, index_dir, rows, ingest_id=bad)
        except ValueError as e:
            return str(e)

    # empty/whitespace ids would write a bare 'ingest=' partition directory
    # (ambiguous value, corrupts q386-style generation splits) — rejected
    for bad in ("base", "a/b", "a=b", "", "  "):
        for append, index_dir, rows in (
                (ivf_index_append, idx, delta),
                (minhash_index_append, mh_idx, mh_delta)):
            msg, jobs = _jobs_started(
                spark, lambda: refusal(append, index_dir, rows, bad))
            assert msg and "invalid ingest_id" in msg, (append, bad)
            assert jobs == 0, (append, bad, jobs)
    # rebuild clears stale generations: append one, rebuild, gone
    ivf_index_append(spark, idx, delta, ingest_id="d1")
    assert os.path.isdir(f"{idx}/corpus/ingest=d1")
    build_ivf_index(corpus, idx)
    assert not os.path.isdir(f"{idx}/corpus/ingest=d1")
    assert spark.read.parquet(f"{idx}/corpus").count() == corpus.count()
    # old pre-generation layout is detected, not silently mixed
    old = str(tmp_path / "old_ivf")
    build_ivf_index(corpus, old)
    os.rename(f"{old}/corpus/ingest=base", f"{old}/corpus_flat")
    os.rmdir(f"{old}/corpus")
    os.rename(f"{old}/corpus_flat", f"{old}/corpus")
    with pytest.raises(ValueError, match="old corpus/cell=N layout"):
        ivf_index_append(spark, old, delta, ingest_id="d1")


def test_parse_media_header_golden_vectors():
    """The container-header kernels against REAL structure, not just the
    planted fixtures: a genuine encoder-produced 1x1 PNG (base64 of a real
    file), spec-built JPEG whose SOF sits behind APP0+COM decoy segments,
    a WAV whose fmt chunk sits behind a JUNK chunk, plus corruption cases
    (bad IHDR CRC, truncation, unknown magic) that must degrade to
    header_ok=False instead of raising."""
    import base64

    from gh_archive_data_pipeline_spark.operators.multimodal import (
        make_jpeg, make_png, make_wav, parse_media_header)

    real_png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQ"
        "DwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    p = parse_media_header(real_png)
    assert (p["container"], p["width"], p["height"], p["bit_depth"],
            p["channels"], p["header_ok"]) == ("png", 1, 1, 8, 4, True)

    j = parse_media_header(make_jpeg(123, 45))
    assert (j["container"], j["width"], j["height"], j["bit_depth"],
            j["channels"], j["header_ok"]) == ("jpeg", 123, 45, 8, 3, True)
    # spec-legal 0xFF fill bytes before a marker (real encoders emit them)
    # must be skipped, not parsed as a length-bearing marker
    raw = make_jpeg(123, 45)
    padded = raw[:2] + b"\xff\xff\xff" + raw[2:]
    jp = parse_media_header(padded)
    assert (jp["width"], jp["height"], jp["header_ok"]) == (123, 45, True)

    w = parse_media_header(make_wav(22050, 2))
    assert (w["container"], w["sample_rate"], w["channels"],
            w["bits_per_sample"], w["header_ok"]) == ("wav", 22050, 2, 16,
                                                      True)

    # IHDR CRC corruption (byte 30 is inside the 4-byte CRC at 29..32)
    bad = bytearray(make_png(10, 10))
    bad[30] ^= 0xFF
    assert parse_media_header(bytes(bad))["header_ok"] is False
    # dims survive the CRC failure (still structurally readable)
    assert parse_media_header(bytes(bad))["width"] == 10
    # truncation / garbage degrade, never raise
    assert parse_media_header(b"\x89PNG\r\n\x1a\n\x00")["header_ok"] is False
    assert parse_media_header(b"")["container"] == "unknown"
    assert parse_media_header(b"\xff\xd8\xff")["container"] == "jpeg"
    assert parse_media_header(b"\xff\xd8\xff")["header_ok"] is False


def test_probe_then_append_emits_cross_batch_pairs(spark, tmp_path):
    """The continuous-ingest loop (q379's foreachBatch body): a batch must
    see duplicates in the corpus AND in earlier batches, and after append it
    must be visible to later batches — each unordered pair emitted exactly
    once, by the later-arriving side."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, incremental_near_dup, minhash_index_append)

    dup_a = "the quick brown fox jumps over the lazy dog every single day"
    dup_b = "rainy mornings in the harbor smell of salt diesel and old rope"
    uniq = ["galaxies spin silently beyond the reach of any telescope here",
            "seven clockmakers argued about the weight of a second at noon"]
    corpus = spark.createDataFrame(
        [(1, uniq[0]), (2, dup_a), (3, uniq[1])], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx)

    batch1 = spark.createDataFrame(
        [(10, dup_b), (20, dup_a)], "doc_id long, text string")
    pairs1 = {(r.doc_a, r.doc_b)
              for r in incremental_near_dup(spark, idx, batch1).collect()}
    minhash_index_append(spark, idx, batch1, ingest_id="b1")
    # retry idempotence: an at-least-once redelivery must not duplicate rows
    minhash_index_append(spark, idx, batch1, ingest_id="b1")

    batch2 = spark.createDataFrame(
        [(30, dup_b)], "doc_id long, text string")
    pairs2 = {(r.doc_a, r.doc_b)
              for r in incremental_near_dup(spark, idx, batch2).collect()}

    assert pairs1 == {(2, 20)}          # corpus dup seen by its batch
    assert pairs2 == {(10, 30)}         # EARLIER BATCH dup seen after append


def test_minhash_index_delete_hides_docs(spark, sf_dir, tmp_path):
    """index_store.delete on a MinHash index: (a) pairs whose corpus
    member is tombstoned vanish from the probe while surviving pairs are
    untouched — probe results equal a probe against an index built WITHOUT
    the deleted docs; (b) delete batches accumulate under collision-free
    uuid partitions."""
    import os

    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, incremental_near_dup)
    from gh_archive_data_pipeline_spark.sources.index_store import delete
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 10 != 0")
    probe = docs.filter("doc_id % 10 = 0")
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, num_buckets=8)
    full = {(r.doc_a, r.doc_b)
            for r in incremental_near_dup(spark, idx, probe).collect()}
    d1 = delete(
        spark, idx, corpus.filter("doc_id % 9 = 4").select("doc_id"), "doc_id")
    d2 = delete(
        spark, idx, corpus.filter("doc_id % 9 = 7").select("doc_id"), "doc_id")
    assert d1 != d2
    assert sorted(os.listdir(f"{idx}/tombstones")) == sorted([d1, d2])

    deleted = {r.doc_id for r in
               corpus.filter("doc_id % 9 IN (4, 7)")
               .select("doc_id").collect()}
    got = {(r.doc_a, r.doc_b)
           for r in incremental_near_dup(spark, idx, probe).collect()}
    assert got == {(a, b) for a, b in full
                   if a not in deleted and b not in deleted}
    surv_idx = str(tmp_path / "surv")
    build_minhash_index(corpus.filter("doc_id % 9 NOT IN (4, 7)"),
                        surv_idx, num_buckets=8)
    surv = {(r.doc_a, r.doc_b)
            for r in incremental_near_dup(spark, surv_idx, probe).collect()}
    assert got == surv and got


def test_hard_negative_mining_semantics(spark, sf_dir):
    """q385: every mined negative has a label different from its anchor's,
    ranks are 1..5 per anchor, and each negative is the hardest available —
    no different-label vector scores higher than the rank-1 negative."""
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q385_hard_negative_mining)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    out = q385_hard_negative_mining(spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    labels = dict(zip(emb.vec_id, emb.label))
    assert (out.groupby("query_id")["rank"].apply(
        lambda s: sorted(s) == [1, 2, 3, 4, 5])).all()
    for r in out.itertuples():
        assert labels[r.neighbor_id] != labels[r.query_id]
        assert r.neg_label == labels[r.neighbor_id]
    import numpy as np

    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float)
            for r in emb.itertuples()}
    for qid in out.query_id.unique():
        top = out[(out.query_id == qid) & (out["rank"] == 1)].iloc[0]
        qv = vecs[qid]
        best = max(
            float(qv @ vecs[n] / (np.linalg.norm(qv) * np.linalg.norm(vecs[n])))
            for n in vecs if n != qid and labels[n] != labels[qid])
        assert abs(best - top.cosine_sim) < 1e-6


def test_ivf_balance_audit_semantics(spark, sf_dir):
    """q386: occupancy ratios average to 1 (they're shares of uniform),
    generation split sums to the total, and the overfull flag fires iff
    the ratio exceeds 2."""
    from gh_archive_data_pipeline_spark.operators.similarity import (
        q386_ivf_balance_audit)

    out = q386_ivf_balance_audit(spark, sf_dir).toPandas()
    assert len(out) <= 16
    assert (out.n_base + out.n_appended == out.n_vectors).all()
    total = out.n_vectors.sum()
    assert abs((out.n_vectors * 16 / total).mean() - 16 / len(out)) < 1e-9
    assert (out.overfull == (out.n_vectors * 16 / total > 2.0)).all()


def test_gopher_rules_keep_iff_all_rules(spark, sf_dir):
    """q384: keep is exactly the conjunction of the five rule columns, and
    the fixture exercises both outcomes of every data-dependent rule."""
    from gh_archive_data_pipeline_spark.operators.text_queries import (
        q384_gopher_rules)

    out = q384_gopher_rules(spark, sf_dir).toPandas()
    rules = ["r_word_count", "r_mean_word_len", "r_stopwords",
             "r_distinct_words", "r_alpha_words"]
    assert (out.keep == out[rules].all(axis=1)).all()
    for r in ("r_word_count", "r_stopwords"):
        assert out[r].nunique() == 2, f"{r} has no negative examples"


def test_bucket_pruned_probe_reads_less_and_matches_flat(spark, sf_dir,
                                                         tmp_path):
    """The bands bucket layout: a small delta's probe scans strictly fewer
    band rows than the table holds (partition pruning at file listing) and
    emits exactly the pairs an effectively-unpartitioned index emits."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        build_minhash_index, incremental_near_dup)
    from gh_archive_data_pipeline_spark.plans.metrics import (
        executed_shuffle_summary)
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 10 != 0")
    delta = docs.filter("doc_id % 100 = 0")   # ~1% of docs
    pruned_idx, flat_idx = str(tmp_path / "p"), str(tmp_path / "f")
    build_minhash_index(corpus, pruned_idx, num_buckets=512)
    build_minhash_index(corpus, flat_idx, num_buckets=1)
    total_bands = spark.read.parquet(f"{pruned_idx}/bands").count()

    def run(idx):
        out = incremental_near_dup(spark, idx, delta, threshold=0.3)
        rows = out.collect()
        pairs = {(r.doc_a, r.doc_b, r.jaccard) for r in rows}
        # re-execute through an aggregating action that carries metrics
        df = incremental_near_dup(spark, idx, delta, threshold=0.3)
        df.collect()
        return pairs, executed_shuffle_summary(df)

    pruned_pairs, pruned_s = run(pruned_idx)
    flat_pairs, flat_s = run(flat_idx)
    assert pruned_pairs == flat_pairs
    assert pruned_s["rows_read"] < flat_s["rows_read"]
    # the pruned scan must skip a nontrivial share of the bands table
    assert pruned_s["rows_read"] < flat_s["rows_read"] - 0.1 * total_bands


def test_q444_streamed_build_equals_one_shot_q440(spark, sf_dir):
    """The round-9 flagship claim, pinned engine-side (both also share
    the DuckDB oracle): draining the corpus through q444's 4-micro-batch
    probe-then-append loop yields EXACTLY the one-shot q440 manifest —
    same funnel counts, same kept sets (ids_xor), same span table
    (spans_xor). One missed cross-batch duplicate, one batch-order
    artifact, one moved boundary and a digest flips."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    qs = all_queries()
    batch = qs["q440_corpus_build_pipeline"].fn(spark, sf_dir).collect()
    streamed = qs["q444_stream_corpus_build"].fn(spark, sf_dir).collect()
    assert [r.asDict() for r in streamed] == [r.asDict() for r in batch]


def _disp_rows(df):
    return sorted((r.asDict() for r in df.collect()),
                  key=lambda d: d["doc_id"])


def test_stream_corpus_build_decon_reference_derived_once(spark, sf_dir,
                                                          monkeypatch):
    """VERDICT-r9 item 3: the benchmark-decontamination reference (eval
    shingle set + Bloom set-bit table) is STANDING state — derived from
    the benchmark slice exactly once at bootstrap and read back per
    batch, never re-derived inside a micro-batch (the old shape rescanned
    the slice every trigger; a per-batch fallback would count 5 here)."""
    import gh_archive_data_pipeline_spark.operators.pipeline_build as pb

    calls = []
    real = pb.decon_reference

    def counting(docs):
        calls.append(1)
        return real(docs)

    monkeypatch.setattr(pb, "decon_reference", counting)
    pb.stream_corpus_build(spark, sf_dir)
    assert len(calls) == 1


def test_stream_corpus_build_crash_recovery_from_checkpoint(spark, sf_dir,
                                                            tmp_path):
    """VERDICT-r9 item 4: a drain KILLED mid-stream (fault injected after
    batch 1's disposition write but BEFORE its index/fingerprint appends —
    the worst-case partial standing state a crash leaves) and RESTARTED
    from the same checkpoint dir converges to the clean drain's standing
    disposition table bit-for-bit."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        stream_corpus_build,
    )

    state = str(tmp_path / "state")
    with pytest.raises(Exception, match="injected fault after stage 3"):
        stream_corpus_build(spark, sf_dir, state_dir=state,
                            fail_after_stage3=1)
    recovered = stream_corpus_build(spark, sf_dir, state_dir=state)
    clean = stream_corpus_build(spark, sf_dir)
    assert _disp_rows(recovered) == _disp_rows(clean)


def test_stream_corpus_build_partial_landing_zone_rewritten(spark, sf_dir,
                                                            tmp_path):
    """ADVICE-r10: a crash DURING the initial landing write leaves a
    partial part-file set that a restart with the same state_dir used to
    silently reuse (gated on isdir alone), dropping the unwritten tail
    from the drain. The _LAND_OK marker (written only after the utime
    stamping completes) makes the restart rewrite the zone instead —
    pinned here by planting a half-corpus landing dir WITHOUT the marker
    and requiring the restarted drain to equal the clean one."""
    from pyspark.sql import functions as F

    from gh_archive_data_pipeline_spark.operators.dedup import EVAL_DOCS
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        stream_corpus_build,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    state = str(tmp_path / "state")
    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    # the partial zone a mid-write crash leaves: valid parquet, half the
    # candidate range, NO _LAND_OK marker
    (docs.filter((F.col("doc_id") >= EVAL_DOCS)
                 & (F.col("doc_id") <= (EVAL_DOCS + hi) // 2))
     .select("doc_id", "source", "text")
     .write.mode("overwrite").parquet(f"{state}/land"))
    recovered = stream_corpus_build(spark, sf_dir, state_dir=state)
    clean = stream_corpus_build(spark, sf_dir)
    assert _disp_rows(recovered) == _disp_rows(clean)


def test_stream_corpus_build_batch_count_invariance(spark, sf_dir):
    """VERDICT-r9 item 5: 2-, 4- and 8-batch drains of the same
    id-ordered landing zone produce IDENTICAL standing disposition tables
    (only 4-vs-one-shot was pinned before; boundary placement must not
    matter)."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        stream_corpus_build,
    )

    base = _disp_rows(stream_corpus_build(spark, sf_dir, n_batches=4))
    assert base, "drain produced no dispositions"
    for n in (2, 8):
        got = _disp_rows(stream_corpus_build(spark, sf_dir, n_batches=n))
        assert got == base, f"{n}-batch drain diverged from 4-batch"


def test_out_of_order_drain_plus_sweep_equals_clean_drain(spark, sf_dir,
                                                          tmp_path):
    """q446's engine claim at the ROW level (the oracle pins the manifest;
    this pins every disposition): a reverse-order drain with the guard
    disabled, followed by ONE reconcile_dispositions sweep, produces a
    disposition table bit-equal to a clean in-order drain's — and the
    UNswept out-of-order table is genuinely different (the sweep repairs
    real damage, it is not a no-op)."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        reconcile_dispositions,
        stream_corpus_build,
    )

    state = str(tmp_path / "ooo")
    wrong = stream_corpus_build(spark, sf_dir, state_dir=state,
                                reverse_arrival=True,
                                allow_out_of_order=True)
    wrong_rows = _disp_rows(wrong)
    swept_rows = _disp_rows(reconcile_dispositions(spark, sf_dir, state))
    clean_rows = _disp_rows(stream_corpus_build(spark, sf_dir))
    assert swept_rows == clean_rows and clean_rows
    assert wrong_rows != clean_rows, (
        "reverse arrival produced no cross-batch damage — the fixture no "
        "longer exercises the sweep; pick a slice with cross-batch dups")


def test_incremental_reconcile_equals_full_sweep_and_is_bounded(
        spark, sf_dir, tmp_path):
    """q447's engine claims: (a) the damage-bounded sweep lands on
    exactly the full sweep's table (hence one-shot q440's, by the q446
    pin); (b) the damage set is a PROPER subset of the corpus — the
    incremental path genuinely re-dispositions less than everything,
    and it is non-empty under reverse arrival (real damage existed)."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        _damaged_doc_ids,
        reconcile_dispositions,
        reconcile_dispositions_incremental,
        stream_corpus_build,
    )

    state = str(tmp_path / "ooo")
    disp0 = stream_corpus_build(spark, sf_dir, state_dir=state,
                                reverse_arrival=True,
                                allow_out_of_order=True)
    total = disp0.count()
    damaged = _damaged_doc_ids(spark, state).count()
    assert 0 < damaged < total, (damaged, total)
    full = _disp_rows(reconcile_dispositions(spark, sf_dir, state))
    inc = _disp_rows(
        reconcile_dispositions_incremental(spark, sf_dir, state))
    assert inc == full


def test_reconcile_dispositions_requires_matched_state(spark, sf_dir,
                                                       tmp_path):
    """The sweep refuses to run without the standing matched sets an
    allow_out_of_order drain persists — silently reconciling with an
    empty matched union would erase every fuzzy-dedup decision."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        reconcile_dispositions,
    )

    with pytest.raises(ValueError, match="no standing matched sets"):
        reconcile_dispositions(spark, sf_dir, str(tmp_path / "empty"))


def test_stream_corpus_build_out_of_order_arrival_raises(spark, sf_dir):
    """VERDICT-r9 item 6: q444's one-shot equality silently DEPENDED on
    id-ordered batch arrival; a landing zone that delivers a lower-id
    file after a higher-id one must now fail loud at the monotonicity
    guard instead of freezing wrong keep-first decisions into standing
    state."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        stream_corpus_build,
    )

    with pytest.raises(Exception, match="out-of-order batch arrival"):
        stream_corpus_build(spark, sf_dir, reverse_arrival=True)


def test_batch_exact_flags_retry_idempotent_and_keep_first(spark):
    """q444's stage-1 laws: (a) keep-first — a standing fingerprint with a
    strictly lower doc_id kills every batch copy, and within a batch the
    min-id copy survives; (b) at-least-once RETRY idempotence — replaying
    a batch whose own survivor rows already sit in the standing table
    (equal doc_ids) yields the IDENTICAL keep1 decisions."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        batch_exact_flags,
    )

    batch = spark.createDataFrame(
        [(30, "s", "alpha beta"), (31, "s", "alpha beta"),
         (32, "s", "fresh text")],
        "doc_id long, source string, text string")
    # no standing state: in-batch window only
    first = {r.doc_id: r.keep1
             for r in batch_exact_flags(batch, None).collect()}
    assert first == {30: True, 31: False, 32: True}
    # standing copy of 'alpha beta' at a LOWER id kills both batch copies
    fp = "alpha beta"
    import hashlib

    f = hashlib.md5(fp.encode()).hexdigest()
    lower = spark.createDataFrame([(f, 10)], "f string, doc_id bigint")
    with_lower = {r.doc_id: r.keep1
                  for r in batch_exact_flags(batch, lower).collect()}
    assert with_lower == {30: False, 31: False, 32: True}
    # RETRY: standing contains the batch's OWN appended survivors (equal
    # ids) — decisions must not change
    own = spark.createDataFrame(
        [(f, 30), (hashlib.md5(b"fresh text").hexdigest(), 32)],
        "f string, doc_id bigint")
    retry = {r.doc_id: r.keep1
             for r in batch_exact_flags(batch, own).collect()}
    assert retry == first


def test_contaminated_ids_equals_exact_semi_join(spark, sf_dir):
    """q440's decontamination gate: the Bloom prefilter is a pure
    work-bounder — the gated result must EQUAL the exact shingle
    semi-join (no false negatives by Bloom law; false positives removed
    by the exact verify)."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        EVAL_DOCS,
        decon_shingle_hashes,
    )
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        contaminated_ids,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= EVAL_DOCS).select(
        "doc_id", "text")
    got = {r.doc_id for r in contaminated_ids(docs, corpus).collect()}
    ev = (decon_shingle_hashes(docs.filter(F.col("doc_id") < EVAL_DOCS))
          .select("h1", "h2").distinct())
    exact = {r.doc_id for r in
             (decon_shingle_hashes(corpus)
              .join(ev, ["h1", "h2"], "left_semi")
              .select("doc_id").distinct()).collect()}
    assert got == exact and exact  # nonempty on the fixture


def test_q440_funnel_invariants(spark, sf_dir):
    """The composed corpus-build pipeline's accounting laws: every
    candidate lands in exactly one funnel bucket (candidates = drops +
    kept, per split); the whole candidate universe (doc_id >= 25) is
    covered; packed sequences tile each split's padded stream exactly
    (n_seqs = ceil((n_tokens + n_docs EODs) / 2048)); digests are
    nonzero where docs were kept."""
    import math

    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = (all_queries()["q440_corpus_build_pipeline"]
            .fn(spark, sf_dir).collect())
    assert sorted(r.split for r in rows) == ["test", "train", "validation"]
    assert sum(r.n_candidates for r in rows) == 475
    for r in rows:
        assert (r.dropped_exact + r.dropped_chunk + r.dropped_contaminated
                + r.dropped_quality + r.n_docs) == r.n_candidates, r
        assert 0 <= r.trimmed_docs <= r.n_docs
        assert r.n_seqs == math.ceil((r.n_tokens + r.n_docs) / 2048), r
        if r.n_docs:
            assert r.ids_xor != 0 and r.spans_xor != 0


def test_manifest_zero_kept_split_reports_zero_not_null(spark):
    """VERDICT-r11 item 4 pin: a split whose docs ALL drop reports concrete
    zeros for the kept-side stats. The round-11 merged conditional rollup
    made this 0 where the old kept-stats left join produced NULL —
    unreachable on every current fixture (each split keeps docs), so this
    declares the degenerate-input contract explicitly."""
    from gh_archive_data_pipeline_spark.operators.pipeline_build import (
        manifest_from_disposition,
    )

    disp = spark.createDataFrame(
        [(1, "a", "train", "kept", "keep", 5, "a b c d e"),
         (2, "a", "train", "quality", "keep", 5, "f g h i j"),
         (3, "a", "validation", "quality", "keep", 4, "k l m n"),
         (4, "a", "validation", "exact_dup", None, None, None)],
        "doc_id long, source string, split string, outcome string,"
        " disposition string, kept_tokens long, text string")
    out = {r.split: r for r in manifest_from_disposition(disp).collect()}
    v = out["validation"]
    assert v.n_docs == 0 and v.n_tokens == 0 and v.n_seqs == 0
    assert v.ids_xor == 0 and v.spans_xor == 0
    assert v.n_candidates == 2 and v.dropped_quality == 1
    t = out["train"]
    assert t.n_docs == 1 and t.n_tokens == 5 and t.ids_xor != 0


def test_chunk_dispositions_containment_and_single_chunk_edges(spark):
    """q441 policy edges (VERDICT-r8 item 5): full containment -> the
    LATER doc drops entirely (keep-first); a single-chunk overlap on a
    many-chunk doc -> 'trim' cutting exactly that chunk, reconstruction
    preserving the rest in order; the EARLIER doc always keeps intact."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        chunk_dedup_dispositions,
    )

    # 48 words = 3 chunks of 16; doc 1 is a verbatim copy of doc 0 (full
    # containment); doc 2 shares exactly doc 0's first chunk out of 5.
    base = [f"w{i}" for i in range(48)]
    tail = [f"u{i}" for i in range(64)]
    docs = spark.createDataFrame(
        [(0, " ".join(base)),
         (1, " ".join(base)),
         (2, " ".join(base[:16] + tail))],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in chunk_dedup_dispositions(docs).collect()}
    assert rows[0].disposition == "keep" and rows[0].matched_chunks == 0
    assert rows[0].kept_text == " ".join(base)
    assert rows[1].disposition == "drop"          # full containment
    assert rows[1].matched_fraction == 1.0
    assert rows[1].kept_tokens == 0 and rows[1].kept_text == ""
    assert rows[2].disposition == "trim"          # 1 of 5 chunks = 0.2
    assert rows[2].matched_chunks == 1
    assert rows[2].kept_text == " ".join(tail)    # chunk 0 cut, rest in order
    assert rows[2].kept_tokens == 64


def test_chunk_key_id_guard_raises_on_alias(spark):
    """ADVICE r9: a document with >= CHUNK_KEY chunks must FAIL the encode,
    not silently alias into another document's chunk-id space (at the old
    CHUNK_KEY=64 any >1024-word doc corrupted its neighbors' dispositions
    and the oracle replayed the same convention, so parity couldn't see
    it). The widened key gives 2^20 slots; the guard covers the rest."""
    import pyspark.sql.functions as F  # noqa: N812

    from gh_archive_data_pipeline_spark.operators.dedup import (
        CHUNK_KEY,
        chunk_key_doc,
        chunk_key_id,
    )

    ok = spark.createDataFrame([(7, CHUNK_KEY - 1)], "doc_id long, idx long")
    enc = ok.select(chunk_key_id(F.col("doc_id"), F.col("idx"))
                    .alias("c")).first().c
    assert enc == 7 * CHUNK_KEY + CHUNK_KEY - 1
    # decode round-trips through integer div (not float /)
    assert (ok.select(chunk_key_id(F.col("doc_id"), F.col("idx"))
                      .alias("cid"))
            .select(chunk_key_doc("cid").alias("d")).first().d == 7)
    bad = spark.createDataFrame([(7, CHUNK_KEY)], "doc_id long, idx long")
    with pytest.raises(Exception, match="alias"):
        bad.select(chunk_key_id(F.col("doc_id"), F.col("idx"))
                   .alias("c")).collect()


def test_chunk_dispositions_below_trim_threshold_keeps_whole_doc(spark):
    """A matched fraction under CHUNK_TRIM_AT must leave the document
    untouched — kept_text is the FULL reconstruction, matched chunks
    included (incidental overlap is not trimmed)."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        chunk_dedup_dispositions,
    )

    base = [f"w{i}" for i in range(16)]
    tail = [f"u{i}" for i in range(96)]      # 7 chunks total, 1 matched
    docs = spark.createDataFrame(
        [(0, " ".join(base)),
         (1, " ".join(base + tail))],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in chunk_dedup_dispositions(docs).collect()}
    assert rows[1].matched_chunks == 1 and rows[1].n_chunks == 7
    assert rows[1].disposition == "keep"     # 1/7 ~ 0.14 < 0.2
    assert rows[1].kept_text == " ".join(base + tail)
    assert rows[1].kept_tokens == 112


def test_ivf_delete_hides_ids(spark, sf_dir, tmp_path):
    """index_store.delete on an IVF index: (a) tombstoned ids never
    surface as neighbors and survivor ranks re-pack densely; (b) delete
    batches accumulate (two calls -> two delete partitions, union
    applied)."""
    import os

    from gh_archive_data_pipeline_spark.operators import similarity as sim
    from gh_archive_data_pipeline_spark.sources.index_store import delete
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, idx)
    queries = emb.filter("vec_id < 5")

    import pyspark.sql.functions as F  # noqa: N812

    d1 = delete(
        spark, idx, emb.filter("vec_id % 7 = 3").select("vec_id"), "vec_id")
    d2 = delete(
        spark, idx, emb.filter("vec_id % 11 = 5").select("vec_id"), "vec_id")
    # collision-free partition naming (round-11 ADVICE): two delete calls
    # can never overwrite each other's tombstones
    assert d1 != d2 and d1.startswith("delete=") and d2.startswith("delete=")
    assert sorted(os.listdir(f"{idx}/tombstones")) == sorted([d1, d2])
    got = sim.ivf_search(spark, idx, queries)
    rows = got.collect()
    assert rows and all(r.neighbor_id % 7 != 3 and r.neighbor_id % 11 != 5
                        for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())


def test_bpe_ignores_empty_tokens_from_ragged_whitespace(spark):
    """ADVICE r7: Spark split('','') yields [''] while DuckDB string_split
    yields [] — consecutive/leading/trailing spaces must not poison the
    pair counts. Training on ragged text equals training on the same text
    with single spaces, and the DuckDB oracle replay agrees round by round
    on the ragged input itself."""
    import duckdb
    import pandas as pd

    from gh_archive_data_pipeline_spark.operators.tokenize import (
        _BPE_MERGES, _bpe_oracle, bpe_train)

    ragged = ["  spark window  merge", "spark  spark window ",
              " merge merge spark window", "window  window"]
    clean = [" ".join(t.split()) for t in ragged]
    df_ragged = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ragged)], "doc_id long, text string")
    df_clean = spark.createDataFrame(
        [(i, t) for i, t in enumerate(clean)], "doc_id long, text string")
    got = bpe_train(df_ragged)
    assert got == bpe_train(df_clean)

    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(ragged)),
                               "text": ragged}))
    oracle = con.execute(_bpe_oracle(_BPE_MERGES)).fetchall()
    assert [(s, l, r, m, c) for s, l, r, m, c in oracle] == got


def test_png_codec_round_trips_all_filters():
    """decode(make_png_gray(x)) == x on random images — the encoder cycles
    ALL FIVE scanline filter types per row, so every unfilter path is
    exercised; 1-pixel-wide and 1-row edge shapes included."""
    import random

    from gh_archive_data_pipeline_spark.operators.multimodal import (
        decode_png, make_png_gray)

    rng = random.Random(7)
    shapes = [(1, 1), (1, 9), (9, 1), (5, 5)] + [
        (rng.randint(2, 40), rng.randint(2, 40)) for _ in range(12)]
    for w, h in shapes:
        px = bytes(rng.randrange(256) for _ in range(w * h))
        d = decode_png(make_png_gray(w, h, px))
        assert (d["width"], d["height"], d["channels"]) == (w, h, 1)
        assert d["pixels"] == px, (w, h)


def test_png_decode_real_encoder_file_and_corruption():
    """A genuine encoder-produced 1x1 RGBA PNG decodes to its known pixel
    (half-transparent red); structural corruption raises instead of
    returning wrong pixels."""
    import base64

    import pytest

    from gh_archive_data_pipeline_spark.operators.multimodal import (
        decode_png, make_png_gray)

    real_png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQ"
        "DwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    d = decode_png(real_png)
    assert (d["width"], d["height"], d["channels"]) == (1, 1, 4)
    assert list(d["pixels"]) == [255, 0, 0, 127]

    good = make_png_gray(4, 3, bytes(range(12)))
    with pytest.raises(ValueError, match="bad CRC"):
        # flip one IDAT payload byte; the chunk CRC must catch it
        idx = good.index(b"IDAT") + 6
        decode_png(good[:idx] + bytes([good[idx] ^ 0xFF]) + good[idx + 1:])
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"GIF89a")
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png(good[:20])


def test_wav_pcm_round_trips_and_deinterleaves():
    import random

    from gh_archive_data_pipeline_spark.operators.multimodal import (
        decode_wav_pcm, make_wav_pcm)

    rng = random.Random(13)
    for ch in (1, 2, 4):
        fr = rng.randint(1, 99)
        s = [rng.randint(-32768, 32767) for _ in range(ch * fr)]
        d = decode_wav_pcm(make_wav_pcm(16000, ch, s))
        assert (d["sample_rate"], d["channels"], d["frames"]) == (16000, ch, fr)
        # channel c must hold exactly the interleaved samples at i % ch == c
        for c in range(ch):
            assert d["samples"][c] == s[c::ch]


def test_avi_round_trip_sampling_and_corruption():
    import pytest

    from gh_archive_data_pipeline_spark.operators.multimodal import (
        _planted_video, decode_avi_frames, make_avi)

    w, h, n, frames = _planted_video(11)
    avi = make_avi(w, h, frames)
    dec = decode_avi_frames(avi)         # every 2nd frame
    assert (dec["width"], dec["height"], dec["n_frames"]) == (w, h, n)
    assert [i for i, _ in dec["frames"]] == list(range(0, n, 2))
    # each sampled frame is its stored DIB frame with the row padding
    # stripped and the bottom-up rows flipped top-down
    stride = (3 * w + 3) & ~3
    for i, pix in dec["frames"]:
        assert pix == b"".join(frames[i][y * stride:y * stride + 3 * w]
                               for y in range(h - 1, -1, -1))
    # top-down row 0 differs from DIB storage row 0 whenever h > 1 and the
    # law varies by row — i.e. the decoder really flipped rows
    assert h > 1
    raw0 = frames[0][: 3 * w]            # stored bottom row (y_top = h-1)
    assert dict(dec["frames"])[0][:3 * w] != raw0
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_avi_frames(b"nope")
    with pytest.raises(ValueError, match="truncated chunk"):
        decode_avi_frames(avi[:-10])      # truncated container
    with pytest.raises(ValueError, match="frame count mismatch"):
        # lie in avih's dwTotalFrames (5th uint32 of the avih body): the
        # decoder must cross-check declared vs observed frame chunks
        import struct as _s
        at = avi.index(b"avih") + 8 + 16
        lied = avi[:at] + _s.pack("<I", n + 3) + avi[at + 4:]
        decode_avi_frames(lied)


def _chunk(tag: str) -> str:
    """One CHUNK_WORDS-word (16-word) chunk of distinct words."""
    return " ".join(f"{tag}{i}" for i in range(16))


def test_chunk_dedup_clean_crafted(spark):
    """q414 semantics on a crafted corpus of 16-word chunks: cross-doc and
    intra-doc duplicate chunks are removed, first occurrence (smallest
    (doc_id, idx)) wins, kept chunks reassemble in order."""
    import hashlib

    from gh_archive_data_pipeline_spark.operators.dedup import (
        chunk_dedup_clean,
    )

    a, c, x, p = _chunk("a"), _chunk("c"), _chunk("x"), _chunk("p")
    docs = spark.createDataFrame(
        [
            (0, f"{a} {c} {a}"),  # chunks: [a][c][a] -> intra-dup
            (1, f"{a} {x}"),      # [a] dup of doc0 chunk0 -> removed
            (2, p),               # unique
        ],
        "doc_id long, text string")
    got = {r.doc_id: r for r in chunk_dedup_clean(docs).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[0].n_chunks, got[0].kept_chunks, got[0].removed_chunks) == (3, 2, 1)
    assert got[0].cleaned_md5 == md5(f"{a} {c}")
    assert (got[1].n_chunks, got[1].kept_chunks) == (2, 1)
    assert got[1].cleaned_md5 == md5(x)
    assert got[2].removed_chunks == 0 and got[2].cleaned_md5 == md5(p)


def test_chunk_dedup_clean_fully_removed_doc(spark):
    """A document that is chunk-for-chunk a repeat of an earlier one keeps
    nothing; its cleaned text is '' (md5 of empty string)."""
    import hashlib

    from gh_archive_data_pipeline_spark.operators.dedup import (
        chunk_dedup_clean,
    )

    text = f"{_chunk('a')} {_chunk('c')}"
    docs = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string")
    got = {r.doc_id: r for r in chunk_dedup_clean(docs).collect()}
    assert got[1].kept_chunks == 0
    assert got[1].cleaned_md5 == hashlib.md5(b"").hexdigest()


def _bloom_probe(spark, inserted_texts, probe_rows, m=1024):
    """q415's production Bloom path on hand-made docs: 8-word shingle
    hashes -> k positions -> packed bitmap -> scan-side hit expression.
    Returns (set-bit row count, [(doc_id, hit)] per probe shingle)."""
    from gh_archive_data_pipeline_spark.operators.dedup import (
        _bloom_hit_sql,
        _bloom_positions_h,
        bloom_bitmap,
        decon_shingle_hashes,
    )

    schema = "doc_id long, text string"
    ins = decon_shingle_hashes(spark.createDataFrame(
        list(enumerate(inserted_texts)), schema))
    bits = (ins.select(F.explode(_bloom_positions_h(
        F.col("h1"), F.col("h2"), m=m)).alias("pos")).distinct())
    hit = F.expr(_bloom_hit_sql(bloom_bitmap(bits, m=m), m=m))
    probed = decon_shingle_hashes(spark.createDataFrame(probe_rows, schema))
    return bits.count(), [(r.doc_id, r.hit) for r in probed.select(
        "doc_id", hit.alias("hit")).collect()]


def _eight_words(key: str) -> str:
    return f"{key} b c d e f g h"  # exactly one 8-word shingle


def test_bloom_no_false_negatives_and_bounded_bits(spark):
    """q415's Bloom primitives: every inserted key must hit (Bloom filters
    have no false negatives), the set-bit table is bounded by m, and a
    disjoint probe set's hits are only ever FPs."""
    keys = [_eight_words(f"key-{i}") for i in range(50)]
    n_bits, got = _bloom_probe(spark, keys, list(enumerate(keys)))
    assert n_bits <= min(1024, 150)
    assert len(got) == 50 and all(h for _, h in got)  # no false negatives
    others = [(i, _eight_words(f"other-{i}")) for i in range(200)]
    _, fp = _bloom_probe(spark, keys, others)
    # 150/1024 bits set -> per-key FP ~ (0.146)^3 ~ 0.3%; 200 probes
    # should see at most a handful (generous bound, deterministic hashes)
    assert sum(h for _, h in fp) <= 10


def test_tokenizer_fertility_invariants(spark):
    """q417: one row per tokenizer; every fertility >= 1 piece/word (a
    subword tokenizer can never emit fewer pieces than words); all three
    agree on n_words on this fixture (no word exceeds MAX_WORD_LEN)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q417_tokenizer_fertility"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert sorted(r.tokenizer for r in rows) == ["bpe", "unigram",
                                                 "wordpiece"]
    nw = {r.n_words for r in rows}
    assert len(nw) == 1
    for r in rows:
        assert r.pieces_per_word >= 1.0
        assert r.n_pieces >= r.n_words


def test_assign_split_deterministic_and_stable_under_growth(spark):
    """q418's core law: the split is a pure function of (salt, id) — two
    invocations agree row-for-row, and adding new documents cannot move
    any existing document's assignment."""
    from gh_archive_data_pipeline_spark.operators.sampling import (
        assign_split,
    )

    base = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {r.doc_id: r.split for r in assign_split(base).collect()}
    b = {r.doc_id: r.split for r in assign_split(base).collect()}
    assert a == b
    grown = spark.createDataFrame([(i,) for i in range(400)], "doc_id long")
    g = {r.doc_id: r.split for r in assign_split(grown).collect()}
    assert all(g[i] == a[i] for i in range(200))
    # roughly 80/10/10 on 400 ids (hash balance, generous bounds)
    from collections import Counter
    c = Counter(g.values())
    assert 0.7 <= c["train"] / 400 <= 0.9
    assert c["validation"] > 0 and c["test"] > 0


def test_assign_split_salt_versions_the_assignment(spark, monkeypatch):
    """Changing the salt (the module's SPLIT_SALT) is the ONLY way the
    split moves."""
    from gh_archive_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    v1 = {r.doc_id: r.split for r in sampling.assign_split(df).collect()}
    monkeypatch.setattr(sampling, "SPLIT_SALT", "v2")
    v2 = {r.doc_id: r.split for r in sampling.assign_split(df).collect()}
    assert v1 != v2  # some ids must move under a new salt


def test_cdc_boundary_semantics(spark):
    """A boundary word (md5_60 % CDC_MOD == 0) ENDS its chunk; the next
    word starts a new one. Verified against a chunking rebuilt in Python."""
    import hashlib

    from gh_archive_data_pipeline_spark.operators.dedup import (
        CDC_MOD, cdc_chunks)

    words = [f"w{i}" for i in range(40)]
    def is_boundary(w, mod):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % mod == 0
    mod = CDC_MOD
    docs = spark.createDataFrame([(0, " ".join(words))],
                                 "doc_id long, text string")
    got = {r.cid: r.chunk for r in cdc_chunks(docs).collect()}
    # rebuild expected chunks in python
    expected, cur = [], []
    for w in words:
        cur.append(w)
        if is_boundary(w, mod):
            expected.append(" ".join(cur)); cur = []
    if cur:
        expected.append(" ".join(cur))
    assert len(expected) > 1
    assert [got[i] for i in sorted(got)] == expected


def test_cdc_chunks_survive_prefix_insertion(spark):
    """THE content-defined property: prepending words re-chunks only the
    head neighborhood — most chunk hashes survive, whereas fixed-width
    chunking (q414's granularity) shifts every boundary."""
    import hashlib

    from gh_archive_data_pipeline_spark.operators.dedup import cdc_chunks

    base = [f"w{i}" for i in range(200)]
    shifted = ["inserted0", "inserted1"] + base
    docs = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(shifted))],
        "doc_id long, text string")
    rows = cdc_chunks(docs).collect()
    h = lambda s: hashlib.md5(s.encode()).hexdigest()
    a = {h(r.chunk) for r in rows if r.doc_id == 0}
    b = {h(r.chunk) for r in rows if r.doc_id == 1}
    # all of doc0's chunks except (possibly) its first must reappear
    assert len(a & b) >= len(a) - 1
    # fixed-width chunking under the same insertion shares almost nothing
    fixed_a = {h(" ".join(base[i:i + 16])) for i in range(0, 200, 16)}
    fixed_b = {h(" ".join(shifted[i:i + 16])) for i in range(0, 202, 16)}
    assert len(fixed_a & fixed_b) == 0


def test_psi_zero_when_populations_identical(spark):
    """PSI's core law: identical distributions -> psi ~ 0. Craft two
    populations with the same word-count histogram via the q425 pipeline's
    own bucket math (run the registered query on a fixture where src<10
    and src>=10 are construction-identical is not available, so pin the
    pure math here: p == q -> every term is 0)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q425_psi_drift_monitor"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    total = rows[0].psi_total
    assert all(r.psi_total == total for r in rows)
    # psi_total equals the sum of its terms (quantization makes it exact)
    assert abs(sum(r.psi_term for r in rows) - total) < 1e-6
    # the fixture's two halves are drawn from the same generator: drift
    # must read as stable (PSI < 0.1 is the standard threshold)
    assert 0.0 <= total < 0.1


def test_oov_audit_invariants(spark):
    """q426: OOV counts are bounded by totals; both non-train splits
    appear; rates replicate oov_tokens/n_tokens."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q426_oov_audit"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert sorted(r.split for r in rows) == ["test", "validation"]
    for r in rows:
        assert 0 <= r.oov_tokens <= r.n_tokens
        assert 0 <= r.oov_types <= r.n_types
        assert r.oov_rate == round(r.oov_tokens / r.n_tokens, 6)


def test_bloom_probe_empty_filter_all_misses(spark):
    """Probing an EMPTY filter (no eval set) must return zero hits, not
    error — the decontamination pipeline's no-benchmark edge."""
    _, got = _bloom_probe(spark, [], [(0, _eight_words("a")),
                                      (1, _eight_words("b"))])
    assert len(got) == 2 and not any(h for _, h in got)


def test_bloom_probe_duplicate_rows_no_false_negative(spark):
    """Round-8 ADVICE regression: duplicate probe rows must NOT pool their
    matched positions and fake a miss — an inserted text probed twice (or
    thrice) hits on EVERY copy, and a NULL text yields no probe at all."""
    dup, solo = _eight_words("dup"), _eight_words("solo")
    _, got = _bloom_probe(spark, [dup, solo],
                          [(0, dup), (1, dup), (2, dup), (3, solo),
                           (4, None)])
    assert sorted(got) == [(0, True), (1, True), (2, True), (3, True)]


def test_ahash_brightness_invariance_and_self_distance():
    """q428's hash law: bit = (block_sum * n > total * block_n) is invariant
    to a uniform brightness shift (the property that makes aHash a
    PERCEPTUAL hash), and identical images hash identically."""
    from gh_archive_data_pipeline_spark.operators.multimodal import (
        ahash_bits,
    )

    w, h = 13, 9
    base = bytes((x * 7 + y * 3) % 200 for y in range(h) for x in range(w))
    shifted = bytes(p + 55 for p in base)  # stays < 256
    assert ahash_bits(w, h, base) == ahash_bits(w, h, shifted)
    assert ahash_bits(w, h, base) == ahash_bits(w, h, base)
    # a structurally different image must differ
    other = bytes((x * 11 + y * 17 + 40) % 256
                  for y in range(h) for x in range(w))
    assert ahash_bits(w, h, base) != ahash_bits(w, h, other)


def test_audio_fingerprint_laws():
    """q430's kernel: identical channels -> identical fingerprints (Hamming
    0); a constant-gain channel keeps the CONTOUR (delta-coded bits are
    scale-direction invariant for positive gain on distinct energies);
    window count is ceil(frames/32)."""
    from gh_archive_data_pipeline_spark.operators.multimodal import (
        audio_fingerprint,
    )

    chan = [((i * 37) % 1000) - 500 for i in range(100)]
    nw, e, fp = audio_fingerprint(chan)
    assert nw == 4  # ceil(100/32)
    nw2, e2, fp2 = audio_fingerprint(list(chan))
    assert (nw, e, fp) == (nw2, e2, fp2)
    doubled = [s * 2 for s in chan]
    _, e3, fp3 = audio_fingerprint(doubled)
    assert fp3 == fp and e3 == 2 * e  # contour survives gain
    assert audio_fingerprint([0] * 64)[2] == 0  # flat audio -> no rises


def test_matryoshka_recall_monotone_in_dims(spark):
    """q432: recall must (weakly) improve with more prefix dimensions and
    stay strictly below 1 at dim 8 on the near-isotropic fixture (if dim-8
    reads 1.0 the harness is comparing a ranking to itself)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = sorted(all_queries()["q432_matryoshka_recall"].fn(
        spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.dims)
    assert [r.dims for r in rows] == [8, 16, 32]
    recalls = [r.recall_at_10 for r in rows]
    assert all(0.0 <= v <= 1.0 for v in recalls)
    assert recalls[0] <= recalls[2]
    assert recalls[0] < 0.9


def test_label_retrieval_eval_invariants(spark):
    """q433: reciprocal ranks replicate 1/first_rel_rank; mrr is the mean
    of the per-query reciprocal ranks and identical on every row;
    precision bounded by 1."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q433_label_retrieval_eval"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    mrrs = {r.mrr for r in rows}
    assert len(mrrs) == 1
    rr_sum = 0.0
    for r in rows:
        assert 0.0 <= r.precision_at_10 <= 1.0
        if r.first_rel_rank == -1:
            assert r.reciprocal_rank == 0.0
        else:
            assert r.reciprocal_rank == round(1 / r.first_rel_rank, 6)
        rr_sum += r.reciprocal_rank
    assert abs(rr_sum / 10 - rows[0].mrr) < 1e-5


def test_jsd_bounded_and_total_consistent(spark):
    """q435: JSD is bounded by ln 2; the total repeats on every row; the
    same-generator halves must read as low divergence."""
    import math

    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q435_jsd_vocab_divergence"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    totals = {r.jsd_total for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    assert 0.0 <= total <= math.log(2) + 1e-9
    assert total < 0.1  # same generator -> near-zero drift


def test_bloom_sizing_sweep_monotone(spark):
    """q436: more bits -> lower fill ratio and (weakly) lower measured FPR;
    the smallest filter must be badly saturated so the sweep's knee is a
    real demonstration, and all FPRs are valid rates."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = sorted(all_queries()["q436_bloom_sizing_sweep"].fn(
        spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.m)
    assert [r.m for r in rows] == [2048, 8192, 32768]
    fills = [r.fill_ratio for r in rows]
    fprs = [r.fpr for r in rows]
    assert fills[0] > fills[1] > fills[2]
    assert fprs[0] >= fprs[1] >= fprs[2]
    assert fills[0] > 0.8          # saturated small filter
    assert all(0.0 <= f <= 1.0 for f in fprs)
    assert len({r.n_negs for r in rows}) == 1  # same negative set per m


def test_nprobe_sweep_monotone_tradeoff(spark):
    """q437: both recall and corpus fraction must be (weakly) monotone in
    nprobe, recall at the full sweep end must beat the nprobe=1 end (the
    curve is a real trade, not flat), and fractions are valid."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = sorted(all_queries()["q437_ivf_nprobe_sweep"].fn(
        spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    recalls = [r.recall_at_10 for r in rows]
    fracs = [r.corpus_fraction for r in rows]
    assert all(recalls[i] <= recalls[i + 1] + 1e-9 for i in range(3))
    assert all(fracs[i] <= fracs[i + 1] + 1e-9 for i in range(3))
    assert recalls[3] > recalls[0]
    assert all(0.0 <= f <= 1.0 for f in fracs)


def test_scalar_quant_recall_high_but_quantization_real(spark):
    """q438: int8 over 64 dims must preserve almost all of the top-10
    (recall >= 0.9 — that's the point of the audit) while the grid is
    genuinely lossy (q413's max_abs_err > 0 on some dim, so a perfect
    1.0 recall would be preservation, not a no-op)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q438_scalar_quant_recall"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 1 and rows[0].k == 10
    assert 0.9 <= rows[0].recall_at_10 <= 1.0
    audit = all_queries()["q413_scalar_quant_audit"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert any(r.max_abs_err > 0 for r in audit)


def _write_synth_docs(spark, tmp_path, texts):
    """Write a minimal documents.parquet fixture (the real table's schema)
    so registry queries can run against adversarial synthetic texts."""
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_q125_runlength_kernel_matches_explode_reference(spark, tmp_path):
    """Round-11 optimization: q125's per-doc bigram counts moved from
    explode + groupBy(doc,bigram) + groupBy(doc) to a scan-side sorted-array
    run-length kernel (zero shuffles). Pin the kernel against the old
    explode shape on adversarial docs: all-equal bigrams, all-distinct,
    alternating (two interleaved runs), single-bigram, disjoint runs, and
    a too-short doc that must be filtered out."""
    texts = [
        "a a a a",        # one bigram repeated 3x: total 3, dup 3, top 3
        "a b c d",        # all distinct: dup 0, top 1
        "x y x y x",      # "x y"x2 + "y x"x2: total 4, dup 4, top 2
        "a b",            # single bigram: total 1, dup 0, top 1
        "z z a a z z",    # runs z z:2, z a:1, a a:1, a z:1
        "t",              # size<2 -> excluded entirely
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q125_repetition_ngrams,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    got = {r["doc_id"]: r for r in q125_repetition_ngrams(spark, sf).collect()}
    # reference = the pre-optimization explode + two-groupBy plan, inline
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
    counts = (load_table(spark, sf, "documents")
              .select("doc_id", F.split("text", " ").alias("toks"))
              .where(F.size("toks") >= 2)
              .select("doc_id", F.explode(bigrams).alias("bigram"))
              .groupBy("doc_id", "bigram").agg(F.count("*").alias("c")))
    dup = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
    ref_df = (counts.groupBy("doc_id")
              .agg(F.sum("c").cast("bigint").alias("total_bigrams"),
                   dup.cast("bigint").alias("dup_bigrams"),
                   F.max("c").cast("bigint").alias("top_bigram_count"),
                   F.round(dup.cast("double") / F.sum("c"), 6)
                   .alias("dup_bigram_frac"),
                   F.round(F.max("c").cast("double") / F.sum("c"), 6)
                   .alias("top_bigram_share")))
    ref = {r["doc_id"]: r for r in ref_df.collect()}
    assert set(got) == set(ref) == {0, 1, 2, 3, 4}
    for d in ref:
        for f in ("total_bigrams", "dup_bigrams", "top_bigram_count",
                  "dup_bigram_frac", "top_bigram_share"):
            assert got[d][f] == ref[d][f], (d, f, got[d], ref[d])
    # spot-check the hand-computed row (belt and braces vs the reference)
    assert (got[0]["total_bigrams"], got[0]["dup_bigrams"],
            got[0]["top_bigram_count"]) == (3, 3, 3)
    assert (got[2]["total_bigrams"], got[2]["dup_bigrams"],
            got[2]["top_bigram_count"]) == (4, 4, 2)


def test_q144_owner_count_matches_joinback_reference(spark, tmp_path):
    """Round-11 optimization: q144's per-doc gram dedup moved scan-side
    (array_distinct) and novel counts now come from grouping the owner
    table by first_owner instead of joining owners back onto the full
    (doc, gram) stream. Pin against the old join-back shape, covering
    within-doc duplicate trigrams and a doc with zero novel grams."""
    texts = [
        "p q r s",        # pqr, qrs both novel
        "p q r t",        # pqr owned by doc 0; qrt novel
        "p q r p q r",    # within-doc dup of pqr; qrp/rpq novel
        "p q r",          # only pqr, owned by doc 0 -> novel 0
        "u v",            # size<3 -> excluded
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        q144_ngram_novelty,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    got = {r["doc_id"]: r for r in q144_ngram_novelty(spark, sf).collect()}
    # reference = the pre-optimization dropDuplicates + join-back plan
    # (IF-guarded like production: InferFiltersFromGenerate evaluates the
    # transform before the size filter prunes the 2-token doc)
    trigrams = F.expr(
        "IF(size(toks) < 3, array(),"
        " transform(sequence(1, size(toks) - 2),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1),"
        " ' ', element_at(toks, i + 2))))")
    grams = (load_table(spark, sf, "documents")
             .select("doc_id", F.split("text", " ").alias("toks"))
             .where(F.size("toks") >= 3)
             .select("doc_id", F.explode(trigrams).alias("gram"))
             .dropDuplicates(["doc_id", "gram"]))
    owner = grams.groupBy("gram").agg(F.min("doc_id").alias("first_owner"))
    novel = F.sum((F.col("first_owner") == F.col("doc_id")).cast("int"))
    ref_df = (grams.join(owner, "gram")
              .groupBy("doc_id")
              .agg(F.count("*").cast("bigint").alias("n_grams"),
                   novel.cast("bigint").alias("novel_grams"),
                   F.round(novel.cast("double") / F.count("*"), 6)
                   .alias("novelty")))
    ref = {r["doc_id"]: r for r in ref_df.collect()}
    assert set(got) == set(ref) == {0, 1, 2, 3}
    for d in ref:
        for f in ("n_grams", "novel_grams", "novelty"):
            assert got[d][f] == ref[d][f], (d, f, got[d], ref[d])
    assert (got[3]["n_grams"], got[3]["novel_grams"]) == (1, 0)
    assert (got[2]["n_grams"], got[2]["novel_grams"]) == (3, 2)


def test_sorted_run_pairs_kernel(spark):
    """Round-11 shared kernel (_sorted_run_pairs): (value, count) pairs of
    a pre-sorted array must equal the explode + groupBy(doc, value) counts,
    including single-element arrays and runs at both ends."""
    from gh_archive_data_pipeline_spark.operators.corpus_stats import (
        _sorted_run_pairs,
    )

    df = spark.createDataFrame(
        [(1, ["a", "a", "b", "c", "c", "c"]),
         (2, ["x"]),
         (3, ["m", "m", "m", "m"]),
         (4, ["a", "b"])],
        "doc_id long, s array<string>")
    got = {(r["doc_id"], r["v"]): r["c"]
           for r in _sorted_run_pairs(df).collect()}
    ref = {(r["doc_id"], r["tok"]): r["c"]
           for r in (df.select("doc_id", F.explode("s").alias("tok"))
                     .groupBy("doc_id", "tok")
                     .agg(F.count("*").cast("int").alias("c"))).collect()}
    assert got == ref
    assert got[(1, "c")] == 3 and got[(2, "x")] == 1 and got[(3, "m")] == 4


def test_short_doc_guards_no_crash(spark, tmp_path):
    """Round-11 hardening: InferFiltersFromGenerate can evaluate a
    gram-builder transform under the Generate's inferred filter BEFORE the
    size() predicate prunes short docs, and sequence(1, n) with n < 1
    descends — element_at/slice then throw. Every guarded gram builder must
    survive a corpus containing 1- and 2-token docs (a real 100 TB corpus
    has them) and still produce the long-doc rows."""
    texts = [
        "t",                                          # 1 token
        "u v",                                        # 2 tokens
        "a b c d e f g h i j a b c d e f g h i j",    # 20 tokens
        "p q r s t u v w p q r s t u v w",            # 16 tokens
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    qs = all_queries()
    for name in ("q224_duplicated_spans", "q393_span_dedup_clean",
                 "q198_npmi_collocations", "q315_kneser_ney",
                 "q153_lm_crossentropy", "q144_ngram_novelty",
                 "q125_repetition_ngrams", "q107_boilerplate_score"):
        rows = qs[name].fn(spark, sf).collect()  # must not raise
        assert rows is not None, name
    # spot-check semantics: q393 emits ALL docs (left join), q153 only >= 2
    assert len(qs["q393_span_dedup_clean"].fn(spark, sf).collect()) == 4
    assert len(qs["q153_lm_crossentropy"].fn(spark, sf).collect()) == 3


def test_q393_intpair_kernel_matches_string_reference(spark, tmp_path):
    """Round-12 optimization (VERDICT-r11 item 2): q393's ownership window
    shuffles the full md5 span key as two signed-bigint halves (conv
    bijection) and duplicated spans cross the per-doc rollup as start
    positions (8x fewer ints in the agg buffers). Pin the new shape
    against the old one — string span_key window + explode(j) +
    collect_set — on adversarial docs: cross-doc duplicate spans,
    overlapping in-doc duplicates, a fully-removed doc, and short docs."""
    base = "a b c d e f g h"               # one 8-token span
    texts = [
        base + " x y z",                   # owner of the span (doc 0)
        base,                              # exact dup span -> fully removed
        "p " + base + " q",                # dup span mid-doc
        base + " " + base,                 # in-doc overlap: spans repeat
        "m n o",                           # short doc: no spans
        "t",                               # 1 token
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from pyspark.sql import Window
    from gh_archive_data_pipeline_spark.plans.registry import all_queries
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    got = sorted(
        tuple(r) for r in
        all_queries()["q393_span_dedup_clean"].fn(spark, sf).collect())
    # reference = the pre-round-12 shape, inline
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    spans = (toks.where(F.size("w") >= 8)
             .select("doc_id", F.explode(F.expr(
                 "IF(size(w) < 8, array(),"
                 " transform(sequence(1, size(w) - 7),"
                 " i -> struct(i AS i,"
                 "            md5(array_join(slice(w, i, 8), ' '))"
                 "            AS span_key)))")).alias("s"))
             .select("doc_id", "s.i", "s.span_key"))
    w_own = Window.partitionBy("span_key").orderBy("doc_id", "i")
    rm_pos = (spans.withColumn("rn", F.row_number().over(w_own))
              .filter(F.col("rn") > 1)
              .select("doc_id",
                      F.explode(F.sequence("i", F.col("i") + 7)).alias("j")))
    rmset = rm_pos.groupBy("doc_id").agg(F.collect_set("j").alias("rm"))
    kept = F.expr(
        "transform(filter(sequence(1, size(w)),"
        " j -> rm IS NULL OR NOT array_contains(rm, j)),"
        " j -> element_at(w, j))")
    ref = sorted(
        tuple(r) for r in
        (toks.join(rmset, "doc_id", "left")
         .select("doc_id",
                 F.size("w").cast("bigint").alias("n_tokens"),
                 F.when(F.col("rm").isNull(), 0)
                 .otherwise(F.size("rm")).cast("bigint").alias("n_removed"),
                 F.md5(F.array_join(kept, " ")).alias("cleaned_md5"))
         .orderBy("doc_id")).collect())
    assert got == ref
    # the dup-only doc must be fully removed (cleaned text = '')
    by_id = {t[0]: t for t in got}
    assert by_id[1][2] == by_id[1][1]      # n_removed == n_tokens
    assert by_id[4][2] == 0                # short doc untouched


def test_md5_half_conv_bijection(spark):
    """The q393/q224 int-pair key rule rests on conv(hex16, 16, -10) being
    a bijection from 16-hex-char strings to signed bigints (and hex/lpad
    being its inverse). Round-trip both halves of 10k md5s, including the
    sign-boundary constants."""
    n = spark.sql("""
      SELECT count(*) AS n FROM (
        SELECT md5(cast(id as string)) AS m
        FROM range(10000)
        UNION ALL SELECT 'ffffffffffffffff0000000000000000'
        UNION ALL SELECT '80000000000000007fffffffffffffff'
      ) WHERE lower(lpad(hex(cast(conv(substring(m, 1, 16), 16, -10)
                                  as bigint)), 16, '0'))
                <> substring(m, 1, 16)
           OR lower(lpad(hex(cast(conv(substring(m, 17, 16), 16, -10)
                                  as bigint)), 16, '0'))
                <> substring(m, 17, 16)
    """).collect()[0].n
    assert n == 0


def test_kn_vocab_from_bigram_types(spark, tmp_path):
    """Round-12: _kn_bigram_lm's vocab scalar v now derives from the
    checkpointed bigram-type table (distinct w1 ∪ w2) instead of a second
    corpus scan + token explode. Pin the set identity on adversarial
    docs: repeated tokens, empty-string tokens from double spaces, a
    2-token doc, a 1-token doc (excluded by the >= 2 filter on BOTH
    shapes), and tokens unique to first/last positions."""
    texts = [
        "a b c a b",      # repeats
        "x  y",           # double space -> empty-string token
        "p q",            # minimal 2-token doc
        "solo",           # 1 token: excluded from training entirely
        "z a",            # z only ever first-position, a shared
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from gh_archive_data_pipeline_spark.operators.selection import (
        _kn_bigram_lm,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf, "documents")
    for src in ("src0", "src1", "src2"):
        _, _, _, sc = _kn_bigram_lm(docs, src)
        got = sc.collect()[0].v
        # reference: the pre-optimization token-stream countDistinct
        tr = (docs.filter(F.col("source") == src)
              .select(F.split("text", " ").alias("t"))
              .where(F.size("t") >= 2))
        want = (tr.select(F.explode("t").alias("w"))
                .agg(F.countDistinct("w")).collect()[0][0])
        assert got == float(want), (src, got, want)


def test_q123_pair_hof_matches_double_explode(spark, tmp_path):
    """Round-12: q123's ordered token pairs now come from one scan-side
    HOF over the sorted distinct token array (the q167 idiom) instead of
    explode×explode + a<b filter. Pin pair-set equality (support
    threshold lowered to 1 via the raw kernel) on adversarial docs:
    duplicate tokens, empty-string tokens, single-token docs (no pairs),
    and unsorted input order."""
    texts = [
        "b a c b a",      # duplicates + reverse order
        "q  p",           # empty-string token must not pair
        "only",           # no pairs
        "m n o",          # simple ascending
    ]
    sf = _write_synth_docs(spark, tmp_path, texts)
    from gh_archive_data_pipeline_spark.operators.text_queries import (
        _token_pairs,
    )
    from gh_archive_data_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, sf, "documents")
    new = _token_pairs(docs).groupBy("tok_a", "tok_b").count()
    toks = docs.select(F.array_distinct(
        F.filter(F.split("text", " "), lambda t: t != "")).alias("w"))
    old = (toks.select(F.explode("w").alias("tok_a"), "w")
           .select("tok_a", F.explode("w").alias("tok_b"))
           .filter(F.col("tok_a") < F.col("tok_b"))
           .groupBy("tok_a", "tok_b").count())
    assert ({tuple(r) for r in new.collect()}
            == {tuple(r) for r in old.collect()})
