"""Operator-level correctness: minhash/simhash pinned against independent
reference computations, SRP-LSH recall against brute-force ground truth, approx
sketches against exact counts, and profiler invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators import dedup, profiler, similarity
from gh_archive_data_pipeline_spark.sources import index_store
from gh_archive_data_pipeline_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def _signatures(df):
    """doc_id -> MinHash signature, via the lanes q42 and q376 run."""
    return {r.doc_id: r.mh for r in dedup.hashed_shingles(df, "doc_id").select(
        "doc_id", dedup._minhash_array().alias("mh")).collect()}


def test_identical_docs_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string")
    sigs = _signatures(df)
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_component_agreement_estimates_jaccard(spark, docs):
    """P(mh_i(a)=mh_i(b)) = J(a,b); with 64 components the estimator's σ is
    √(J(1−J)/64) ≤ 0.0625 — assert within 4σ for the closest fixture pair."""
    top = (dedup.ngram_jaccard_pairs(docs).orderBy(F.desc("jaccard"))
           .limit(1).collect()[0])
    sigs = _signatures(docs.filter(F.col("doc_id").isin(top.doc_a, top.doc_b)))
    agree = sum(x == y for x, y in zip(sigs[top.doc_a], sigs[top.doc_b])) / 64
    assert abs(agree - top.jaccard) <= 0.25


def test_lsh_matches_bruteforce_at_threshold(spark, docs):
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in dedup.minhash_near_dup(docs, threshold=0.3).collect()}
    truth = {(r.doc_a, r.doc_b, r.jaccard)
             for r in dedup.ngram_jaccard_pairs(docs)
             .filter(F.col("jaccard") >= 0.3).collect()}
    assert got == truth  # exact-verify ⇒ precision 1; banding recall 1 here


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _py_simhash(token_hashes: list[int], bits: int = 64) -> int:
    votes = [0] * bits
    for h in token_hashes:
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(bits):
        if votes[i] > 0:
            out |= 1 << i
    return out


def test_simhash_near_dup_hamming_smaller_than_random(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy cat today"),
         (3, "completely unrelated words about spark query engines")],
        "doc_id long, text string")
    sh = {r.doc_id: (r.simhash_hi, r.simhash_lo)
          for r in dedup.simhash_portable(df).collect()}
    ham = lambda a, b: sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


# ---------------------------------------------------------------------------
# Similarity / sketches / profiler
# ---------------------------------------------------------------------------

def test_srp_topk_recall_vs_bruteforce(spark):
    """q45's SRP-LSH top-k against exact ground truth: 16 tables × 4
    Rademacher planes give theoretical recall ≈0.87 at the fixture's ~0.6
    per-plane agreement; assert a comfortable floor."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, queries).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in similarity.srp_bucket_topk(emb, queries).collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_approx_count_distinct_error_bound(spark):
    li = load_table(spark, SF, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx"),
        F.countDistinct("l_orderkey").alias("exact")).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.1


def test_profiler_invariants(spark, docs):
    prof = {r.column: r for r in profiler.profile(docs).collect()}
    assert set(prof) == {"doc_id", "text", "lang", "source", "n_chars"}
    n = prof["doc_id"].n_rows
    for col, row in prof.items():
        assert 0.0 <= row.completeness <= 1.0
        assert row.n_nulls == 0 and row.completeness == 1.0
        assert 0 < row.approx_distinct <= n * 1.1
    stats = prof["n_chars"]
    assert stats.min_value <= stats.mean_value <= stats.max_value
    assert stats.sum_value == pytest.approx(stats.mean_value * n, rel=1e-9)


def test_ivf_topk_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, queries).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in similarity.ivf_topk(emb, queries).collect()}
    # nprobe=4 of 16 cells scans ~25% of the corpus; near neighbors
    # concentrate in the probed cells, so recall is far above that fraction.
    assert len(exact & approx) / len(exact) >= 0.5
    # every query must still produce a full top-k
    per_q = {}
    for q, _ in approx:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v == 5 for v in per_q.values())


def test_ivf_index_search_matches_inline_ivf(spark, tmp_path):
    """The materialized cell-partitioned index (build_ivf_index + ivf_search)
    must return exactly what the inline ivf_topk path returns — same seeds,
    same nprobe, same scoring — proving the layout changes cost, not
    semantics. Also asserts recall floor directly (the independent pin for
    q358's same-algorithm SQL oracle)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf_idx")
    similarity.build_ivf_index(emb, idx)
    inline = sorted((r.query_id, r.neighbor_id, r.rank, r.cosine_sim)
                    for r in similarity.ivf_topk(emb, queries).collect())
    indexed = sorted((r.query_id, r.neighbor_id, r.rank, r.cosine_sim)
                     for r in similarity.ivf_search(
                         spark, idx, queries).collect())
    assert indexed == inline
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.brute_force_topk(emb, queries).collect()}
    approx = {(q, n) for q, n, _, _ in indexed}
    assert len(exact & approx) / len(exact) >= 0.5


def test_ivf_index_scan_is_partition_pruned(spark, tmp_path):
    """The probed-cell filter must reach the parquet scan as a PARTITION
    filter (directory-level pruning), not a post-scan predicate — at 100 TB
    this is the difference between reading nprobe/num_cells of the bytes and
    reading everything."""
    import contextlib
    import io

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "ivf_idx")
    similarity.build_ivf_index(emb, idx)
    out = similarity.ivf_search(spark, idx, emb.filter(F.col("vec_id") < 3))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("cell" in l and " IN " in l for l in part_lines), part_lines


def test_srp_index_search_matches_inline_srp(spark, tmp_path):
    """The materialized bucket-partitioned LSH index (build_srp_index +
    srp_search) must return exactly what the inline srp_bucket_topk path
    returns — same planes, same candidate union, same scoring — proving
    the layout changes cost, not semantics (the independent pin for q365
    sharing q45's oracle)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "srp_idx")
    similarity.build_srp_index(emb, idx)
    inline = sorted((r.query_id, r.neighbor_id, r.rank, r.cosine_sim)
                    for r in similarity.srp_bucket_topk(
                        emb, queries).collect())
    indexed = sorted((r.query_id, r.neighbor_id, r.rank, r.cosine_sim)
                     for r in similarity.srp_search(
                         spark, idx, queries).collect())
    assert indexed == inline and len(indexed) > 0


def test_srp_index_scan_is_partition_pruned(spark, tmp_path):
    """The probed-bucket filter must reach the parquet scan as a PARTITION
    filter (directory-level pruning) — at 100 TB a query batch reads only
    its probed buckets' bytes out of the num_tables× corpus layout."""
    import contextlib
    import io

    emb = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "srp_idx")
    similarity.build_srp_index(emb, idx)
    out = similarity.srp_search(spark, idx,
                                emb.filter(F.col("vec_id") < 3))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("tb" in l and " IN " in l for l in part_lines), part_lines


def test_srp_delete_hides_ids(spark, tmp_path):
    """index_store.delete on an SRP index: (a) tombstoned ids never
    surface as neighbors and survivor ranks re-pack; (b) delete batches
    accumulate under collision-free uuid partitions; (c) search over the tombstoned
    index equals search over a fresh build of the surviving rows
    (bucketing is a pure function of the vector)."""
    import os

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "srp_idx")
    similarity.build_srp_index(emb, idx)
    d1 = index_store.delete(
        spark, idx, emb.filter("vec_id % 7 = 3").select("vec_id"), "vec_id")
    d2 = index_store.delete(
        spark, idx, emb.filter("vec_id % 11 = 5").select("vec_id"), "vec_id")
    assert d1 != d2
    assert sorted(os.listdir(f"{idx}/tombstones")) == sorted([d1, d2])
    before = sorted(map(tuple, similarity.srp_search(
        spark, idx, queries).collect()))
    assert before and all(r[1] % 7 != 3 and r[1] % 11 != 5 for r in before)
    by_q: dict = {}
    for r in before:
        by_q.setdefault(r[0], []).append(r[3])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in by_q.values())
    fresh = str(tmp_path / "srp_fresh")
    similarity.build_srp_index(
        emb.filter("vec_id % 7 != 3 AND vec_id % 11 != 5"), fresh)
    assert sorted(map(tuple, similarity.srp_search(
        spark, fresh, queries).collect())) == before


def test_embedding_near_dup_lsh_prefilter_subset(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = {(r.id_a, r.id_b): r.cosine_sim
             for r in similarity.embedding_near_dup(emb).collect()}
    approx = {(r.id_a, r.id_b): r.cosine_sim
              for r in similarity.embedding_near_dup(
                  emb, lsh_prefilter=True).collect()}
    # precision 1: every LSH-path pair is a true pair with the same score
    for pair, sim in approx.items():
        assert pair in exact
        assert abs(sim - exact[pair]) < 1e-9
    if exact:
        assert len(approx) / len(exact) >= 0.5  # recall floor


# ---------------------------------------------------------------------------
# Guards & quality checks
# ---------------------------------------------------------------------------


def test_is_unique_counts_null_keys(spark):
    """NULL-bearing key tuples must count toward distinctness (DuckDB
    count(DISTINCT (a,b)) semantics), not be skipped like count_distinct."""
    from gh_archive_data_pipeline_spark.operators.quality import Check

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, None), (3, "y")], "a int, b string")
    out = {r["constraint"]: r for r in Check(df).is_unique("a", "b").run().collect()}
    row = out["unique(a,b)"]
    # 3 distinct tuples of 4 rows — (2,NULL) duplicated — so 0.75, not 2/4.
    assert row["metric"] == 0.75
    assert not row["passed"]


def test_runner_context_upstream():
    from gh_archive_data_pipeline_spark.pipeline.runner import Pipeline

    pipe = Pipeline().add("b", lambda a: a + 1, upstream=("a",))
    assert pipe.run(context={"a": 41})["b"] == 42
    with pytest.raises(KeyError, match="neither a registered task"):
        Pipeline().add("b", lambda a: a + 1, upstream=("a",)).run()


def test_simhash_portable_matches_python_reference(spark, docs):
    """The oracle-portable (hi, lo) SimHash must equal a pure-Python
    reference over md5-half token hashes — pinning the algorithm
    independently of both Spark and DuckDB."""
    import hashlib

    sample = docs.filter(F.col("doc_id") < 10)
    exp = {}
    for r in sample.select("doc_id", "text").collect():
        toks = list(dict.fromkeys(r.text.split(" ")))
        hexes = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        his = [int(h[:8], 16) for h in hexes]
        los = [int(h[8:16], 16) for h in hexes]
        exp[r.doc_id] = (_py_simhash(his, bits=32), _py_simhash(los, bits=32))
    got = {r.doc_id: (r.simhash_hi, r.simhash_lo)
           for r in dedup.simhash_portable(sample).collect()}
    assert got == exp
