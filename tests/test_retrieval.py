"""Unit tests for the hybrid-retrieval plane (operators/retrieval.py):
RRF fusion semantics on a hand-computed example and MMR's diversity
behavior on a crafted near-duplicate candidate set — both independent of
the oracle fixtures (the fixture-level parity is tests/test_oracle_parity).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators.retrieval import (
    mmr_diversify,
    rrf_fuse,
)


def test_rrf_fuse_hand_example(spark):
    # lexical: a=1, b=2 ; vector: b=1, c=2  (query 0)
    lex = spark.createDataFrame(
        [(0, 100, 1), (0, 101, 2)], "query_id long, doc_id long, rank int")
    vec = spark.createDataFrame(
        [(0, 101, 1), (0, 102, 2)], "query_id long, doc_id long, rank int")
    got = {r.doc_id: r for r in
           rrf_fuse({"lexical": lex, "vector": vec}).collect()}
    assert got[101].rrf_score == round(1 / 62 + 1 / 61, 6)  # both lists
    assert got[100].rrf_score == round(1 / 61, 6)
    assert got[102].rrf_score == round(1 / 62, 6)
    assert got[101].n_lists == 2 and got[100].n_lists == 1
    assert got[101].fused_rank == 1  # two-list doc wins
    assert got[100].lexical_rank == 1 and got[100].vector_rank == -1
    assert got[102].lexical_rank == -1 and got[102].vector_rank == 2


def test_rrf_fuse_respects_topk_and_tiebreak(spark):
    # two docs with identical single-list ranks tie on score -> doc_id order;
    # 12 single-list docs are cut to the FUSE_TOPK = 10 best
    lex = spark.createDataFrame(
        [(0, 7, 1), (0, 3, 2)] + [(0, 100 + r, r) for r in range(3, 7)],
        "query_id long, doc_id long, rank int")
    vec = spark.createDataFrame(
        [(0, 9, 1), (0, 4, 2)] + [(0, 200 + r, r) for r in range(3, 7)],
        "query_id long, doc_id long, rank int")
    rows = (rrf_fuse({"lexical": lex, "vector": vec})
            .orderBy("fused_rank").collect())
    assert len(rows) == 10
    # 7 and 9 tie at 1/61; smaller doc_id first
    assert [r.doc_id for r in rows[:2]] == [7, 9]
    assert {r.doc_id for r in rows[8:]} == {105, 205}


def _mmr_fixture(spark, rel_a2=0.89):
    """Query 0: candidates a(rel .9), a2(rel ``rel_a2``, near-dup of a,
    sim .99), d(rel .5, diverse, sim .1 to both)."""
    cand = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, rel_a2), (0, 3, 0.5)],
        "query_id long, doc_id long, rel double")
    sims = [(1, 2, 0.99), (1, 3, 0.1), (2, 3, 0.1)]
    pair = spark.createDataFrame(
        [(0, a, b, s) for a, b, s in sims]
        + [(0, b, a, s) for a, b, s in sims],
        "query_id long, a_id long, b_id long, sim double")
    return cand, pair


def test_mmr_prefers_diverse_over_near_duplicate(spark):
    cand, pair = _mmr_fixture(spark)
    rows = {r.round: r for r in
            mmr_diversify(cand, pair).collect()}
    assert rows[1].doc_id == 1  # pure relevance
    # round 2: a2 scores .7*.89-.3*.99=.326 ; d scores .7*.5-.3*.1=.32
    # near-dup still edges it out at mu=0.3...
    assert rows[2].doc_id == 2
    assert rows[2].mmr_score == round(0.7 * 0.89 - 0.3 * 0.99, 6)
    assert rows[3].doc_id == 3


def test_mmr_diversity_weight_flips_the_pick(spark):
    cand, pair = _mmr_fixture(spark, rel_a2=0.8)
    rows = {r.round: r for r in mmr_diversify(cand, pair).collect()}
    # a less relevant near-dup is penalized below the diverse doc:
    # a2: .7*.8-.3*.99 = .263 ; d: .7*.5-.3*.1 = .32
    assert rows[2].doc_id == 3


def test_mmr_selects_k_per_query_without_repeats(spark):
    cand, pair = _mmr_fixture(spark)
    rows = mmr_diversify(cand, pair).collect()
    picked = [r.doc_id for r in rows]
    assert len(picked) == 3 and len(set(picked)) == 3


def test_maxsim_scores_bounded_and_ranked(spark):
    """q419: maxsim is a mean of cosines, so scores live in [-1, 1];
    every query emits ranks 1..5 ordered by descending score."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q419_maxsim_late_interaction"].fn(
        spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in rows:
        assert -1.0 - 1e-9 <= r.maxsim_score <= 1.0 + 1e-9
        assert r.doc_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        scores = [r.maxsim_score for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_kcenter_radius_monotone_and_diverse(spark):
    """q421: the farthest-point radius shrinks (weakly) every round, picks
    never repeat, and round 1 is the seed vec_id 0."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = sorted(all_queries()["q421_kcenter_coreset"].fn(
        spark, "/root/testdata/sf0.001").collect(), key=lambda r: r.round)
    assert [r.round for r in rows] == [1, 2, 3, 4, 5]
    assert rows[0].vec_id == 0 and rows[0].radius == 0.0
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == 5
    radii = [r.radius for r in rows[1:]]
    assert all(radii[i] >= radii[i + 1] for i in range(len(radii) - 1))
    assert all(r > 0 for r in radii)


def test_rrf_fuse_single_list_preserves_order(spark):
    """With one ranking, RRF is order-preserving: 1/(k+rank) is strictly
    decreasing in rank, so fused_rank == rank."""
    lex = spark.createDataFrame(
        [(0, 10 + r, r) for r in range(1, 6)],
        "query_id long, doc_id long, rank int")
    rows = (rrf_fuse({"lexical": lex})
            .orderBy("fused_rank").collect())
    assert [r.doc_id for r in rows] == [11, 12, 13, 14, 15]
    assert all(r.n_lists == 1 for r in rows)


def test_rrf_fuse_empty_rankings_raises(spark):
    """Round-8 ADVICE regression: an empty rankings dict must raise a
    clear ValueError up front, not AttributeError on a None frame."""
    import pytest

    with pytest.raises(ValueError, match="at least one ranking"):
        rrf_fuse({})


def test_rrf_ivf_hybrid_swaps_retriever_coherently(spark):
    """q439 vs q412: same fusion, different dense leg — the lexical ranks
    must be identical row-for-row, and any fused divergence must come
    from the vector leg (IVF pruning), never the fusion math."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    sf = "/root/testdata/sf0.001"
    exact = {(r.query_id, r.doc_id): r for r in
             all_queries()["q412_rrf_hybrid_search"].fn(spark, sf).collect()}
    ivf = {(r.query_id, r.doc_id): r for r in
           all_queries()["q439_rrf_ivf_hybrid_search"].fn(spark, sf)
           .collect()}
    shared = set(exact) & set(ivf)
    assert shared  # overlapping results exist
    for k in shared:
        assert exact[k].lexical_rank == ivf[k].lexical_rank
    # IVF candidates are a SUBSET of the corpus with unchanged cosine
    # scores, so a surviving doc's rank can only improve (drop-outs above
    # it vanish) — never worsen
    for k in shared:
        ev, iv = exact[k].vector_rank, ivf[k].vector_rank
        if ev != -1 and iv != -1:
            assert iv <= ev
