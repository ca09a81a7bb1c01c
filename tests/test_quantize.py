"""Product-quantization plane: training against a NumPy reference running
the identical algorithm, encode (the codes column q402 writes) and ADC
invariants, and the planted-structure sanity check (vectors sitting ON a
codebook centroid quantize with zero error in that subspace)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from gh_archive_data_pipeline_spark.operators.quantize import (
    DSUB, K_PQ, M_SUB, ROUNDS, _argmin_cells, _codes_col, _sub_expr, adc_topk,
    pq_train,
)

DIM = M_SUB * DSUB


def _numpy_pq_train(X: np.ndarray, m_sub=M_SUB, k=K_PQ, rounds=ROUNDS):
    """The same deterministic algorithm (seed = first k rows' subvectors,
    Lloyd with (d2, j) tie-break and empty-cluster carry) in NumPy."""
    cbs = [X[:k, s * DSUB:(s + 1) * DSUB].copy() for s in range(m_sub)]
    for _ in range(rounds):
        for s in range(m_sub):
            sub = X[:, s * DSUB:(s + 1) * DSUB]
            d2 = ((sub[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # argmin = first index on ties
            new = cbs[s].copy()
            for j in range(k):
                mask = assign == j
                if mask.any():
                    new[j] = sub[mask].mean(axis=0)
            cbs[s] = new
    return cbs


def _emb_df(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def gapped(spark):
    """400 vectors drawn from 16 well-separated per-subspace centers, so
    assignments are unambiguous and the NumPy reference must agree
    exactly."""
    rng = np.random.RandomState(11)
    centers = rng.randn(K_PQ, DIM) * 5.0
    X = centers[rng.randint(0, K_PQ, 400)] + rng.randn(400, DIM) * 0.05
    return X, _emb_df(spark, X)


def test_pq_train_matches_numpy_reference(gapped):
    X, emb = gapped
    cbs = pq_train(emb)
    ref = _numpy_pq_train(X)
    assert len(cbs) == M_SUB and all(len(c) == K_PQ for c in cbs)
    for s in range(M_SUB):
        np.testing.assert_allclose(np.array(cbs[s]), ref[s], rtol=1e-9)


def _encode(emb, cbs):
    """PQ codes as q402 computes them (``_codes_col``) plus the total
    squared quantization error, summed from each subspace's chosen d2."""
    d2 = [F.expr(_argmin_cells(_sub_expr(s), cbs[s])).getField("d2")
          for s in range(M_SUB)]
    qerr = sum(d2[1:], d2[0])
    return emb.select("vec_id", _codes_col(cbs).alias("codes"),
                      qerr.alias("qerr"))


def test_pq_encode_zero_error_on_centroid_vectors(spark, gapped):
    """A vector that IS a training centroid must encode to that centroid
    with (near-)zero quantization error in every subspace."""
    X, emb = gapped
    cbs = pq_train(emb)
    probe = np.concatenate([np.array(cbs[s][3]) for s in range(M_SUB)])
    coded = _encode(_emb_df(spark, probe[None, :]), cbs).collect()[0]
    assert list(coded.codes) == [3] * M_SUB
    assert coded.qerr == 0.0


def test_pq_encode_codes_shape_and_qerr_nonnegative(gapped):
    _X, emb = gapped
    cbs = pq_train(emb)
    rows = _encode(emb, cbs).collect()
    assert len(rows) == 400
    for r in rows:
        assert len(r.codes) == M_SUB
        assert all(0 <= c < K_PQ for c in r.codes)
        assert r.qerr >= 0.0


def test_adc_topk_orders_and_excludes(gapped):
    X, emb = gapped
    cbs = pq_train(emb)
    got = adc_topk(emb, cbs, [float(x) for x in X[0]],
                   exclude_vec_id=0).collect()
    assert [r.rank for r in got] == list(range(1, 11))
    assert 0 not in {r.vec_id for r in got}
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)


def test_adc_cluster_recall_on_gapped_data(gapped):
    """Within one PQ cell every member shares the same codes, hence the
    same ADC distance — so fine intra-cell ranking is out of scope by
    design. What ADC MUST get right on gapped data is the cell: all of the
    query's top-10 must come from the query's own ground-truth cluster
    (the nearest ~25 true neighbors), never from another cluster 5 sigma
    away."""
    X, emb = gapped
    cbs = pq_train(emb)
    got = [r.vec_id for r in
           adc_topk(emb, cbs, [float(x) for x in X[0]],
                    exclude_vec_id=0).collect()]
    true_d2 = ((X - X[0]) ** 2).sum(axis=1)
    cluster_members = set(np.where(true_d2 < 1.0)[0].tolist()) - {0}
    assert len(cluster_members) >= 10  # fixture sanity: cluster is populous
    assert set(got) <= cluster_members, (got, sorted(cluster_members))


def test_pq_train_refuses_tiny_corpus(spark):
    with pytest.raises(ValueError, match="need >= 16"):
        pq_train(_emb_df(spark, np.zeros((5, DIM))))


def test_ivf_pq_search_invariants(spark):
    """q402 on the fixture: 10 queries x 5 ranked neighbors, no self-hits,
    per-query ADC distances non-decreasing with rank, and every neighbor
    drawn from the probed cells only (cells of the full corpus assignment)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    got = all_queries()["q402_ivf_pq_search"].fn(
        spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in got:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)


def test_ann_recall_report_invariants(spark):
    """q411 emits exactly {adc_flat, ivf_pq} x {1, 5, 10} with recalls in
    [0, 1]; on the near-isotropic fixture the measured recall must be
    WELL below 1 (if it ever reads 1.0 the harness is comparing a ranking
    to itself, not to the exact truth)."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q411_ann_recall_report"].fn(
        spark, "/root/testdata/sf0.001").collect()
    got = {(r.method, r.k): r.mean_recall for r in rows}
    assert set(got) == {(m, k) for m in ("adc_flat", "ivf_pq")
                        for k in (1, 5, 10)}
    assert all(0.0 <= v <= 1.0 for v in got.values())
    assert got[("adc_flat", 10)] < 0.9


def test_scalar_quant_error_bounded_by_half_step(spark):
    """q413: affine int8 reconstruction error is <= scale/2 per value, so
    every dim's max_abs_err must be <= (vmax-vmin)/255/2 (+ rounding slack),
    and codes_used can never exceed 256."""
    from gh_archive_data_pipeline_spark.plans.registry import all_queries

    rows = all_queries()["q413_scalar_quant_audit"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64
    for r in rows:
        half_step = (r.vmax - r.vmin) / 255 / 2
        assert r.max_abs_err <= half_step + 1e-6, r
        assert 1 <= r.codes_used <= 256
        assert r.sse >= 0.0


def test_sq_dim_stats_crafted_vectors(spark):
    """Calibration table on a crafted 2-vector corpus: per-dim min/max."""
    from gh_archive_data_pipeline_spark.operators.quantize import sq_dim_stats

    emb = spark.createDataFrame(
        [(0, [0.0, -1.0, 5.0]), (1, [1.0, 3.0, 5.0])],
        "vec_id long, embedding array<double>")
    got = {r.dim: (r.vmin, r.vmax) for r in sq_dim_stats(emb).collect()}
    assert got == {1: (0.0, 1.0), 2: (-1.0, 3.0), 3: (5.0, 5.0)}
