"""Multi-component PCA (deflation over the one-pass Gram statistics)."""

from __future__ import annotations

import numpy as np

from gh_archive_data_pipeline_spark.operators.linalg import (
    DIM, pca_components,
)


def test_pca_components_match_numpy_on_gapped_data(spark):
    """Three planted orthogonal directions with well-separated scales:
    deflated power iteration must recover NumPy's top-3 eigenvectors
    (|cos| > 0.999 each) and eigenvalues within 1%, and the returned
    components must be mutually orthogonal."""
    rng = np.random.RandomState(3)
    basis, _ = np.linalg.qr(rng.randn(DIM, 3))
    scales = np.array([8.0, 4.0, 2.0])
    X = (rng.randn(500, 3) * scales) @ basis.T + rng.randn(500, DIM) * 0.05
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row], i % 3) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>, label int")

    comps, eigs, mu = pca_components(emb)
    C = np.cov((X - X.mean(axis=0)).T, bias=True)
    evals, evecs = np.linalg.eigh(C)
    for i in range(3):
        v = np.array(comps[i])
        ref = evecs[:, -1 - i]
        assert abs(float(v @ ref)) > 0.999, i
        assert abs(eigs[i] - evals[-1 - i]) / evals[-1 - i] < 0.01, i
    V = np.array(comps)
    off = V @ V.T - np.eye(3)
    assert np.abs(off).max() < 1e-6
    np.testing.assert_allclose(np.array(mu), X.mean(axis=0), rtol=0, atol=1e-9)
