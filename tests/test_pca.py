"""Distributed PCA: fit vs numpy reference, orthonormality, variance
ordering, rotation invariance, partitioning determinism."""

from __future__ import annotations

import numpy as np
import pytest

from workbook_exporter_fe_spark.operators.pca import (
    pca_fit,
    pca_project,
)

D, N = 12, 400


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    # anisotropic: a few dominant directions + noise
    basis = rng.normal(size=(3, D))
    x = rng.normal(size=(N, 3)) @ (basis * np.array([[5.0], [2.0], [1.0]])) \
        + 0.1 * rng.normal(size=(N, D)) + rng.normal(size=D)
    rows = [(i, x[i].tolist()) for i in range(N)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    return df, x


def test_fit_matches_numpy(emb):
    df, x = emb
    m = pca_fit(df)
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / len(x)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w, v = w[order], v[:, order]
    assert np.allclose(m.mean, mean, atol=1e-9)
    assert np.allclose(m.eigenvalues, np.clip(w, 0, None), atol=1e-8)
    for i in range(D):  # sign-insensitive axis comparison
        assert np.allclose(
            np.abs(m.components[i]), np.abs(v[:, i]), atol=1e-6
        ), i


def test_components_orthonormal_and_ordered(emb):
    df, _ = emb
    m = pca_fit(df, k=6)
    g = m.components @ m.components.T
    assert np.allclose(g, np.eye(6), atol=1e-9)
    assert all(a >= b - 1e-12 for a, b in
               zip(m.eigenvalues, m.eigenvalues[1:]))
    assert m.explained.sum() <= 1.0 + 1e-9


def test_projection_variance_matches_eigenvalues(emb):
    df, _ = emb
    m = pca_fit(df, k=4)
    y = np.asarray([
        r.pca for r in pca_project(df, m).select("pca").collect()
    ])
    assert np.allclose(y.mean(axis=0), 0.0, atol=1e-8)
    assert np.allclose(y.var(axis=0), m.eigenvalues, rtol=1e-6)


def test_full_rank_rotation_preserves_distances(emb):
    df, x = emb
    m = pca_fit(df)  # k = d
    got = {
        r.vec_id: np.asarray(r.pca)
        for r in pca_project(df, m).select("vec_id", "pca").collect()
    }
    rng = np.random.default_rng(1)
    ids = rng.choice(N, size=(20, 2), replace=True)
    for a, b in ids:
        da = np.sum((x[a] - x[b]) ** 2)
        dp = np.sum((got[a] - got[b]) ** 2)
        assert dp == pytest.approx(da, rel=1e-9, abs=1e-9)


def test_truncation_reduces_reconstruction_error(emb):
    df, x = emb
    errs = []
    for k in (1, 3, 6, D):
        m = pca_fit(df, k=k)
        y = np.asarray([
            r.pca for r in
            pca_project(df, m).orderBy("vec_id").select("pca").collect()
        ])
        recon = y @ m.components + m.mean
        errs.append(float(((x - recon) ** 2).mean()))
    assert all(a >= b - 1e-12 for a, b in zip(errs, errs[1:])), errs
    assert errs[-1] == pytest.approx(0.0, abs=1e-9)  # full rank is exact


def test_partitioning_invariance(emb):
    df, _ = emb
    m1 = pca_fit(df.repartition(1))
    m8 = pca_fit(df.repartition(8))
    assert np.allclose(m1.components, m8.components, atol=1e-6)
    assert np.allclose(m1.eigenvalues, m8.eigenvalues, atol=1e-7)
