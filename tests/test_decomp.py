"""gram_moments / pca_fit / pca_project vs numpy twins
(operators/decomp.py) — the embedding-whitening stage."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.operators.decomp import (gram_moments, pca_fit,
                                                pca_project)

DIM = 6


@pytest.fixture(scope="module")
def vecs(rng_mod):
    X = rng_mod.normal(size=(120, DIM)) @ np.diag([5, 3, 2, 1, 0.5, 0.1])
    return X


@pytest.fixture(scope="module")
def rng_mod():
    return np.random.default_rng(7)


@pytest.fixture(scope="module")
def vdf(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_gram_matches_numpy(spark, vdf, vecs):
    rows = gram_moments(vdf, "embedding", DIM).collect()
    g = np.zeros((DIM, DIM))
    s = np.zeros(DIM)
    n = 0
    for r in rows:
        if r.i == -2:
            n = int(r.value)
        elif r.i == -1:
            s[r.j] = r.value
        else:
            g[r.i, r.j] = r.value
    assert n == len(vecs)
    np.testing.assert_allclose(s, vecs.sum(axis=0), rtol=1e-10)
    iu, ju = np.triu_indices(DIM)
    np.testing.assert_allclose(g[iu, ju], (vecs.T @ vecs)[iu, ju],
                               rtol=1e-10)
    # emits ONLY the upper triangle + moments
    assert len(rows) == DIM * (DIM + 1) // 2 + DIM + 1


def test_gram_partitioning_invariant(spark, vdf):
    a = {(r.i, r.j): r.value
         for r in gram_moments(vdf, "embedding", DIM).collect()}
    b = {(r.i, r.j): r.value
         for r in gram_moments(vdf.repartition(13), "embedding",
                               DIM).collect()}
    assert set(a) == set(b)
    for key in a:
        assert a[key] == pytest.approx(b[key], rel=1e-12)


def test_gram_skips_partially_null_vectors(spark):
    """A vector with a null element is not counted and leaves the sums
    finite (it is nulled first, like the scorers' inputs)."""
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0, None],), ([1.0, 1.0],)],
                               "embedding array<double>")
    got = {(r.i, r.j): r.value
           for r in gram_moments(df, "embedding", 2).collect()}
    assert got[(-2, -2)] == 2
    assert got == {(0, 0): 2.0, (0, 1): 3.0, (1, 1): 5.0,
                   (-1, 0): 2.0, (-1, 1): 3.0, (-2, -2): 2.0}


def test_pca_fit_matches_numpy_eigh(spark, vdf, vecs):
    comps, vals, mu, n = pca_fit(vdf, "embedding", DIM, k=3)
    assert n == len(vecs)
    np.testing.assert_allclose(mu, vecs.mean(axis=0), rtol=1e-10)
    cov = np.cov(vecs, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    np.testing.assert_allclose(vals, evals[order], rtol=1e-8)
    # eigenvalues descending, components orthonormal, sign-fixed
    assert vals[0] >= vals[1] >= vals[2]
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-10)
    for j, col in enumerate(order):
        ev = evecs[:, col]
        ev = ev * np.sign(ev[np.abs(ev).argmax()])
        np.testing.assert_allclose(comps[j], ev, atol=1e-8)


def test_pca_project_matches_numpy(spark, vdf, vecs):
    comps, _, mu, _ = pca_fit(vdf, "embedding", DIM, k=2)
    out = pca_project(vdf, "embedding", comps, mu).orderBy("vec_id")
    got = np.array([[r.pc0, r.pc1] for r in out.collect()])
    exp = (vecs - mu) @ comps.T
    np.testing.assert_allclose(got, exp, rtol=1e-8, atol=1e-10)
    # top-PC variance equals the top eigenvalue (the PCA contract)
    assert np.var(got[:, 0], ddof=1) == pytest.approx(
        pca_fit(vdf, "embedding", DIM, k=1)[1][0], rel=1e-8)


def test_null_vectors_skipped_and_project_null(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs[:40])]
    rows += [(999, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, _, mu, n = pca_fit(df, "embedding", DIM, k=2)
    assert n == 40
    out = pca_project(df, "embedding", comps, mu)
    assert out.where("vec_id = 999").first().pc0 is None


def test_uncentered_arm_and_validation(spark, vdf, vecs):
    comps, vals, mu, _ = pca_fit(vdf, "embedding", DIM, k=2, center=False)
    assert np.all(mu == 0)
    m2 = vecs.T @ vecs / (len(vecs) - 1)
    evals = np.linalg.eigvalsh(m2)
    assert vals[0] == pytest.approx(evals[-1], rel=1e-8)
    with pytest.raises(ValueError, match="k must be"):
        pca_fit(vdf, "embedding", DIM, k=0)
    with pytest.raises(ValueError, match="need >= 2"):
        pca_fit(vdf.limit(1), "embedding", DIM, k=1)


def test_jl_project_matches_numpy_and_arms_agree(spark):
    import numpy as np

    from pyradiomics_spark.operators.decomp import _jl_signs, jl_project

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    S = _jl_signs(4, 16)
    want = (vecs.astype(np.float64) @ S.T) / np.sqrt(4.0)

    got = {r.vec_id: r.jl for r in jl_project(
        df, "embedding", out_dim=4, dim=16).collect()}
    assert got[99] is None
    for i in range(20):
        np.testing.assert_allclose(got[i], want[i], rtol=1e-9)

    # pairwise-distance preservation in aggregate (JL contract, loose)
    d_in = np.linalg.norm(vecs[:, None] - vecs[None, :], axis=2)
    proj = want
    d_out = np.linalg.norm(proj[:, None] - proj[None, :], axis=2)
    mask = d_in > 0
    ratio = d_out[mask] / d_in[mask]
    assert 0.2 < ratio.mean() < 2.0

