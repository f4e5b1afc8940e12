"""Scale-hardened centroid/plane scoring: every scorer runs one
broadcast-numpy Arrow stage whose logical plan is O(1) in k·dim (a
production quantizer, k=256+ × dim=768, as literals would be a ~10⁶-node
expression tree), and keeps the null/NaN/inf contract of the SQL twins.
The pinned values in the edge-case tests are the outputs of the former
literal-expression scorers (zip_with/aggregate folds), which that
contract was defined by."""

import math

import numpy as np
import pytest

from pyradiomics_spark.operators.clustering import assign_cells, kmeans_step
from pyradiomics_spark.operators.decomp import jl_project
from pyradiomics_spark.operators.similarity import (
    hyperplane_buckets, ivf_topk, _planes)


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


def _vec_df(spark, X, id0=0):
    rows = [(id0 + i, [float(v) for v in x]) for i, x in enumerate(X)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _fold_dot(x, y):
    """Left-fold dot product, the SQL twins' summation order."""
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + a * b
    return acc


def _cells(df, cents):
    return {r.vec_id: r.cell for r in assign_cells(df, cents).collect()}


def _buckets(df, n_planes, dim):
    return {r.vec_id: r.bucket for r in hyperplane_buckets(
        df, "vec_id", "embedding", n_planes, dim).collect()}


def test_assign_cells_arms_agree(spark, rng):
    X = rng.normal(size=(60, 16))
    cents = rng.normal(size=(6, 16))
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want = dict(enumerate(np.argmin(d2, axis=1).tolist()))
    assert _cells(_vec_df(spark, X), cents) == want


def test_hyperplane_arms_agree(spark, rng):
    X = rng.normal(size=(50, 24))
    planes = _planes(10, 24)
    want = {i: sum(1 << p for p in range(10)
                   if _fold_dot(x, planes[p]) > 0)
            for i, x in enumerate(X.tolist())}
    assert _buckets(_vec_df(spark, X), 10, 24) == want


def test_ivf_topk_arms_agree(spark, rng):
    """Against a numpy replay: corpus cell = best cosine, queries probe
    their nprobe best cells (ties to the higher cell), exact cosine rank
    inside the probed cells (ties to the lower id)."""
    dim, n_cells, nprobe, k = 16, 8, 3, 3
    C = rng.normal(size=(100, dim))
    Q = C[[3, 40, 77]] + rng.normal(scale=0.05, size=(3, dim))
    cents = _planes(n_cells, dim, seed="ivf-centroids")
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    Cu = C / np.linalg.norm(C, axis=1, keepdims=True)
    cell = np.argmax(Cu @ cents.T, axis=1)
    want = []
    for qi, q in enumerate(Q):
        cos = Cu @ (q / np.linalg.norm(q))
        probe = np.argsort(-(cents @ q))[:nprobe]
        ids = [i for i in range(len(C)) if cell[i] in probe]
        top = sorted(ids, key=lambda i: (-cos[i], i))[:k]
        want += [(qi, i, r + 1) for r, i in enumerate(top)]
    corpus = _vec_df(spark, C)
    queries = spark.createDataFrame(
        [(i, [float(v) for v in q]) for i, q in enumerate(Q)],
        "query_id long, embedding array<double>")
    got = ivf_topk(corpus, queries, k=k, n_cells=n_cells, nprobe=nprobe,
                   dim=dim)
    assert sorted(map(tuple, got.select(
        "query_id", "vec_id", "rank").collect())) == sorted(want)


def _scorer(name, spark, k, dim):
    df = _vec_df(spark, np.ones((4, dim)))
    if name == "assign_cells":
        return assign_cells(df, np.zeros((k, dim)))
    if name == "hyperplane_buckets":
        return hyperplane_buckets(df, "vec_id", "embedding", k, dim)
    if name == "jl_project":
        return jl_project(df, "embedding", out_dim=k, dim=dim)
    queries = df.withColumnRenamed("vec_id", "query_id")
    return ivf_topk(df, queries, centroids=np.ones((k, dim)), dim=dim)


@pytest.mark.parametrize("size", [(4, 8), (256, 768)],
                         ids=["4x8", "256x768"])
@pytest.mark.parametrize("name", ["assign_cells", "hyperplane_buckets",
                                  "jl_project", "ivf_topk"])
def test_one_arrow_stage_at_any_size(spark, name, size):
    """One physical path whatever the matrix size: one MapInArrow stage
    per scored input (ivf_topk scores corpus and queries) and a plan
    whose size does not grow with k·dim."""
    k, dim = size
    if name == "hyperplane_buckets":
        k = min(k, 16)  # the bucket is an int64 sign pattern
    plan = _scorer(name, spark, k, dim)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInArrow") == (2 if name == "ivf_topk" else 1)
    assert "MapInPandas" not in plan
    assert len(plan) < 20_000, f"plan not bounded: {len(plan)} chars"


def test_production_quantizer_scale(spark, rng):
    """k=256 × dim=768 (≈200k literals if done as expressions): numpy-exact
    assignments with a BOUNDED plan."""
    k, dim, n = 256, 768, 300
    X = rng.normal(size=(n, dim))
    cents = _planes(k, dim, seed="scale-test")
    df = _vec_df(spark, X)
    assigned = assign_cells(df, cents)
    plan = assigned._jdf.queryExecution().toString()
    assert len(plan) < 20_000, f"plan not bounded: {len(plan)} chars"
    got = {r.vec_id: r.cell for r in assigned.collect()}
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want = dict(enumerate(np.argmin(d2, axis=1).tolist()))
    assert got == want


def test_kmeans_step_at_scale_matches_numpy(spark, rng):
    k, dim, n = 256, 768, 400
    X = rng.normal(size=(n, dim))
    cents = _planes(k, dim, seed="scale-km")
    df = _vec_df(spark, X)
    new, counts = kmeans_step(df, cents)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    cells = np.argmin(d2, axis=1)
    want = cents.copy()
    for c in np.unique(cells):
        want[c] = X[cells == c].mean(axis=0)
    assert np.allclose(new, want, atol=1e-9)
    assert counts == {int(c): int((cells == c).sum()) for c in np.unique(cells)}


def test_ivf_trained_quantizer_at_scale(spark, rng):
    """ivf_topk with a trained k=64 × dim=768 quantizer returns sane
    neighbors for a self-query."""
    dim = 768
    C = rng.normal(size=(120, dim))
    corpus = _vec_df(spark, C)
    queries = spark.createDataFrame(
        [(0, [float(v) for v in C[11]])],
        "query_id long, embedding array<double>")
    cents = _planes(64, dim, seed="scale-ivf")
    out = ivf_topk(corpus, queries, k=1, centroids=cents, nprobe=4)
    rows = out.collect()
    assert rows and rows[0].vec_id == 11 and rows[0].cosine > 0.999


def test_null_embeddings_yield_null_not_garbage(spark):
    """Null embedding → null cell/bucket, never an arbitrary-but-plausible
    cell — a silent wrong answer at production scale."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, None), (2, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert _cells(df, np.eye(2, 4)) == {0: 0, 1: None, 2: 1}
    assert _buckets(df, 4, 4) == {0: 13, 1: None, 2: 2}


def test_null_embedding_rows_drop_from_ivf(spark, rng):
    dim = 8
    C = rng.normal(size=(20, dim))
    rows = [(i, [float(v) for v in C[i]]) for i in range(20)] + [(99, None)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [float(v) for v in C[5]])], "query_id long, embedding array<double>")
    out = ivf_topk(corpus, queries, k=3, n_cells=4, nprobe=2,
                   dim=dim).collect()
    assert out and all(r.vec_id != 99 for r in out)


def test_ragged_embedding_fails_loudly_on_arrow_arm(spark):
    """A schema-drifted shard (wrong vector width) must raise a clear
    error, not score garbage through a misaligned gemm."""
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="width mismatch"):
        assign_cells(bad, np.eye(2, 4)).collect()


def test_assign_cells_near_tie_cancellation(spark):
    """Adversarial near-tie at large vector norm: the gemm expansion
    ||x||^2 - 2xc + ||c||^2 carries ~||x||^2*eps absolute error (>> the
    true distance gap here); the exact top-2 refine must still find the
    nearest cell, as a direct Σ(x−c)² does."""
    dim = 4
    x = np.full(dim, 1024.0)
    c_near = x.copy()
    c_near[0] += 2.0 ** -10                 # true d^2 = 2^-20
    c_far = x.copy()
    c_far[0] += 2.0 ** -10 + 2.0 ** -40     # true d^2 = 2^-20 + ~1.8e-15
    cents = np.stack([c_far, c_near])       # nearest is cell 1
    got = _cells(_vec_df(spark, np.tile(x, (8, 1))), cents)
    assert set(got.values()) == {1}, got


def test_nan_component_parity_across_arms(spark):
    """A NaN embedding COMPONENT follows Spark/DuckDB order, where NaN is
    the largest double (NaN > 0 is true, NaN sorts first descending);
    numpy's default is the opposite and the Arrow stage compensates. A
    NaN projects to NaN, not to null."""
    rows = [(0, [float("nan"), 1.0, -1.0, 2.0]),
            (1, [1.0, 2.0, 3.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert _cells(df, np.eye(3, 4)) == {0: 0, 1: 2}
    assert _buckets(df, 5, 4) == {0: 31, 1: 26}
    jl = {r.vec_id: r.jl for r in jl_project(
        df, "embedding", out_dim=2, dim=4).collect()}
    assert len(jl[0]) == 2 and all(math.isnan(v) for v in jl[0])
    assert jl[1] == [5.65685424949238, -5.65685424949238]


def test_inf_component_parity_across_arms(spark):
    """A ±inf COMPONENT: every direct distance is inf and ties to cell 0,
    but through the gemm expansion inf−inf yields MIXED inf/NaN
    distances, so the guard must trigger on any non-finite row. For the
    IVF quantizer every cosine is NaN (±inf/inf), so all cells tie and
    the highest cells are probed."""
    rows = [(0, [float("inf"), 1.0, -1.0, 2.0]),
            (1, [-float("inf"), 0.5, 0.5, 0.5]),
            (2, [1.0, 2.0, 3.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert _cells(df, np.eye(3, 4) * 2.0) == {0: 0, 1: 0, 2: 2}
    assert _buckets(df, 5, 4) == {0: 13, 1: 18, 2: 26}
    jl = {r.vec_id: r.jl for r in jl_project(
        df, "embedding", out_dim=2, dim=4).collect()}
    assert jl[0] == [-math.inf, math.inf]

    C = np.random.default_rng(3).normal(size=(12, 4)).tolist()
    C[2][0] = float("nan")
    C[5][1] = float("inf")
    corpus = spark.createDataFrame(
        [(i, c) for i, c in enumerate(C)]
        + [(99, None), (98, [1.0, None, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(0, C[0]), (1, [float("nan"), 0.0, 1.0, 0.0]), (2, None)],
        "query_id long, embedding array<double>")
    got = ivf_topk(corpus, q, k=3, n_cells=4, nprobe=2, dim=4)
    assert sorted(map(tuple, got.select(
        "query_id", "vec_id", "rank").collect())) == [
        (0, 0, 1), (0, 4, 2), (0, 6, 3), (1, 2, 1), (1, 4, 2), (1, 5, 3)]


def test_null_element_inside_vector_nulls_both_arms(spark):
    """A null ELEMENT inside a non-null embedding is schema drift.
    Arrow→numpy silently converts it to NaN, which would set a plane bit
    / tie to cell 0 where the SQL twins' null arithmetic yields a null
    dot; it must fold into the null-embedding → null-output contract."""
    bad = spark.createDataFrame(
        [(0, [1.0, None, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>")
    assert _cells(bad, np.eye(2, 4)) == {0: None, 1: 1}
    assert _buckets(bad, 4, 4) == {0: None, 1: 10}
    jl = {r.vec_id: r.jl for r in jl_project(
        bad, "embedding", out_dim=2, dim=4).collect()}
    assert jl[0] is None and len(jl[1]) == 2
