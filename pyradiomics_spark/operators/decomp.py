"""Distributed second-moment / PCA decomposition over embedding columns.

The whitening/PCA preprocessing step of embedding-based curation
(SemDeDup's clustering space, IVF quantizer training, embedding drift
monitoring) needs the d×d second-moment (gram) matrix of a corpus of
vectors. At 10^12 rows that is a textbook map-side-combinable reduction:
each Arrow batch contributes a dim×dim partial XᵀX (one BLAS syrk), the
partials shuffle as (i, j, value) rows — dim(dim+1)/2 rows per
partition, independent of corpus size — and ONE groupBy sums them. The
eigendecomposition itself is a dim×dim driver-side numpy call, exactly
like kmeans_step's centroid update or logreg_grad_step's weight update:
the model is tiny, the data pass is distributed. The fit-free
``jl_project`` runs through the same broadcast-gemm Arrow stage as the
similarity scorers (``similarity._append_matrix_col``).

Reference scope note: pyradiomics has no decomposition stage (its only
eigen use is the GLCM MCC feature, glcm.py getMCCFeatureValue); this is
LLM-pipeline surface like operators/clustering.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: row markers for the moment rows emitted alongside the gram triangle
_SUM_ROW = -1   # (i=-1, j, value) = Σ x_j   (column sums)
_CNT_ROW = -2   # (i=-2, j=-2, value) = n    (valid-row count)


def _jl_signs(out_dim: int, dim: int, seed: str = "pyradiomics-jl"
              ) -> np.ndarray:
    """±1 sign matrix for the database-friendly JL transform (Achlioptas
    2003): cell (j, i) = parity of the first 8 md5 hex digits of
    ``seed:j:i`` — the same engine-replayable derivation family as
    similarity._planes / sketches._cell, so an SQL oracle can rebuild the
    identical matrix."""
    import hashlib

    s = np.empty((out_dim, dim))
    for j in range(out_dim):
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()
            s[j, i] = 1.0 if int(h[:8], 16) % 2 == 0 else -1.0
    return s


def jl_project(
    df: DataFrame,
    vec_col: str,
    out_dim: int,
    dim: int,
    seed: str = "pyradiomics-jl",
    out_col: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dims via a
    deterministic ±1/√out_dim sign matrix — the fit-free complement to
    ``pca_fit``/``pca_project``: distance-preserving (1±ε) compression
    with NO training pass, no driver state, and bit-reproducible columns
    on any executor count — the right first move before LSH/IVF when the
    corpus is too young to have a trained quantizer.

    Appends ``out_col`` (array<double>, null for null/partially-null
    embeddings). The sign matrix is broadcast and each Arrow batch is
    projected with one BLAS gemm (plan size O(1) in out_dim·dim); the ±1
    products are exact, and the √out_dim division comes after the sum,
    as in the SQL twin."""
    from pyradiomics_spark.operators.similarity import _append_matrix_col

    if out_dim < 1 or dim < 1:
        raise ValueError("out_dim and dim must be >= 1")
    root = float(np.sqrt(out_dim))
    return _append_matrix_col(
        df, vec_col, dim, out_col, "array<double>",
        lambda X, S: (X @ S) / root, _jl_signs(out_dim, dim, seed).T)


def gram_moments(
    df: DataFrame,
    vec_col: str,
    dim: int,
    with_moments: bool = True,
) -> DataFrame:
    """Corpus second moments in ONE distributed pass: rows
    ``(i, j, value)`` with the upper triangle (i ≤ j) of Σ x xᵀ, plus —
    when ``with_moments`` — column sums as ``(-1, j, Σx_j)`` and the
    valid-row count as ``(-2, -2, n)``. Null vectors are skipped, and so
    are partially-null ones (a null element nulls the vector first,
    ``similarity._nullify_partial``, as in the scorers); a
    ragged/wrong-width vector fails loudly (``_stack_vecs`` contract).

    Scale shape: per-batch partials are one BLAS gemm each; every
    partition emits at most dim(dim+1)/2 + dim + 1 rows regardless of
    row count, and the final groupBy shuffles only those — the classic
    tree-reduction, no corpus-sized shuffle anywhere. Float caveat: sums
    are accumulated per-partition then once more globally; expect ulp-
    level differences from a single-pass serial sum (absorbed by the
    gate's 1e-6 rounding).
    """
    from pyradiomics_spark.operators.similarity import _nullify_partial

    out_schema = "i int, j int, value double"

    def run(batches):
        import pyarrow as pa

        from pyradiomics_spark.operators.similarity import _stack_vecs

        g = np.zeros((dim, dim))
        s = np.zeros(dim)
        n = 0
        for rb in batches:
            X, _ = _stack_vecs(rb.column(0), dim)
            if X.shape[0] == 0:
                continue
            g += X.T @ X
            s += X.sum(axis=0)
            n += X.shape[0]
        if n == 0:
            return
        iu, ju = np.triu_indices(dim)
        i, j, v = [iu], [ju], [g[iu, ju]]
        if with_moments:
            i += [np.full(dim, _SUM_ROW), [_CNT_ROW]]
            j += [np.arange(dim), [_CNT_ROW]]
            v += [s, [float(n)]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.concatenate(i).astype(np.int32)),
             pa.array(np.concatenate(j).astype(np.int32)),
             pa.array(np.concatenate(v).astype(np.float64))],
            names=["i", "j", "value"])

    partials = _nullify_partial(df.select(vec_col), vec_col).mapInArrow(
        run, schema=out_schema)
    return partials.groupBy("i", "j").agg(F.sum("value").alias("value"))


def pca_fit(
    df: DataFrame,
    vec_col: str,
    dim: int,
    k: int,
    center: bool = True,
):
    """Exact corpus PCA: one distributed ``gram_moments`` pass, then a
    driver-side dim×dim symmetric eigendecomposition. Returns
    ``(components (k, dim), eigvals (k,), mean (dim,), n)`` with
    eigenvalues descending and each component's sign fixed so its
    largest-|.|  entry is positive (eigh's sign is otherwise arbitrary —
    determinism across runs/clusters matters for resumable pipelines).

    ``center=True`` fits on the covariance (Σxxᵀ − nμμᵀ)/(n−1);
    ``center=False`` on the raw second moment /(n−1) (spherical data,
    e.g. normalized embeddings). ≤ dim(dim+1)/2 + dim + 1 values ever
    reach the driver — never corpus rows."""
    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}]")
    rows = gram_moments(df, vec_col, dim).collect()
    g = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0
    for r in rows:
        if r["i"] == _CNT_ROW:
            n = int(r["value"])
        elif r["i"] == _SUM_ROW:
            s[r["j"]] = r["value"]
        else:
            g[r["i"], r["j"]] = r["value"]
            g[r["j"], r["i"]] = r["value"]
    if n < 2:
        raise ValueError(f"need >= 2 valid vectors, got {n}")
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1) if center else g / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    return comps, vals[order], (mu if center else np.zeros(dim)), n


def pca_project(
    df: DataFrame,
    vec_col: str,
    components: np.ndarray,
    mean: np.ndarray | None = None,
    prefix: str = "pc",
) -> DataFrame:
    """Project each vector onto fitted components: adds ``pc0..pc{k-1}``
    columns, ``pc_j = Σ_i (x_i − μ_i)·w_ji``. Pure JVM expression — the
    components ride into the plan as literals (k·dim literal terms; for
    k·dim beyond a few thousand move to a broadcast-numpy mapInArrow
    stage like ``jl_project``'s). Null vectors project to null."""
    comps = np.asarray(components, dtype=float)
    k, dim = comps.shape
    mu = np.zeros(dim) if mean is None else np.asarray(mean, dtype=float)
    if mu.shape != (dim,):
        raise ValueError(f"mean must have shape ({dim},)")
    v = F.col(vec_col)
    out = df
    for j in range(k):
        expr = None
        for i in range(dim):
            term = (v[i].cast("double") - F.lit(mu[i])) * F.lit(comps[j, i])
            expr = term if expr is None else expr + term
        out = out.withColumn(
            f"{prefix}{j}",
            F.when(v.isNotNull(), expr))
    return out
