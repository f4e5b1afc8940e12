"""Distributed Lloyd (k-means) over embedding columns — the clustering
step a training-data pipeline uses for corpus curation (topic balancing,
semantic dedup cells, IVF coarse quantizers).

Reference scope note: pyradiomics has no clustering; this belongs to the
LLM-pipeline surface next to ``operators.similarity`` (whose deterministic
md5-plane init it reuses, so a fitted quantizer slot-compatibly replaces
``ivf_topk``'s fixed centroids).

Spark design (the 100-TB shape):
* assignment is shuffle-free: the centroid matrix is broadcast and each
  Arrow batch crosses once to a numpy gemm screen plus an exact top-2
  refine (``similarity._append_matrix_col``), so the plan is O(1) in
  k·dim — centroids as expression literals would hit Catalyst analysis
  and JVM codegen limits at production quantizers (k=1024+, dim=768)
  long before data volume matters;
* the update is ONE partial-aggregated shuffle: explode to (cell, dim_idx)
  and groupBy-sum — map-side combine reduces every partition to ≤ k·dim
  rows, so shuffle volume is partitions × k × dim regardless of corpus
  size; the ≤ k·dim aggregated rows come to the driver (the one permitted
  driver materialization, same as the reference loading its cluster
  centers);
* iteration count is a fixed small constant (Lloyd converges coarsely in
  a handful of rounds for curation purposes) — each round is one job.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyradiomics_spark.operators.similarity import _append_matrix_col, _planes


def _as_double(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


def _nearest_centroid(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest-centroid index per row of X: ONE gemm screen via the
    ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² expansion, then an exact top-2 refine;
    ties to the lower cell id."""
    if C.shape[0] == 1:
        return np.zeros(X.shape[0], dtype=np.int64)
    # the expansion is a difference of large numbers (abs error ~‖x‖²·ε),
    # which can flip argmin between near-equidistant centroids that a
    # direct Σ(x−c)² ranks correctly — the same cancellation class as the
    # GLCM corm. Recompute the two screened finalists directly.
    c2 = (C * C).sum(axis=1)
    d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + c2[None, :]
    top2 = np.argpartition(d2, 1, axis=1)[:, :2]
    ex = np.empty((X.shape[0], 2))
    for t in range(2):
        diff = X - C[top2[:, t]]
        ex[:, t] = np.einsum("ij,ij->i", diff, diff)
    with np.errstate(invalid="ignore"):
        swap = (ex[:, 1] < ex[:, 0]) | (
            (ex[:, 1] == ex[:, 0]) & (top2[:, 1] < top2[:, 0]))
    best = np.where(swap, top2[:, 1], top2[:, 0])
    # any non-finite component makes every direct distance NaN (or +inf
    # for a ±inf component), which the SQL twins' ORDER BY d, cell ties to
    # cell 0. Through the expansion a ±inf component yields MIXED inf/NaN
    # distances (inf−inf is NaN only where x·c hits +inf), so argpartition
    # could pick an arbitrary cell — guard on the row itself.
    return np.where((~np.isfinite(X)).any(axis=1), 0, best)


def assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid (squared-euclidean) assignment, ties to the lowest
    cell id, null for a null embedding — deterministic and shuffle-free:
    the centroid matrix is broadcast and each Arrow batch is assigned with
    one BLAS gemm plus the exact top-2 refine, so a production quantizer
    (k=1024+, dim=768) keeps an O(1) plan."""
    cents = np.asarray(centroids, dtype=float)
    return _append_matrix_col(
        df, vec_col, cents.shape[1], cell_col, "int", _nearest_centroid,
        cents)


def kmeans_step(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, dict]:
    """One Lloyd update: assign → per-cell per-dim mean. Returns
    (new_centroids, counts-per-cell); empty cells keep their old centroid
    (the standard Lloyd fixup). The update stays ONE partial-aggregated
    shuffle; the ≤ k·dim result lands driver-side through Arrow
    (vectorized fill, no per-row Python at large k·dim)."""
    cents = np.asarray(centroids, dtype=float)
    a = assign_cells(df, cents, vec_col)
    stats = (
        a.select("cell", F.posexplode(_as_double(F.col(vec_col)))
                 .alias("idx", "val"))
        .groupBy("cell", "idx")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .toPandas())  # ≤ k·dim aggregated rows
    new = cents.copy()
    ci = stats["cell"].to_numpy(dtype=np.int64)
    di = stats["idx"].to_numpy(dtype=np.int64)
    n = stats["n"].to_numpy(dtype=np.float64)
    new[ci, di] = stats["s"].to_numpy(dtype=np.float64) / n
    first = stats["idx"] == 0
    counts = dict(zip(ci[first].tolist(),
                      n[first].astype(np.int64).tolist()))
    return new, counts


def cluster_purity(
    assigned: DataFrame,
    label_col: str,
    cell_col: str = "cell",
) -> DataFrame:
    """Per-cluster purity against ground-truth labels — the curation-QA
    metric for a fitted quantizer (cell → majority label fraction). Two
    partial-aggregated shuffles on (cell, label) then cell; ≤ k·|labels|
    intermediate rows regardless of corpus size."""
    by = (assigned.groupBy(cell_col, label_col)
          .agg(F.count("*").alias("n")))
    return (
        by.withColumn("__tot", F.sum("n").over(Window.partitionBy(cell_col)))
        .groupBy(cell_col)
        .agg(F.max("n").alias("n_majority"),
             F.max("__tot").alias("n_total"))
        .withColumn("purity", F.col("n_majority") / F.col("n_total"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    dim: int,
    iters: int = 5,
    vec_col: str = "embedding",
    seed: str = "kmeans-init",
) -> np.ndarray:
    """Fixed-iteration Lloyd from the deterministic md5-plane init
    (operators.similarity._planes) — reproducible without any RNG state;
    the result drops into ``ivf_topk`` as a trained coarse quantizer."""
    cents = _planes(k, dim, seed=seed)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(iters):
        cents, _counts = kmeans_step(df, cents, vec_col)
    return cents
