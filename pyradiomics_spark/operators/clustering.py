"""Distributed Lloyd (k-means) over embedding columns — the clustering
step a training-data pipeline uses for corpus curation (topic balancing,
semantic dedup cells, IVF coarse quantizers).

Reference scope note: pyradiomics has no clustering; this belongs to the
LLM-pipeline surface next to ``operators.similarity`` (whose deterministic
md5-plane init it reuses, so a fitted quantizer slot-compatibly replaces
``ivf_topk``'s fixed centroids).

Spark design (the 100-TB shape):
* assignment is shuffle-free in both arms and auto-dispatches on k·dim:
  small quantizers stay 100% JVM (per-centroid squared distances via
  ``zip_with``/``aggregate`` array expressions, argmin via a sorted
  struct-array literal), production quantizers (k=1024+, dim=768) cross
  the Arrow boundary once per batch to a broadcast-numpy gemm — an
  expression tree k·dim literals wide would hit Catalyst analysis and
  JVM codegen limits long before data volume matters;
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

from pyradiomics_spark.operators.similarity import EXPR_MAX_TERMS


def _as_double(vec_col):
    return F.transform(vec_col, lambda x: x.cast("double"))


def _sqdist(vec, cent: np.ndarray):
    carr = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _assign_cells_arrow(
    df: DataFrame,
    cents: np.ndarray,
    vec_col: str,
    cell_col: str,
) -> DataFrame:
    """Broadcast-numpy nearest-centroid assignment: ONE gemm per Arrow
    batch via the ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² expansion — plan size is
    O(1) in k·dim, shuffle-free, and np.argmin's first-minimum rule is the
    same lowest-cell tie break as the expression arm's array_sort."""
    bc = df.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(cents))
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {cell_col} int"

    def run(batches):
        from pyradiomics_spark.operators.similarity import (
            _masked_int_col, _stack_vecs)

        C = bc.value
        c2 = (C * C).sum(axis=1)
        k = C.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X, valid = _stack_vecs(pdf[vec_col], C.shape[1])
            if X.shape[0] == 0 or k == 1:
                pdf = pdf.copy()
                pdf[cell_col] = _masked_int_col(
                    np.zeros(X.shape[0], dtype=np.int64), valid)
                yield pdf
                continue
            # gemm screen + EXACT top-2 refine: the ‖x‖²−2x·c+‖c‖² expansion
            # is a difference of large numbers (abs error ~‖x‖²·ε), which
            # can flip argmin between near-equidistant centroids that the
            # expression arm (direct Σ(x−c)², full precision) ranks
            # correctly — the same cancellation class as the GLCM corm.
            # Recompute the two screened finalists directly; ties to the
            # lower cell id, matching the expr arm.
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
            # any non-finite component makes the expr arm's distances all
            # NaN (or all +inf for a ±inf component), which its struct
            # sort ties to cell 0.  Here a ±inf component yields MIXED
            # inf/NaN distances (inf−inf is NaN only where x·c hits +inf),
            # so argpartition could pick an arbitrary cell — guard on the
            # row itself, not d2[:, 0], to mirror the expr arm exactly.
            best = np.where((~np.isfinite(X)).any(axis=1), 0, best)
            pdf = pdf.copy()
            pdf[cell_col] = _masked_int_col(best, valid)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    method: str = "auto",
) -> DataFrame:
    """Nearest-centroid (squared-euclidean) assignment, ties to the lowest
    cell id — deterministic and shuffle-free in both arms.

    ``expr``: pure JVM expression (whole-stage codegen) embedding each
    centroid coordinate as a literal — the right arm while k·dim is small.
    ``arrow``: broadcast centroid matrix + one BLAS gemm per Arrow batch —
    the scale arm; a production quantizer (k=1024+, dim=768) as literals
    would be a ~10⁶-node expression tree (Catalyst analysis blowup, 64KB
    codegen method limit). ``auto`` dispatches on EXPR_MAX_TERMS, the same
    small/large boundary pattern as the reference's C dispatch
    (radiomics/base.py:181-198)."""
    from pyradiomics_spark.operators.similarity import _nullify_partial

    cents = np.asarray(centroids, dtype=float)
    df = _nullify_partial(df, vec_col)
    if method == "auto":
        method = "expr" if cents.size <= EXPR_MAX_TERMS else "arrow"
    if method == "arrow":
        return _assign_cells_arrow(df, cents, vec_col, cell_col)
    vec = _as_double(F.col(vec_col))
    arr = F.array(*[
        F.struct(_sqdist(vec, c).alias("d"), F.lit(i).alias("cell"))
        for i, c in enumerate(cents)
    ])
    # null embedding → null cell (unguarded, the all-null distance structs
    # would sort to an arbitrary-but-valid-looking cell id)
    return df.withColumn(
        cell_col,
        F.when(F.col(vec_col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.array_sort(arr)[0]["cell"]))


def kmeans_step(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    method: str = "auto",
) -> tuple[np.ndarray, dict]:
    """One Lloyd update: assign → per-cell per-dim mean. Returns
    (new_centroids, counts-per-cell); empty cells keep their old centroid
    (the standard Lloyd fixup). The update stays ONE partial-aggregated
    shuffle in both assignment arms; the ≤ k·dim result lands driver-side
    through Arrow (vectorized fill, no per-row Python at large k·dim)."""
    cents = np.asarray(centroids, dtype=float)
    a = assign_cells(df, cents, vec_col, method=method)
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
    method: str = "auto",
) -> np.ndarray:
    """Fixed-iteration Lloyd from the deterministic md5-plane init
    (operators.similarity._planes) — reproducible without any RNG state;
    the result drops into ``ivf_topk`` as a trained coarse quantizer."""
    from pyradiomics_spark.operators.similarity import _planes

    cents = _planes(k, dim, seed=seed)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(iters):
        cents, _counts = kmeans_step(df, cents, vec_col, method=method)
    return cents
