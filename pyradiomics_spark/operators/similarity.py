"""Similarity search over embedding columns (array<float/double>).

* ``cosine_expr``        — builtin-expression cosine (zip_with + aggregate;
                           whole-stage codegen, no UDF)
* ``brute_force_topk``   — exact top-k: broadcast the (small) query set,
                           score every corpus row, window row_number per
                           query. The scan parallelizes; only the tiny
                           top-k result shuffles.
* ``hyperplane_buckets`` — deterministic random-hyperplane LSH signature
                           (sign pattern of n fixed pseudo-random planes);
                           the scale path: equality-join on bucket, refine
                           with exact cosine inside buckets.
* ``ivf_topk``           — IVF-style two-stage ANN: coarse quantize to the
                           nearest of C centroids (one broadcast score pass),
                           then search only rows in the query's nprobe
                           nearest cells.

Every scorer against a fixed matrix (planes, centroids, a projection —
also ``clustering.assign_cells`` and ``decomp.jl_project``) has one
physical path, ``_append_matrix_col``: the matrix is broadcast once and
each Arrow batch is scored with BLAS, so the plan stays O(1) in its size.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _stack_vecs(col, dim: int) -> tuple:
    """(X float64 (n_valid, dim), valid bool mask) from an Arrow list
    column of embeddings. Null embeddings are masked out (→ null output);
    a ragged or wrong-width vector raises a clear error instead of a
    cryptic BLAS one (at 100 TB a schema-drifted shard should fail loudly,
    not score garbage)."""
    import pyarrow.compute as pc

    valid = col.is_valid().to_numpy(zero_copy_only=False)
    widths = np.unique(pc.list_value_length(col).drop_null().to_numpy())
    if len(widths) and widths.tolist() != [dim]:
        raise ValueError(
            f"embedding width mismatch: expected {dim}, batch has "
            f"{widths.tolist()}")
    X = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    return X.astype(np.float64, copy=False).reshape(-1, dim), valid


def _nullify_partial(df: DataFrame, vec_col: str) -> DataFrame:
    """Normalize a partially-null embedding (null ELEMENTS inside a
    non-null list) to a null embedding before scoring. Arrow→numpy
    silently converts null list elements to NaN, so a null element would
    set a plane bit / tie to cell 0 where the SQL twins' null arithmetic
    yields a null dot. Folding it into the established "null embedding →
    null output" contract keeps a schema-drifted shard from scoring
    garbage at 100 TB. Pure codegen expression (one exists() scan per
    row), no shuffle."""
    c = F.col(vec_col)
    return df.withColumn(
        vec_col,
        F.when(F.exists(c, lambda e: e.isNull()),
               F.lit(None).cast(df.schema[vec_col].dataType)).otherwise(c))


def _append_matrix_col(
    df: DataFrame,
    vec_col: str,
    dim: int,
    out_col: str,
    out_type: str,
    fn,
    const: np.ndarray,
) -> DataFrame:
    """Append ``out_col`` computed per Arrow batch from the stacked vector
    matrix — the one scoring loop of every embedding scorer. ``const``
    (centroids, planes, a projection) is broadcast once; ``fn(X, const)``
    gets the batch's non-null embeddings as X float64 (n_valid, dim) and
    returns one value (1-D) or one row (2-D) per row of X. ``out_type`` is
    the Spark type: int, bigint, or an array of int/double. Null and
    partially-null embeddings get a null. One MapInArrow stage, plan size
    O(1) in the size of ``const``."""
    import pyarrow as pa

    df = _nullify_partial(df, vec_col)

    bc = df.sparkSession.sparkContext.broadcast(np.ascontiguousarray(const))
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{out_col}` {out_type}"
    nested = out_type.startswith("array<")
    dtype = {"int": np.int32, "bigint": np.int64, "double": np.float64}[
        out_type[6:-1] if nested else out_type]
    atype = pa.from_numpy_dtype(dtype)
    if nested:
        atype = pa.list_(atype)
    names = df.columns + [out_col]
    ci = df.columns.index(vec_col)

    def run(batches):
        C = bc.value
        for rb in batches:
            X, valid = _stack_vecs(rb.column(ci), dim)
            if X.shape[0] == 0:
                out = pa.nulls(len(valid), atype)
            elif nested:
                vals = np.asarray(fn(X, C), dtype=dtype)
                offsets = np.zeros(len(valid) + 1, dtype=np.int32)
                np.cumsum(valid * vals.shape[1], out=offsets[1:])
                out = pa.ListArray.from_arrays(
                    offsets, vals.ravel(), type=atype, mask=pa.array(~valid))
            else:
                full = np.zeros(len(valid), dtype=dtype)
                full[valid] = fn(X, C)
                out = pa.array(full, type=atype, mask=~valid)
            yield pa.RecordBatch.from_arrays(rb.columns + [out], names=names)

    return df.mapInArrow(run, schema=schema)


def _topn_desc(scores: np.ndarray, n: int) -> np.ndarray:
    """Per-row top-n column indices by DESCENDING score, ties broken to the
    HIGHER index — the order of the SQL twins' ``ORDER BY score DESC,
    cell DESC``. Spark and DuckDB order NaN as the LARGEST double (numpy
    sorts it last): map NaN → +inf so a NaN-scored cell ranks first."""
    k = scores.shape[1]
    scores = np.where(np.isnan(scores), np.inf, scores)
    rev = np.argsort(-scores[:, ::-1], axis=1, kind="stable")[:, :n]
    return (k - 1) - rev


def cosine_expr(a, b):
    """cos(a,b) as a builtin column expression over two array columns."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_shards: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. ``queries``: (query_id, vec).

    Two-level top-k (the TakeOrdered shape, SURVEY §2.6 "never a global
    sort"): a per-(query, corpus-shard) rank window bounds every sort
    partition at |corpus|/n_shards rows, then the k-bounded survivors
    (n_shards·k rows per query) are merge-ranked in a second window.
    A single per-query window would put every query's |corpus| scored
    rows into ONE task — fine at test scale, a single-partition sort at
    10⁹ docs. Any global top-k row is necessarily in its shard's top-k,
    so the output is identical. ``n_shards`` defaults to the cluster's
    slot count (scale-adaptive; the shard key is a deterministic hash
    of the corpus id, so retries reproduce the same assignment)."""
    if n_shards is None:
        n_shards = max(corpus.sparkSession.sparkContext.defaultParallelism,
                       16)
    q = F.broadcast(queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")))
    scored = corpus.crossJoin(q).withColumn(
        "cosine", cosine_expr(F.col(vec_col), F.col("__qvec"))
    ).withColumn(
        "__bfs", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    order = (F.desc("cosine"), F.col(id_col))
    w_shard = Window.partitionBy(query_id_col, "__bfs").orderBy(*order)
    w_query = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("__srk", F.row_number().over(w_shard))
        .where(F.col("__srk") <= k)
        .withColumn("rank", F.row_number().over(w_query))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _planes(n_planes: int, dim: int, seed: str = "pyradiomics-spark") -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: md5-expanded, engine-agnostic."""
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        vals = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            for off in range(0, 16, 4):
                u = int.from_bytes(h[off:off + 4], "big") / 2**32
                vals.append(2.0 * u - 1.0)
            i += 1
        out[p] = vals[:dim]
    return out


def _nearest_cells(
    df: DataFrame,
    cents_normalized: np.ndarray,
    vec_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """Top-n nearest centroids by cosine: one BLAS gemm per Arrow batch
    (centroids pre-normalized, so dot-product rank ≡ cosine rank per
    row). Appends ``out_col``: int when n == 1, array<int> otherwise;
    descending score, ties to the higher cell."""

    def top(X, C):
        s = X @ C.T
        # a non-finite component makes every cosine NaN (±inf/inf, NaN),
        # so all cells tie; the gemm alone gives mixed ±inf/NaN scores
        s[~np.isfinite(X).all(axis=1)] = np.nan
        t = _topn_desc(s, n)
        return t[:, 0] if n == 1 else t

    return _append_matrix_col(
        df, vec_col, cents_normalized.shape[1], out_col,
        "int" if n == 1 else "array<int>", top, cents_normalized)


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    dim: int = 64,
    seed: str = "pyradiomics-spark",
) -> DataFrame:
    """Add an LSH ``bucket`` int column = sign pattern of n fixed planes
    (bigint past 30 planes), null for a null embedding. Deterministic and
    reproducible on any executor count: the plane matrix is broadcast and
    each Arrow batch is signed with one BLAS gemm — plan size O(1) in
    n_planes·dim.
    """
    pows = 2 ** np.arange(n_planes, dtype=np.int64)

    def bucket(X, P):
        s = X @ P.T
        # Spark's and DuckDB's `dot > 0` is TRUE for NaN (NaN orders
        # greatest); numpy's is False — OR the NaN mask in
        return ((s > 0) | np.isnan(s)) @ pows

    return _append_matrix_col(
        df, vec_col, dim, "bucket", "int" if n_planes <= 30 else "bigint",
        bucket, _planes(n_planes, dim, seed))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-style ANN: fixed pseudo-random centroids (deterministic, or a
    trained quantizer via ``centroids`` — e.g. clustering.kmeans_fit),
    corpus rows assigned to nearest cell, queries probe their nprobe
    nearest cells. Approximate; recall rises with nprobe. Scale path: the
    per-cell join replaces the full cross product.

    Coarse quantization broadcasts the centroid matrix and ranks one gemm
    per Arrow batch, so a production quantizer (n_cells=1024+, dim=768)
    keeps an O(1) plan. Null embeddings get no cell and drop out of the
    cell join. The bucket-refine cosine below is per-PAIR (no literals)
    and stays JVM.
    """
    if centroids is None:
        cents = _planes(n_cells, dim, seed="ivf-centroids")
    else:
        cents = np.asarray(centroids, dtype=float)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    corpus_cells = _nearest_cells(corpus, cents, vec_col, 1, "cell")
    query_cells = (
        _nearest_cells(queries, cents, vec_col, nprobe, "__cells")
        .select(query_id_col, F.col(vec_col).alias("__qvec"),
                F.explode("__cells").alias("cell")))
    scored = corpus_cells.join(F.broadcast(query_cells), "cell").withColumn(
        "cosine", cosine_expr(F.col(vec_col), F.col("__qvec"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_quality(
    df: DataFrame,
    vec_col: str,
    group_cols=None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-column QA census — per group: row count, null vectors,
    wrong-width vectors (when ``dim`` is given), vectors containing a
    null element, exact-zero vectors, and the L2-norm min/mean/max over
    the clean rows. The data-card row to run BEFORE ANN/semdedup jobs:
    a schema-drifted shard (wrong width), a failed encoder batch (zero
    or null vectors), or a norm collapse all surface here instead of as
    silently-garbage similarity scores downstream (the fail-loud
    contract `_stack_vecs` enforces per batch, lifted to a corpus
    census).

    Scale shape: pure per-row array expressions (fold for the norm,
    exists for the null scan — no explode, no Python) + ONE map-side-
    combined groupBy; output is |groups| rows."""
    groups = ([group_cols] if isinstance(group_cols, str)
              else list(group_cols or []))
    v = F.col(vec_col)
    is_null = v.isNull()
    has_null_el = F.when(~is_null, F.exists(v, lambda x: x.isNull())
                         ).otherwise(F.lit(False))
    wrong_width = (F.when(~is_null, F.size(v) != dim)
                   .otherwise(F.lit(False))
                   if dim is not None else F.lit(False))
    clean = ~is_null & ~has_null_el & ~wrong_width
    norm2 = F.aggregate(v, F.lit(0.0),
                        lambda a, x: a + x.cast("double") * x)
    norm = F.when(clean, F.sqrt(norm2))
    is_zero = clean & (norm2 == 0.0)
    per = df.select(
        *groups, is_null.cast("int").alias("__nl"),
        has_null_el.cast("int").alias("__ne"),
        wrong_width.cast("int").alias("__ww"),
        is_zero.cast("int").alias("__z"), norm.alias("__n"))
    return per.groupBy(*groups).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__nl").cast("long").alias("n_null"),
        F.sum("__ne").cast("long").alias("n_null_elem"),
        F.sum("__ww").cast("long").alias("n_wrong_width"),
        F.sum("__z").cast("long").alias("n_zero"),
        F.min("__n").alias("min_norm"),
        (F.sum("__n") / F.count("__n")).alias("mean_norm"),
        F.max("__n").alias("max_norm"))
