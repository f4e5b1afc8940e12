"""Checkpointed sinks with exact resume + per-partition lineage metrics.

The reference resumes per case: an existing ``features_<idx>.csv``
short-circuits re-extraction (/root/reference/radiomics/scripts/segment.py:37-67).
The Spark-scale analog (SURVEY.md §2.1 "Per-case checkpoint sink/source"):

* every stage appends to a table (Iceberg when a catalog is configured,
  plain parquet dir otherwise — same append-only semantics);
* a resume run computes the **left-anti join** of input keys vs
  already-committed keys and processes only the remainder — a killed job
  rerun converges to the identical final table;
* every commit also appends a **lineage row** per data file it committed
  (writer partition id, rows, on-disk bytes, min/max key timestamp) to
  ``<path>/_lineage`` so late-data recomputes can target exactly the
  affected partitions. The rows are read back from the committed files
  themselves, so the stage's DataFrame runs once and the lineage describes
  what is on disk, not what a recompute might have produced.

Parquet's job-commit protocol makes each append atomic at task granularity,
so "committed" keys are exactly the keys of fully-written files.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def is_catalog_table(target: str) -> bool:
    """True if ``target`` names a catalog table (e.g. ``iceberg.db.tbl``)
    rather than a filesystem path."""
    return "/" not in target and target.count(".") >= 1


def write_table(df: DataFrame, target: str, mode: str = "append") -> None:
    """Format-gated sink: Iceberg ``writeTo`` (snapshot-committed, exactly
    the checkpoint discipline the north rule names) when ``target`` is a
    catalog table and the session has an Iceberg catalog configured; plain
    parquet dir otherwise (this container ships no Iceberg jars — the
    parquet path carries the same append-only resume semantics)."""
    if is_catalog_table(target):
        writer = df.writeTo(target)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    else:
        df.write.mode(mode).parquet(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    num_buckets: int = 64,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the CO-LOCATED join strategy at 100 TB
    (SURVEY.md §2.3): two tables bucketed by the same key and bucket count
    sort-merge-join with NO Exchange on either side (asserted in
    tests/test_plans.py::test_bucketed_join_is_shuffle_free). ``sort_cols``
    additionally pre-sorts each bucket file so the SMJ skips its Sort.

    This sandbox uses the session-local metastore (spark-warehouse dir); a
    real deployment points the same code at HMS/Glue/Unity."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    return spark.table(target) if is_catalog_table(target) else spark.read.parquet(target)


def table_exists(spark: SparkSession, path: str) -> bool:
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False


def _data_files(spark: SparkSession, path: str) -> set:
    """Data files under ``path``, hive partition dirs included; entries
    starting with ``_`` or ``.`` (``_lineage``, ``_SUCCESS``, checksums)
    are skipped, as Spark's own file listing does."""
    sc = spark.sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return set()
    files, dirs = set(), [root]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            p = st.getPath()
            if p.getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                dirs.append(p)
            else:
                files.add(p.toString())
    return files


def _file_metrics(df: DataFrame, path: str, files,
                  ts_col: str | None = None) -> DataFrame:
    """Per-file lineage of the parquet ``files`` ``df`` committed under
    ``path``: writer partition id (the ``part-NNNNN`` number), row count,
    on-disk bytes and ts bounds. Reads only ``ts_col`` and the file
    metadata; ``df``'s schema spares the schema-inference job."""
    meta = (df.sparkSession.read.schema(df.schema).option("basePath", path)
            .parquet(*sorted(files)))
    aggs = [F.count("*").alias("rows")]
    if ts_col is not None:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    per_file = meta.groupBy("_metadata.file_path", "_metadata.file_name",
                            "_metadata.file_size").agg(*aggs)
    return per_file.select(
        F.regexp_extract("file_name", r"^part-(\d+)", 1).cast("int")
        .alias("partition_id"),
        "rows",
        F.col("file_size").alias("approx_bytes"),
        *(["min_ts", "max_ts"] if ts_col is not None else []),
    )


def append_stage(
    df: DataFrame,
    path: str,
    ts_col: str | None = None,
    write_lineage: bool = True,
    partition_by=None,
) -> None:
    """Append a stage output + its lineage snapshot. ``partition_by``
    hive-partitions the layout (e.g. by lang or date) so downstream reads
    with a predicate on those columns prune whole directories — asserted in
    tests/test_plans.py::test_partition_pruning.

    ``df`` executes once, for the write. The lineage comes from the files
    this call committed (the listing diff of ``path`` around the write):
    one row per file, ``approx_bytes`` being its committed on-disk size."""
    spark = df.sparkSession
    before = _data_files(spark, path) if write_lineage else set()
    w = df.write.mode("append")
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    w.parquet(path)
    if not write_lineage:
        return
    new = _data_files(spark, path) - before
    if new:
        metrics = _file_metrics(df, path, new, ts_col).withColumn(
            "committed_at", F.lit(int(time.time())).cast("long"))
        metrics.write.mode("append").parquet(f"{path}/_lineage")


def processed_keys(spark: SparkSession, path: str, keys) -> DataFrame | None:
    """Distinct committed keys, or None if nothing committed yet."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if not table_exists(spark, path):
        return None
    return spark.read.parquet(path).select(*keys).distinct()


def resume_transform(
    src: DataFrame,
    keys,
    path: str,
    transform,
    ts_col: str | None = None,
) -> DataFrame:
    """Process only keys not yet committed at ``path``; append; return the
    full committed table. Idempotent: rerun after a kill completes exactly
    the missing keys (exact resume).

    ``transform``: DataFrame → DataFrame, key columns preserved.
    """
    spark = src.sparkSession
    keys = [keys] if isinstance(keys, str) else list(keys)
    done = processed_keys(spark, path, keys)
    remaining = src if done is None else src.join(done, keys, "left_anti")
    # cheap emptiness probe: limit(1) avoids a full count
    if remaining.limit(1).count() > 0:
        append_stage(transform(remaining), path, ts_col=ts_col)
    return spark.read.parquet(path)


def recompute_affected_partitions(
    src: DataFrame,
    late: DataFrame,
    out_path: str,
    partition_col: str,
    transform,
) -> list:
    """Late-data recompute WITHOUT a transactional table (the MERGE-based
    plan stays gated on Iceberg jars): affected hive partitions = distinct
    partition values among the late rows; the transform re-runs on the
    source restricted to those partitions and dynamic partition overwrite
    rewrites ONLY those directories — untouched partitions keep their
    files byte-for-byte (asserted in tests/test_resume.py). Same targeting
    discipline `affected_partitions` provides from lineage, applied at the
    hive-partition level.

    The distinct-partition collect is a driver action over at most
    #partitions values — bounded and intentional (it selects the rewrite
    set). Returns the affected partition values."""
    vals = [r[0] for r in late.select(partition_col).distinct().collect()]
    if not vals:
        return []
    # NULL partition values (__HIVE_DEFAULT_PARTITION__) never match isin()
    # under SQL NULL semantics — target them explicitly instead of silently
    # leaving that partition stale
    non_null = [v for v in vals if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in vals):
        cond = cond | F.col(partition_col).isNull()
    out = transform(src.where(cond))
    (out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(out_path))
    return vals


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/_lineage")


def affected_partitions(
    spark: SparkSession, path: str, late_min_ts, late_max_ts
) -> DataFrame:
    """Late-data targeting: lineage rows whose [min_ts, max_ts] overlaps the
    late-arrival window — the partitions a MERGE/recompute must touch."""
    lin = read_lineage(spark, path)
    return lin.where(
        (F.col("max_ts") >= F.lit(late_min_ts)) & (F.col("min_ts") <= F.lit(late_max_ts))
    )
