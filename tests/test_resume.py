"""Checkpoint/resume: a killed job rerun converges to the identical final
table (SURVEY.md §5 resume test)."""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.sources.sinks import (
    append_stage, processed_keys, resume_transform, read_lineage,
    affected_partitions, table_exists)


@pytest.fixture()
def tmppath():
    d = tempfile.mkdtemp(prefix="ckpt_")
    yield f"{d}/stage1"
    shutil.rmtree(d, ignore_errors=True)


def _src(spark, n=20):
    pdf = pd.DataFrame({
        "k": range(n),
        "ts": pd.to_datetime([f"2024-01-{1 + i % 9:02d}" for i in range(n)]),
        "x": [float(i) for i in range(n)]})
    return spark.createDataFrame(pdf)


def _transform(df):
    return df.withColumn("y", F.col("x") * 2)


def test_resume_completes_partial_run(spark, tmppath):
    src = _src(spark)
    # simulate a job killed after committing keys 0..9
    append_stage(_transform(src.where(F.col("k") < 10)), tmppath, ts_col="ts")
    assert processed_keys(spark, tmppath, "k").count() == 10

    final = resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    out = final.toPandas().sort_values("k").reset_index(drop=True)
    assert out["k"].tolist() == list(range(20))
    assert (out["y"] == out["x"] * 2).all()


def test_resume_is_idempotent(spark, tmppath):
    src = _src(spark)
    t1 = resume_transform(src, "k", tmppath, _transform, ts_col="ts").toPandas()
    t2 = resume_transform(src, "k", tmppath, _transform, ts_col="ts").toPandas()
    assert len(t1) == len(t2) == 20
    a = t1.sort_values("k").reset_index(drop=True)
    b = t2.sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_lineage_written_and_targeting(spark, tmppath):
    src = _src(spark)
    resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    lin = read_lineage(spark, tmppath).toPandas()
    assert lin["rows"].sum() == 20
    assert {"partition_id", "rows", "approx_bytes", "min_ts", "max_ts",
            "committed_at"} <= set(lin.columns)
    hit = affected_partitions(
        spark, tmppath, pd.Timestamp("2024-01-05"), pd.Timestamp("2024-01-06"))
    assert hit.count() >= 1
    miss = affected_partitions(
        spark, tmppath, pd.Timestamp("2030-01-01"), pd.Timestamp("2030-01-02"))
    assert miss.count() == 0


def test_lineage_hidden_from_data_reads(spark, tmppath):
    src = _src(spark)
    resume_transform(src, "k", tmppath, _transform, ts_col="ts")
    df = spark.read.parquet(tmppath)
    assert "partition_id" not in df.columns  # _lineage dir is invisible
    assert df.count() == 20


def test_table_exists(spark, tmppath):
    assert not table_exists(spark, tmppath)
    append_stage(_transform(_src(spark, 3)), tmppath)
    assert table_exists(spark, tmppath)


def test_recompute_affected_partitions_only(spark, tmp_path):
    """Late-data recompute rewrites ONLY the affected hive partitions:
    values update for the late day, untouched days keep their files
    byte-for-byte, final table == full recompute."""
    import os
    from pyspark.sql import functions as F
    from pyradiomics_spark.sources.sinks import recompute_affected_partitions

    pdf = pd.DataFrame({
        "day": ["2024-01-01"] * 3 + ["2024-01-02"] * 3,
        "v": [1.0, 2.0, 3.0, 10.0, 20.0, 30.0]})
    src = spark.createDataFrame(pdf)

    def daily(df):
        return df.groupBy("day").agg(
            F.sum("v").alias("sum_v"), F.count("*").alias("n"))

    out = str(tmp_path / "daily")
    daily(src).write.partitionBy("day").parquet(out)

    def files_of(day):
        d = f"{out}/day={day}"
        return sorted((f, os.path.getmtime(f"{d}/{f}")) for f in os.listdir(d))

    before_day1 = files_of("2024-01-01")

    late = spark.createDataFrame(
        pd.DataFrame({"day": ["2024-01-02"], "v": [100.0]}))
    src2 = src.unionByName(late)
    touched = recompute_affected_partitions(src2, late, out, "day", daily)
    assert touched == ["2024-01-02"]

    # hive partition inference types 'day' as DATE on read-back
    got = (spark.read.parquet(out)
           .withColumn("day", F.col("day").cast("string"))
           .toPandas().set_index("day"))
    assert got.loc["2024-01-02", "sum_v"] == 160.0
    assert got.loc["2024-01-02", "n"] == 4
    assert got.loc["2024-01-01", "sum_v"] == 6.0
    # untouched partition: identical file listing + mtimes
    assert files_of("2024-01-01") == before_day1
    # no-op when nothing is late
    assert recompute_affected_partitions(
        src2, late.where("v < 0"), out, "day", daily) == []


def _part_files(root):
    """(partition id, rows, bytes, min ts, max ts) of every committed data
    file under ``root``, read straight off the filesystem."""
    import os

    import pyarrow.parquet as pq

    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.startswith("part-"):
                t = pq.read_table(f"{d}/{f}").to_pandas()
                out.append((int(f[5:10]), len(t),
                            os.path.getsize(f"{d}/{f}"),
                            t["ts"].min() if len(t) else None,
                            t["ts"].max() if len(t) else None))
    return sorted(out)


def _lineage_rows(spark, path):
    lin = read_lineage(spark, path).toPandas()
    return sorted(zip(lin.partition_id, lin.rows, lin.approx_bytes,
                      lin.min_ts, lin.max_ts))


def test_append_stage_runs_source_once(spark, tmppath):
    """The write and the lineage together execute the stage DataFrame
    once: a pass-through Python stage counts every row it sees."""
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            seen.add(len(b))
            yield b

    src = _src(spark)
    append_stage(src.mapInPandas(count_rows, schema=src.schema), tmppath,
                 ts_col="ts")
    assert seen.value == 20
    assert read_lineage(spark, tmppath).agg(F.sum("rows")).first()[0] == 20


def test_lineage_maps_to_committed_files(spark, tmppath):
    append_stage(_transform(_src(spark).repartition(3)), tmppath, ts_col="ts")
    files = _part_files(tmppath)
    assert len(files) >= 2
    assert _lineage_rows(spark, tmppath) == [
        f for f in files if f[1] > 0]
    lin = read_lineage(spark, tmppath)
    assert lin.columns == ["partition_id", "rows", "approx_bytes", "min_ts",
                           "max_ts", "committed_at"]


def test_lineage_second_append_covers_only_its_files(spark, tmppath):
    append_stage(_transform(_src(spark).repartition(2)), tmppath, ts_col="ts")
    first = _part_files(tmppath)
    append_stage(_transform(_src(spark, 7).repartition(3)), tmppath,
                 ts_col="ts")
    both = _part_files(tmppath)
    assert len(both) > len(first)
    # a re-listed first commit would show up twice
    lin = _lineage_rows(spark, tmppath)
    assert lin == [f for f in both if f[1] > 0]
    assert sum(r[1] for r in lin) == 27


def test_lineage_partition_by(spark, tmppath):
    src = _transform(_src(spark)).withColumn("day", F.dayofmonth("ts"))
    append_stage(src.repartition(2), tmppath, ts_col="ts", partition_by="day")
    files = _part_files(tmppath)
    assert len(files) >= 9   # every day dir holds at least one file
    assert _lineage_rows(spark, tmppath) == [f for f in files if f[1] > 0]
    assert spark.read.parquet(tmppath).count() == 20
