"""Pipeline plans: YAML config, point-in-time cuts, resumable runs, CLI."""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.plans.pipeline import (
    FeaturePipeline, settings_from_params, settings_from_yaml, _mini_yaml)
from pyradiomics_spark.sources.pages import pages_pdf, PAGES_SCHEMA


PARAMS_YAML = """\
setting:
  binWidth: 1
  distances: [1, 2]
  gldm_a: 0
imageType:
  original:
  square:
featureClass:
  firstorder:
  glcm:
"""


def test_settings_from_params():
    s = settings_from_params({
        "setting": {"binWidth": 2, "symmetricalGLCM": False},
        "featureClass": {"firstorder": None}})
    assert s.bin_width == 2
    assert not s.symmetrical_glcm
    assert s.feature_classes == ("firstorder",)


def test_settings_reject_malformed():
    """Schema-validation breadth (paramSchema.yaml/schemaFuncs.py analog):
    malformed configs must raise, not silently misbehave."""
    from pyradiomics_spark.config import ExtractionSettings

    with pytest.raises(ValueError):
        ExtractionSettings(distances=())
    with pytest.raises(ValueError):
        ExtractionSettings(distances=(0,))
    with pytest.raises(ValueError):
        ExtractionSettings(distances=(-1, 2))
    with pytest.raises(ValueError):
        ExtractionSettings(distances=(1, 1))  # dup → kernel-path divergence
    with pytest.raises(ValueError):
        ExtractionSettings(distances=(1.5,))
    with pytest.raises(ValueError):
        ExtractionSettings(bin_width=0)
    with pytest.raises(ValueError):
        ExtractionSettings(bin_count=0)
    with pytest.raises(ValueError):
        ExtractionSettings(resegment_mode="bogus")
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("original", "nope"))
    with pytest.raises(ValueError):
        ExtractionSettings(feature_classes=("glcm", "nope"))
    with pytest.raises(TypeError):
        ExtractionSettings.from_dict({"unknown_key": 1})
    with pytest.raises(ValueError):
        ExtractionSettings(wavelet="nope")
    with pytest.raises(ValueError):
        ExtractionSettings(wavelet="db99")
    with pytest.raises(ValueError):
        ExtractionSettings(wavelet_start_level=-1)
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("wavelet-X",))
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("lbp-r0",))
    # review findings: degenerate parameterizations must be rejected, not
    # crash executors / silently produce NaN or OOM-sized filters
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("wavelet-L0",))
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("log-sigma-0",))
    with pytest.raises(ValueError):
        ExtractionSettings(image_types=("wavelet-H30",))
    with pytest.raises(ValueError):
        ExtractionSettings(weighting_norm="euclidian")  # typo must not
        # silently fall into the exp(-d²) branch
    # valid configs still accepted
    assert ExtractionSettings(distances=(1, 3)).distances == (1, 3)
    assert ExtractionSettings(weighting_norm="no_weighting") is not None
    ok = ExtractionSettings(
        wavelet="db4", wavelet_start_level=1,
        image_types=("wavelet-H3", "log-sigma-3.5", "lbp-r4"))
    assert ok.wavelet == "db4"


def test_settings_from_params_wavelet_keys():
    from pyradiomics_spark.plans.pipeline import settings_from_params

    s = settings_from_params({
        "setting": {"wavelet": "db2", "startLevel": 1, "binWidth": 1},
        "imageType": {"wavelet-L2": None, "original": None}})
    assert s.wavelet == "db2"
    assert s.wavelet_start_level == 1
    assert s.image_types == ("wavelet-L2", "original")


def test_yaml_loading(tmp_path):
    f = tmp_path / "params.yaml"
    f.write_text(PARAMS_YAML)
    s = settings_from_yaml(str(f))
    assert s.bin_width == 1
    assert s.distances == (1, 2)
    assert s.image_types == ("original", "square")
    assert s.feature_classes == ("firstorder", "glcm")


def test_mini_yaml_parser(tmp_path):
    f = tmp_path / "p.yaml"
    f.write_text("a:\n  b: 1\n  c: [2, 3]\n  d: true\n  e: x\n")
    d = _mini_yaml(str(f))
    assert d == {"a": {"b": 1, "c": [2, 3], "d": True, "e": "x"}}


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(8), schema=PAGES_SCHEMA).cache()


def test_run_with_cuts_zero_leakage(spark, pages):
    from pyradiomics_spark.operators.leakage import assert_no_leakage

    pipe = FeaturePipeline(ExtractionSettings(
        bin_width=1.0, feature_classes=("firstorder",)))
    # cuts: one per url at its max warc_ts + 1h, one before its min (no match)
    bounds = pages.groupBy("url").agg(
        F.max("warc_ts").alias("mx"), F.min("warc_ts").alias("mn"))
    cuts = bounds.select(
        "url", (F.col("mx") + F.expr("INTERVAL 1 HOUR")).alias("cut_ts")
    ).unionByName(bounds.select(
        "url", (F.col("mn") - F.expr("INTERVAL 1 HOUR")).alias("cut_ts")))
    out = pipe.run_with_cuts(pages, cuts)
    pdf = out.toPandas()
    assert len(pdf) == cuts.count()
    # after-max cuts matched; before-min cuts unmatched
    assert pdf["warc_ts"].notna().sum() == bounds.count()
    assert_no_leakage(out, "cut_ts", "warc_ts")


def test_run_resumable(spark, pages):
    d = tempfile.mkdtemp(prefix="pipe_")
    try:
        pipe = FeaturePipeline(ExtractionSettings(
            bin_width=1.0, feature_classes=("firstorder",)))
        full = pipe.run_resumable(pages, f"{d}/feats")
        n1 = full.count()
        again = pipe.run_resumable(pages, f"{d}/feats")
        assert again.count() == n1  # idempotent
        assert n1 == pages.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cli_end_to_end(spark, pages, tmp_path):
    from pyradiomics_spark.cli import main

    inp = str(tmp_path / "pages")
    outp = str(tmp_path / "feats")
    pages.write.parquet(inp)
    params = tmp_path / "params.yaml"
    params.write_text(PARAMS_YAML)
    rc = main([
        "--input", inp, "--output", outp, "--params", str(params),
        "--keys", "url,warc_ts"])
    assert rc == 0
    out = spark.read.parquet(outp)
    assert out.count() == pages.count() * 2  # two image types
    assert "glcm_Contrast" in out.columns


def test_cli_voxel_mode_and_csv(spark, pages, tmp_path):
    from pyradiomics_spark.cli import main

    inp = str(tmp_path / "pages_v")
    outp = str(tmp_path / "voxmaps")
    pages.limit(3).write.parquet(inp)
    rc = main([
        "--input", inp, "--output", outp, "--mode", "voxel",
        "--radius", "1", "--format", "csv", "--keys", "url,warc_ts"])
    assert rc == 0
    out = spark.read.option("header", True).csv(outp)
    assert "firstorder_Entropy" in out.columns and "pos" in out.columns
    n_pages = spark.read.parquet(inp).count()
    assert out.count() > n_pages  # one row per token position


def test_cli_skip_nans_long_format(spark, pages, tmp_path):
    """--skip-nans emits the reference CLI's long format with NaN features
    dropped (scripts/__init__.py:470-477 analog)."""
    from pyspark.sql import functions as F

    from pyradiomics_spark.cli import main

    inp = str(tmp_path / "pages_sn")
    outp = str(tmp_path / "long")
    pages.limit(5).write.parquet(inp)
    rc = main([
        "--input", inp, "--output", outp, "--skip-nans",
        "--keys", "url,warc_ts"])
    assert rc == 0
    out = spark.read.parquet(outp)
    assert set(out.columns) == {"url", "warc_ts", "image_type",
                                "feature_name", "value"}
    assert out.count() > 0
    assert out.where(F.isnan("value")).count() == 0


def test_full_pipeline_demo(spark, pages, tmp_path):
    from pyradiomics_spark.plans.demo import full_pipeline

    m = full_pipeline(pages, out_path=str(tmp_path / "out"))
    assert m["n_pages"] == pages.count()
    assert m["n_cuts"] > 0
    assert m["n_sessions"] >= pages.select("url").distinct().count()
    assert m["leak_violations"] == 0


def test_full_pipeline_releases_its_caches(spark, pages):
    """full_pipeline(out_path=None) caches the scan and the served cuts;
    both are released on return and when a step raises, and a caller's
    own cache of ``pages`` survives. RDD ids are compared as sets: the
    ContextCleaner may sweep an earlier test's leaked blocks mid-call,
    which lowers a plain count."""
    from pyradiomics_spark.plans.demo import full_pipeline

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    pages.count()   # the fixture's own cache, materialized up front
    base = persistent()
    m = full_pipeline(pages, out_path=None)
    assert m["n_cuts"] > 0 and m["leak_violations"] == 0
    assert persistent() - base == set()
    assert pages.is_cached and pages.storageLevel.useMemory

    uncached = spark.createDataFrame(pages_pdf(3), schema=PAGES_SCHEMA)
    m = full_pipeline(uncached, out_path=None)
    assert m["n_pages"] == uncached.count()
    assert persistent() - base == set()
    with pytest.raises(Exception):
        full_pipeline(uncached, out_path=None, cut_interval="not an interval")
    assert persistent() - base == set()


def test_run_extracts_text_from_html_when_missing(spark, pages):
    pipe = FeaturePipeline(ExtractionSettings(
        bin_width=1.0, feature_classes=("firstorder",)))
    html_only = pages.drop("text")
    out = pipe.run(html_only).toPandas()
    ref = pipe.run(pages).toPandas()
    key = ["url", "warc_ts"]
    a = out.sort_values(key).reset_index(drop=True)
    b = ref.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)  # byte-identical extraction ⇒ equal


def test_cli_curate_mode(spark, tmp_path, capsys):
    import json

    from pyradiomics_spark.cli import main

    rows = [(i, f"distinct document {i} alpha{i} beta{i} gamma{i} "
                f"delta{i} epsilon{i} zeta{i} eta{i}") for i in range(40)]
    rows += [(100 + k, rows[0][1]) for k in range(2)]  # exact dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp = str(tmp_path / "docs")
    outp = str(tmp_path / "curated")
    docs.write.parquet(inp)
    rc = main(["--input", inp, "--output", outp,
               "--mode", "curate", "--keys", "doc_id"])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["n_raw"] == 42
    assert metrics["n_after_exact_dedup"] == 40
    assert metrics["cross_split_contamination"] == 0
    packed = spark.read.parquet(f"{outp}/train_packed")
    assert packed.count() == metrics["n_train_docs"] > 0
