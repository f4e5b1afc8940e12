"""End-to-end extraction over Spark: the mapInArrow operators
(extract_features, extract_matrices, voxel_feature_maps) vs driver-side
per-doc kernel calls on the same docs (golden cross-check)."""

import numpy as np
import pandas as pd
import pytest

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.text import text_to_intensity
from pyradiomics_spark.kernels import discretize, firstorder_features, glcm_features
from pyradiomics_spark.operators.features import (
    extract_features, melt_features, _extract_one, feature_columns)
from pyradiomics_spark.sources.pages import pages_pdf, pages_df, PAGES_SCHEMA


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(pages_pdf(12), schema=PAGES_SCHEMA).cache()


def test_extract_matches_local_kernels(spark, pages):
    out = extract_features(pages, settings=ExtractionSettings()).toPandas()
    src = pages_pdf(12)
    assert len(out) == len(src)  # one image type
    merged = src.merge(out, on=["url", "warc_ts"], how="inner")
    assert len(merged) == len(src)
    s = ExtractionSettings()
    for _, r in merged.head(20).iterrows():
        vals = text_to_intensity(r["text"]).astype(float)
        fo = firstorder_features(vals, s.bin_width)
        assert r["firstorder_Mean"] == pytest.approx(fo["Mean"])
        assert r["firstorder_Entropy"] == pytest.approx(fo["Entropy"])
        gl = glcm_features(discretize(vals, 25))
        assert r["glcm_Contrast"] == pytest.approx(gl["Contrast"])
        assert r["glcm_MCC"] == pytest.approx(gl["MCC"])


def test_extract_multiple_image_types(spark, pages):
    s = ExtractionSettings(image_types=("original", "square", "logarithm"))
    out = extract_features(pages, settings=s)
    cnt = out.groupBy("image_type").count().toPandas()
    assert set(cnt["image_type"]) == {"original", "square", "logarithm"}
    assert cnt["count"].nunique() == 1


def test_extract_empty_text_yields_nan(spark):
    pdf = pd.DataFrame({
        "url": ["u1"], "warc_ts": [pd.Timestamp("2024-01-01")],
        "html": [b""], "text": [""], "lang": ["en"]})
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    out = extract_features(df).toPandas()
    assert out["diag_n_tokens"].iloc[0] == 0
    assert np.isnan(out["firstorder_Mean"].iloc[0])


def test_melt_features(spark, pages):
    wide = extract_features(pages.limit(2))
    long = melt_features(wide).toPandas()
    ncols = len(feature_columns(ExtractionSettings()))
    assert len(long) == 2 * ncols
    assert set(long.columns) == {"url", "warc_ts", "image_type", "feature_name", "value"}


def test_distributed_pages_generator(spark):
    df = pages_df(spark, n_urls=30, partitions=4)
    pdf = df.toPandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    loc = pages_pdf(30).sort_values(["url", "warc_ts"]).reset_index(drop=True)
    assert len(pdf) == len(loc)
    assert (pdf["text"] == loc["text"]).all()


def test_extraction_plan_is_shuffle_free(spark, pages):
    out = extract_features(pages)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle for per-doc extraction


def _one_batch(spark, rows):
    """(url, text) rows hash-partitioned into one partition out of
    defaultParallelism: the operators see them in ONE Arrow batch, and
    extract_features' fan-out leaves the split count alone."""
    from pyspark.sql import functions as F

    slots = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(rows, "url string, text string")
    return df.withColumn("g", F.lit(0)).repartition(slots, "g").drop("g")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_arrow_suspect_and_null_fallback(spark):
    """extract_features must agree with the per-doc kernels on every
    feature column when a batch mixes clean docs with unicode-whitespace
    suspects (decoded per doc) and nulls (zero-length segments)."""
    rows = [("u1", "normal doc text here with several words"),
            ("u2", "nbsp\xa0joined words plus more"),
            ("u3", None),
            ("u4", "中文 文本 测试 ok fine"),
            ("u5", "clean words beside the suspect in one batch")]
    st = ExtractionSettings(bin_width=1.0)
    out = extract_features(_one_batch(spark, rows), keys=("url",),
                           settings=st).toPandas().set_index("url")
    assert len(out) == len(rows)
    checked = 0
    for u, t in rows:
        feats = _extract_one(text_to_intensity(t or "").astype(float), st)
        assert out.loc[u, "diag_n_tokens"] == feats["diag_n_tokens"], u
        for c in feature_columns(st):
            want = feats.get(f"original:{c}", float("nan"))
            got = out.loc[u, c]
            if np.isnan(want):
                assert np.isnan(got), (u, c)
            else:
                assert got == pytest.approx(want, rel=1e-9, abs=1e-12), (u, c)
            checked += 1
    assert checked == len(rows) * len(feature_columns(st))


_SETTINGS = {
    "default": ExtractionSettings(bin_width=1.0),
    "bpe_regex": ExtractionSettings(bin_width=1.0, tokenizer="bpe_regex"),
    "hash_bucket": ExtractionSettings(bin_width=1.0,
                                      intensity_mode="hash_bucket"),
}

_MIXED_ROWS = [("u1", "aa bbb c dddd ee fff aa bbb"),
               ("u2", "nbsp\xa0joined words plus more extra tokens"),
               ("u3", "dash \u2013 and em\u2014dash, quoted \u201cwords\u201d"),
               ("u4", None),
               ("u5", ""),
               ("u6", "中文 文本 测试。 ok fine again")]


_CELL_KEY = ["url", "matrix", "i", "j", "angle"]


def _per_doc_cells(docs, st) -> pd.DataFrame:
    """The per-doc reference of extract_matrices: ``_matrix_arrays`` over
    each (url, levels, valid mask) of ``docs``, sorted by _CELL_KEY."""
    from pyradiomics_spark.operators.matrices import (
        MATRIX_CLASSES, _matrix_arrays)

    parts = [pd.DataFrame({"url": u, "matrix": cls, "i": iv, "j": jv,
                           "value": vv, "angle": av.astype(np.int32)})
             for u, levels, valid in docs
             for cls, iv, jv, vv, av in _matrix_arrays(
                 levels, st, MATRIX_CLASSES, valid)]
    return (pd.concat(parts).sort_values(_CELL_KEY)
            .reset_index(drop=True))


@pytest.mark.parametrize("name", list(_SETTINGS))
def test_matrices_and_voxel_match_per_doc(spark, name):
    """extract_matrices and voxel_feature_maps run one mapInArrow arm for
    every tokenizer / intensity setting and equal the per-doc kernels over
    a batch mixing unicode-whitespace, typographic-dash, CJK, null and
    empty docs."""
    from pyradiomics_spark.kernels import (
        discretize, firstorder_features, glcm_features, gldm_features,
        glrlm_features, glszm_features, ngtdm_features)
    from pyradiomics_spark.operators.matrices import extract_matrices
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    st = _SETTINGS[name]
    df = _one_batch(spark, _MIXED_ROWS)
    vals = [text_to_intensity(t or "", st.tokenizer, st.intensity_mode,
                              st.intensity_buckets).astype(np.float64)
            for _, t in _MIXED_ROWS]
    urls = np.array([u for u, _ in _MIXED_ROWS])

    mat = extract_matrices(df, keys=("url",), settings=st)
    vox = voxel_feature_maps(df, keys=("url",), radius=1, settings=st)
    feat = extract_features(df, keys=("url",), settings=st)
    for plan in (_plan(mat), _plan(vox), _plan(feat)):
        assert "MapInArrow" in plan and "MapInPandas" not in plan

    want = _per_doc_cells(
        [(u, discretize(v, st.bin_width), None) for u, v in zip(urls, vals)
         if v.size], st)
    got = mat.toPandas().sort_values(_CELL_KEY).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)

    out = vox.toPandas().set_index(["url", "pos"]).sort_index()
    assert len(out) == sum(v.size for v in vals)
    checked = 0
    for u, v in zip(urls, vals):
        if v.size == 0:
            continue
        levels = discretize(v, st.bin_width)
        for p in range(v.size):
            lo, hi = max(0, p - 1), min(v.size, p + 2)
            wv, wl = v[lo:hi], levels[lo:hi]
            row = out.loc[(u, p)]
            for cls, feats in (("firstorder", firstorder_features(wv, discretized=wl)),
                               ("glcm", glcm_features(wl)),
                               ("glrlm", glrlm_features(wl)),
                               ("glszm", glszm_features(wl)),
                               ("ngtdm", ngtdm_features(wl)),
                               ("gldm", gldm_features(wl))):
                for f, expect in feats.items():
                    g = row[f"{cls}_{f}"]
                    if np.isnan(expect):
                        assert np.isnan(g), (u, p, cls, f, g)
                    else:
                        assert g == pytest.approx(
                            expect, rel=1e-9, abs=1e-12), (u, p, cls, f)
                    checked += 1
    assert checked > 1000


def test_matrices_follow_normalize_and_resegment(spark):
    """extract_matrices builds its cells from the levels and ROI mask the
    features use: z-normalized intensities under ``normalize``, the
    resegmentation mask under ``resegment_range``, and no cells for a doc
    over the gray-level cap."""
    from pyradiomics_spark.functions.intensity import normalize
    from pyradiomics_spark.operators.matrices import extract_matrices

    x = np.array([1, 2, 5, 3, 3, 8], dtype=np.float64)
    rows = [("u1", " ".join("a" * int(n) for n in x)),
            ("u2", "a " + "b" * 300)]
    df = _one_batch(spark, rows)
    inside = (x >= 2) & (x <= 4)
    masked = np.zeros(x.size, dtype=np.int64)
    masked[inside] = discretize(x[inside], 1.0)
    cases = [
        (ExtractionSettings(bin_width=1.0),
         [("u1", discretize(x, 1.0), None)]),
        (ExtractionSettings(bin_width=0.5, normalize=True),
         [("u1", discretize(normalize(x, 1.0, None), 0.5), None),
          ("u2", discretize(normalize(np.array([1.0, 300.0]), 1.0, None),
                            0.5), None)]),
        (ExtractionSettings(bin_width=1.0, resegment_range=(2, 4)),
         [("u1", masked, inside)]),
    ]
    for st, docs in cases:
        got = extract_matrices(df, keys=("url",), settings=st).toPandas()
        got = got.sort_values(_CELL_KEY).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, _per_doc_cells(docs, st))


def test_extraction_stage_fans_out_a_single_split(spark):
    """All three extraction operators run their kernel stage on
    defaultParallelism partitions when the input has one split."""
    from pyradiomics_spark.operators.matrices import extract_matrices
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    slots = spark.sparkContext.defaultParallelism
    df = spark.createDataFrame(
        [(f"u{i}", "aa bbb c dddd") for i in range(8)],
        "url string, text string").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    for out in (extract_features(df, keys=("url",)),
                voxel_feature_maps(df, keys=("url",)),
                extract_matrices(df, keys=("url",))):
        assert out.rdd.getNumPartitions() == slots


def test_pivot_wide_counts_and_fill(spark):
    from pyspark.sql import functions as F

    from pyradiomics_spark.operators.features import pivot_wide

    df = spark.createDataFrame(
        [("s1", "en", 10), ("s1", "en", 20), ("s1", "de", 5),
         ("s2", "en", 7)],
        ["source", "lang", "n"])
    out = pivot_wide(df, ("source",), "lang", "n",
                     values=("de", "en", "zh"), agg="sum",
                     fill_value=0, prefix="sum_")
    # conditional-agg form => ONE exchange (native pivot plans two, and
    # valueless pivot adds a hidden distinct+collect pre-job); grab the
    # plan before collect() so AQE doesn't print initial+final twice
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    got = {r.source: (r.sum_de, r.sum_en, r.sum_zh) for r in out.collect()}
    assert got == {"s1": (5, 30, 0), "s2": (0, 7, 0)}
    # out-of-domain pivot values are dropped, not smuggled in
    assert set(out.columns) == {"source", "sum_de", "sum_en", "sum_zh"}

    avg = pivot_wide(df, ("source",), "lang", "n", values=("en",),
                     agg="avg")
    assert {r.source: r.en for r in avg.collect()} == {"s1": 15.0, "s2": 7.0}

    import pytest as _pt
    with _pt.raises(ValueError, match="agg"):
        pivot_wide(df, ("source",), "lang", "n", values=("en",), agg="p99")
    with _pt.raises(ValueError, match="values"):
        pivot_wide(df, ("source",), "lang", "n", values=())
