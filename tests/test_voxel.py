"""Voxel-mode (per-position) feature maps: the batched maps vs the per-doc
kernels over every ±r window, across adaptive kernel chunks, and
settings validation."""

import numpy as np
import pandas as pd
import pytest

from pyradiomics_spark.config import ExtractionSettings


def _check_windows(out, url, vals, levels, radius, abs_tol=1e-12) -> int:
    """Assert every position's row of ``out`` equals the per-doc kernels
    over its ±radius window of ``vals``/``levels`` (rel 1e-9, abs
    ``abs_tol``); returns the number of feature values checked."""
    from pyradiomics_spark.kernels import (
        firstorder_features, glcm_features, glrlm_features,
        glszm_features, gldm_features, ngtdm_features)

    checked = 0
    for p in range(vals.size):
        lo, hi = max(0, p - radius), min(vals.size, p + radius + 1)
        wv, wl = vals[lo:hi], levels[lo:hi]
        row = out.loc[(url, p)]
        for cls, feats in (
                ("firstorder", firstorder_features(wv, discretized=wl)),
                ("glcm", glcm_features(wl)),
                ("glrlm", glrlm_features(wl)),
                ("glszm", glszm_features(wl)),
                ("ngtdm", ngtdm_features(wl)),
                ("gldm", gldm_features(wl))):
            for f, expect in feats.items():
                got = row[f"{cls}_{f}"]
                if np.isnan(expect):
                    assert np.isnan(got), (url, p, cls, f, got)
                else:
                    assert got == pytest.approx(
                        expect, rel=1e-9, abs=abs_tol), (url, p, cls, f)
                checked += 1
    return checked


def test_voxel_feature_maps_match_per_window_kernels(spark):
    """voxel_feature_maps == the per-doc kernels applied to each ±r window
    of the doc-globally discretized sequence (binImage-once semantics),
    on raw and on z-normalized (``settings.normalize``) intensities."""
    from pyradiomics_spark.functions.intensity import normalize
    from pyradiomics_spark.functions.text import text_to_intensity
    from pyradiomics_spark.kernels import discretize
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    texts = ["aa bbb c dddd ee fff g", "xxxx yy z", "mm mm mm"]
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(len(texts))],
        "warc_ts": pd.to_datetime(["2024-01-01"] * len(texts)),
        "text": texts})
    df = spark.createDataFrame(pdf)
    radius = 1
    for settings in (ExtractionSettings(bin_width=1.0),
                     ExtractionSettings(bin_width=0.25, normalize=True,
                                        normalize_scale=2.0)):
        out = voxel_feature_maps(
            df, keys=("url", "warc_ts"), radius=radius, settings=settings
        ).toPandas().set_index(["url", "pos"]).sort_index()
        checked = 0
        for i, text in enumerate(texts):
            vals = text_to_intensity(text).astype(np.float64)
            if settings.normalize:
                vals = normalize(vals, settings.normalize_scale,
                                 settings.remove_outliers)
            levels = discretize(vals, settings.bin_width)
            checked += _check_windows(out, f"u{i}", vals, levels, radius)
        assert checked > 1000


def test_voxel_feature_maps_across_adaptive_chunks(spark):
    """A doc spanning 128 gray levels (adaptive chunk: 512 windows) and
    700 positions runs through more than one kernel chunk; every window,
    those at the chunk seams included, equals the per-window kernels."""
    from pyradiomics_spark.kernels import discretize
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    lens = np.random.default_rng(3).integers(1, 129, 700)
    lens[:2] = (1, 128)
    df = spark.createDataFrame(pd.DataFrame({
        "url": ["u0"], "warc_ts": pd.to_datetime(["2024-01-01"]),
        "text": [" ".join("a" * n for n in lens)]}))
    out = voxel_feature_maps(
        df, radius=2, settings=ExtractionSettings(bin_width=1.0)
    ).toPandas().set_index(["url", "pos"]).sort_index()
    assert len(out) == lens.size
    vals = lens.astype(np.float64)
    # levels up to 128 make ClusterShade's third-moment terms ~128³, so a
    # value that cancels to zero carries rounding noise of ~1e-12·128³
    assert _check_windows(out, "u0", vals, discretize(vals, 1.0), 2,
                          abs_tol=1e-12 * 128 ** 3) > 50000


def test_voxel_batch_and_start_level_validation():
    from pyradiomics_spark.operators.voxel import voxel_feature_maps

    with pytest.raises(ValueError, match="resegment_range"):
        # raised before the plan is built: voxel maps have no masked windows
        voxel_feature_maps(
            None, settings=ExtractionSettings(resegment_range=(1.0, 5.0)))
    with pytest.raises(ValueError):
        # unbounded start level is an a-trous memory bomb
        ExtractionSettings(wavelet_start_level=40)
    ExtractionSettings(wavelet_start_level=8)  # ok
