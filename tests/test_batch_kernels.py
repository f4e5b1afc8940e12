"""Batched kernels must match the per-doc kernels to 1e-9 (same formulas,
different vectorization) — including NaN patterns on edge docs."""

import numpy as np
import pandas as pd
import pytest

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.operators.features import (
    _extract_from_ragged, _extract_one, feature_columns)
from pyradiomics_spark.functions.text import arrow_intensity, text_to_intensity


def _extract_batch(texts, settings: ExtractionSettings,
                   image_type: str = "original") -> dict:
    """``extract_features``' decode + kernel stage for a list of docs:
    {column: (B,) array} including diagnostics."""
    import pyarrow as pa

    r0 = arrow_intensity(pa.array(texts, type=pa.string()), settings)
    return _extract_from_ragged(r0, settings, image_type)


def _texts():
    base = pd.read_parquet("tests/goldens/fixture_pages.parquet")
    return base["text"].tolist()


@pytest.mark.parametrize("settings", [
    ExtractionSettings(bin_width=1.0),
    ExtractionSettings(bin_width=2.0, gldm_a=1.0),
    ExtractionSettings(bin_width=1.0, voxel_array_shift=5.0),
    ExtractionSettings(bin_width=25.0),  # everything collapses to 1 level
    # ---- round-2 widened envelope ----
    ExtractionSettings(bin_width=0.5, normalize=True, remove_outliers=3.0),
    ExtractionSettings(bin_width=1.5),                 # fractional FBW
    ExtractionSettings(bin_count=8),                   # FBN mode
    ExtractionSettings(bin_count=3),
    ExtractionSettings(bin_width=1.0, resegment_range=(2.0, 9.0)),
    ExtractionSettings(bin_width=1.0, resegment_range=(-1.0, 1.0),
                       resegment_mode="sigma"),
    ExtractionSettings(bin_width=1.0, resegment_range=(0.2, 0.9),
                       resegment_mode="relative"),
    ExtractionSettings(bin_width=1.0, symmetrical_glcm=False),
    ExtractionSettings(bin_width=1.0, distances=(1, 2),
                       weighting_norm="euclidean"),
    ExtractionSettings(bin_width=1.0, distances=(1, 3),
                       weighting_norm="no_weighting"),
    ExtractionSettings(bin_width=0.75, normalize=True, normalize_scale=100.0,
                       resegment_range=(-2.0, 2.0), resegment_mode="sigma"),
], ids=["bw1", "bw2_alpha1", "shift5", "bw25_flat",
        "norm_clamp", "fbw_frac", "fbn8", "fbn3", "reseg_abs", "reseg_sigma",
        "reseg_rel", "asym_glcm", "weight_euclid", "weight_none",
        "norm_scale_reseg"])
def test_batch_matches_per_doc(settings):
    texts = _texts()
    batch = _extract_batch(texts, settings)
    fcols = feature_columns(settings)

    for b, t in enumerate(texts):
        vals = text_to_intensity(t or "").astype(np.float64)
        one = _extract_one(vals, settings)
        assert batch["diag_n_tokens"][b] == one["diag_n_tokens"]
        for c in fcols:
            expect = one.get(f"original:{c}", float("nan"))
            got = float(batch[c][b])
            if np.isnan(expect):
                assert np.isnan(got), (b, c, got)
            else:
                assert got == pytest.approx(expect, rel=1e-9, abs=1e-12), (b, c)


def test_batch_random_docs(rng):
    # random token streams incl. repeated tokens / tiny docs
    vocab = ["a", "bb", "ccc", "dddd", "eeeee", "ffffff"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(1, 60)))
        for _ in range(120)
    ] + ["", "x", "yy yy yy"]
    settings = ExtractionSettings(bin_width=1.0)
    batch = _extract_batch(texts, settings)
    fcols = feature_columns(settings)
    for b, t in enumerate(texts):
        vals = text_to_intensity(t or "").astype(np.float64)
        one = _extract_one(vals, settings)
        for c in fcols:
            expect = one.get(f"original:{c}", float("nan"))
            got = float(batch[c][b])
            if np.isnan(expect):
                assert np.isnan(got), (b, c, got, t)
            else:
                assert got == pytest.approx(expect, rel=1e-9, abs=1e-12), (b, c, t)


def test_spark_batched_equals_golden(spark):
    """End-to-end: the mapInArrow batched path reproduces the committed
    goldens (generated by the per-doc kernels)."""
    from pyradiomics_spark.operators.features import extract_features

    golden = pd.read_parquet("tests/goldens/golden_doc_plain.parquet")
    pdf = pd.read_parquet("tests/goldens/fixture_pages.parquet")
    df = spark.createDataFrame(pdf)
    settings = ExtractionSettings(bin_width=1.0)
    got = extract_features(df, keys=("url", "warc_ts"), settings=settings).toPandas()
    key = ["url", "warc_ts", "image_type"]
    g = golden.sort_values(key).reset_index(drop=True)
    o = got[golden.columns].sort_values(key).reset_index(drop=True)
    num = [c for c in golden.columns if c not in key]
    gv = g[num].to_numpy(float)
    ov = o[num].to_numpy(float)
    ok = np.isclose(gv, ov, rtol=1e-9, atol=1e-12) | (np.isnan(gv) & np.isnan(ov))
    assert ok.all(), [(num[c]) for _, c in np.argwhere(~ok)[:5]]


def test_gray_level_cap_guard():
    """Web-scale garbage guard: a doc with one enormous token under FBW
    gets NaN features (both paths identically) instead of allocating a
    G×G texture grid; neighboring docs in the same batch are unaffected."""
    texts = ["aa bbb cccc", "x " + "q" * 9999, "mm nn mm"]
    settings = ExtractionSettings(bin_width=1.0)
    batch = _extract_batch(texts, settings)
    fcols = feature_columns(settings)
    for b, t in enumerate(texts):
        one = _extract_one(text_to_intensity(t).astype(float), settings)
        for c in fcols:
            e = one.get(f"original:{c}", float("nan"))
            g = float(batch[c][b])
            if np.isnan(e):
                assert np.isnan(g), (b, c, g)
            else:
                assert g == pytest.approx(e, rel=1e-9, abs=1e-12), (b, c)
    assert np.isnan(float(batch["glcm_Contrast"][1]))
    assert not np.isnan(float(batch["glcm_Contrast"][0]))
    assert batch["diag_n_valid"][1] == 2  # diagnostics keep the real count
    # a raised cap restores extraction via the compacted per-doc kernels
    # (the batched grid is batch_docs×G² — raising the cap is a deliberate
    # memory decision, so the assertion here uses the per-doc path)
    wide = ExtractionSettings(bin_width=1.0, max_gray_levels=20000)
    one = _extract_one(text_to_intensity(texts[1]).astype(float), wide)
    assert not np.isnan(one["original:glcm_Contrast"])


def test_flat_after_transform_moment_parity():
    """Docs constant AFTER an irrational transform: both kernels must take
    the deterministic flat fixup (0.0) instead of ±1.0 FP-residue noise —
    review-found divergence where only one path zeroed the moments."""
    texts = ["yy yy yy", "yy yy yy yy yy", "zzzz zzzz zzzz zzzz zzzz zzzz zzzz"]
    for settings in (
        ExtractionSettings(bin_count=7, image_types=("square",)),
        ExtractionSettings(bin_width=0.5, wavelet="db3",
                           image_types=("wavelet-L2",)),
    ):
        it = settings.image_types[0]
        batch = _extract_batch(texts, settings, image_type=it)
        for b, t in enumerate(texts):
            one = _extract_one(text_to_intensity(t).astype(float), settings)
            for c in ("firstorder_Skewness", "firstorder_Kurtosis",
                      "firstorder_Variance"):
                e = one[f"{it}:{c}"]
                g = float(batch[c][b])
                assert g == 0.0 and e == 0.0, (it, c, b, g, e)


def test_batch_matches_per_doc_parameterized_types():
    """Round-2: parameterized image-type names (wavelet family/level from
    settings, LoG sigma / LBP radius from the name) run BATCHED and match
    the per-doc path."""
    settings = ExtractionSettings(
        bin_width=0.5, wavelet="db3", wavelet_start_level=1,
        image_types=("wavelet-L", "wavelet-H3", "log-sigma-3.5", "lbp-r3"))
    texts = _texts()[:30]
    fcols = feature_columns(settings)
    for it in settings.image_types:
        batch = _extract_batch(texts, settings, image_type=it)
        for b, t in enumerate(texts):
            vals = text_to_intensity(t or "").astype(np.float64)
            one = _extract_one(vals, settings)
            for c in fcols:
                expect = one.get(f"{it}:{c}", float("nan"))
                got = float(batch[c][b])
                if np.isnan(expect):
                    assert np.isnan(got), (it, b, c, got)
                else:
                    assert got == pytest.approx(expect, rel=1e-9, abs=1e-12), (it, b, c)


def test_batch_matches_per_doc_wavelet_log():
    """Round-2: wavelet/LoG image types run BATCHED and must match the
    per-doc kernels including the fractional discretize that follows."""
    settings = ExtractionSettings(
        bin_width=0.5,
        image_types=("wavelet-L", "wavelet-H", "log-sigma-2"))
    texts = _texts()
    fcols = feature_columns(settings)
    for it in settings.image_types:
        batch = _extract_batch(texts, settings, image_type=it)
        for b, t in enumerate(texts):
            vals = text_to_intensity(t or "").astype(np.float64)
            one = _extract_one(vals, settings)
            for c in fcols:
                expect = one.get(f"{it}:{c}", float("nan"))
                got = float(batch[c][b])
                if np.isnan(expect):
                    assert np.isnan(got), (it, b, c, got)
                else:
                    assert got == pytest.approx(expect, rel=1e-9, abs=1e-12), (it, b, c)


@pytest.mark.parametrize("it", [
    "square", "squareroot", "logarithm", "exponential", "gradient",
    "wavelet-L", "wavelet-H", "wavelet-L2", "wavelet-H2", "log-sigma-2",
    "lbp-r1", "lbp-r2"])
def test_batch_transforms_match_per_doc(it, rng):
    from pyradiomics_spark.kernels.batch import Ragged, transform_batch
    from pyradiomics_spark.functions.intensity import IMAGE_TRANSFORMS

    arrays = [rng.integers(1, 20, size=rng.integers(1, 40)).astype(float)
              for _ in range(40)]
    arrays += [np.array([]), np.array([5.0]), np.full(7, 3.0)]
    r = Ragged(arrays)
    out = transform_batch(r, it)
    pos = 0
    for a in arrays:
        expect = IMAGE_TRANSFORMS[it](a)
        got = out[pos:pos + a.size]
        np.testing.assert_allclose(got, expect, rtol=1e-12, atol=1e-12,
                                   err_msg=f"{it}")
        pos += a.size


def test_batched_multi_image_types_match_golden(spark):
    """Multi-image-type batched path vs the committed per-doc golden
    (doc_alltypes restricted to the batch-supported transforms)."""
    from pyradiomics_spark.operators.features import extract_features

    golden = pd.read_parquet("tests/goldens/golden_doc_alltypes.parquet")
    supported = ["original", "square", "squareroot", "logarithm",
                 "exponential", "gradient"]
    golden = golden[golden.image_type.isin(supported)]
    pdf = pd.read_parquet("tests/goldens/fixture_pages.parquet")
    settings = ExtractionSettings(bin_width=1.0, image_types=tuple(supported))
    got = extract_features(
        spark.createDataFrame(pdf), keys=("url", "warc_ts"),
        settings=settings).toPandas()
    key = ["url", "warc_ts", "image_type"]
    g = golden.sort_values(key).reset_index(drop=True)
    o = got[golden.columns].sort_values(key).reset_index(drop=True)
    assert len(g) == len(o)
    num = [c for c in golden.columns if c not in key]
    gv = g[num].to_numpy(float)
    ov = o[num].to_numpy(float)
    ok = np.isclose(gv, ov, rtol=1e-9, atol=1e-12) | (np.isnan(gv) & np.isnan(ov))
    assert ok.all(), [(int(r), num[c]) for r, c in np.argwhere(~ok)[:5]]


@pytest.mark.parametrize("settings", [
    ExtractionSettings(bin_width=1.0, distances=(1, 2)),
    ExtractionSettings(bin_width=1.0, distances=(2,)),
    ExtractionSettings(bin_width=1.0, distances=(1, 2, 3), gldm_a=1.0),
], ids=["d12", "d2", "d123_a1"])
def test_batch_multi_distance_matches_per_doc(settings):
    texts = _texts()
    batch = _extract_batch(texts, settings)
    fcols = feature_columns(settings)
    for b, t in enumerate(texts):
        vals = text_to_intensity(t or "").astype(np.float64)
        one = _extract_one(vals, settings)
        for c in fcols:
            expect = one.get(f"original:{c}", float("nan"))
            got = float(batch[c][b])
            if np.isnan(expect):
                assert np.isnan(got), (b, c, got, t[:30])
            else:
                assert got == pytest.approx(expect, rel=1e-9, abs=1e-12), (b, c)


def test_batch_matches_per_doc_bior_wavelet():
    """Biorthogonal banks flow through the same batched SWT path: batch and
    per-doc outputs must agree for bior/rbio wavelets too."""
    for wav in ("bior2.2", "rbio1.3"):
        settings = ExtractionSettings(
            bin_width=0.5, wavelet=wav,
            image_types=("wavelet-L", "wavelet-H"))
        texts = _texts()
        fcols = feature_columns(settings)
        for it in settings.image_types:
            batch = _extract_batch(texts, settings, image_type=it)
            for b, t in enumerate(texts):
                vals = text_to_intensity(t or "").astype(np.float64)
                one = _extract_one(vals, settings)
                for c in fcols:
                    expect = one.get(f"{it}:{c}", float("nan"))
                    got = float(batch[c][b])
                    if np.isnan(expect):
                        assert np.isnan(got), (wav, it, b, c, got)
                    else:
                        assert got == pytest.approx(
                            expect, rel=1e-9, abs=1e-12), (wav, it, b, c)


def test_glcm_high_g_sparse_build():
    """G far beyond max_gray_levels (4096): the sparse cell build runs in
    O(observed pairs) where the old dense (B,G,G) bincount would allocate
    ~27 GB for this batch. Parity vs the per-doc kernel spot-checked."""
    import pytest

    from pyradiomics_spark.kernels.batch import Ragged, glcm_batch
    from pyradiomics_spark.kernels.glcm import glcm_features

    rng = np.random.default_rng(3)
    arrays = [rng.integers(1, 4097, size=40).astype(np.int64)
              for _ in range(200)]
    arrays[5] = np.full(7, 123, dtype=np.int64)   # flat doc
    arrays[6] = np.array([77], dtype=np.int64)    # pair-less doc
    r = Ragged([a.astype(np.float64) for a in arrays])
    levels = np.concatenate(arrays)
    out = glcm_batch(r, levels)
    for b in (0, 5, 6, 42, 199):
        per = glcm_features(arrays[b], (1,), True, None)
        for k, v in per.items():
            got = float(out[k][b])
            if np.isnan(v):
                assert np.isnan(got), (b, k)
            else:
                assert got == pytest.approx(v, rel=1e-9, abs=1e-12), (b, k)


def test_glcm_sparse_path_matches_dense_path(monkeypatch):
    """Force the sparse cell path on a small-G corpus and require
    agreement of every feature with the dense-tensor path (both arms feed
    the same normalized cell values to one shared feature reduction; only
    the primitive layout differs) — for the per-angle nanmean, the
    distance-weighted merged cells, and a directed GLCM."""
    from pyradiomics_spark.kernels import batch as B

    rng = np.random.default_rng(11)
    arrays = [rng.integers(1, 14, size=rng.integers(1, 90)).astype(np.int64)
              for _ in range(300)]
    arrays[3] = np.full(6, 5, dtype=np.int64)
    arrays[4] = np.array([9], dtype=np.int64)
    r = B.Ragged([a.astype(np.float64) for a in arrays])
    levels = np.concatenate(arrays)
    cases = ({}, {"weighting_norm": "infinity"}, {"symmetric": False})
    dense = [B.glcm_batch(r, levels, distances=(1, 2), **kw) for kw in cases]
    monkeypatch.setattr(B, "_GLCM_DENSE_MAX_SLOTS", 0)
    sparse = [B.glcm_batch(r, levels, distances=(1, 2), **kw) for kw in cases]
    for kw, d, s in zip(cases, dense, sparse):
        for k in d:
            dv, sv = np.asarray(d[k]), np.asarray(s[k])
            ok = np.isclose(dv, sv, rtol=1e-9, atol=1e-12) | (np.isnan(dv) & np.isnan(sv))
            assert ok.all(), (kw, k, dv[~ok][:3], sv[~ok][:3])
