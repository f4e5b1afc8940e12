"""Voxel-based (per-position) feature maps — the analog of the reference's
``voxelBased=True`` mode (/root/reference/radiomics/base.py:200-245): for
every position, features over the kernel neighborhood rowsBetween(−r, +r),
truncated at sequence edges (masked kernel, base.py:99-111).

First-order rolling stats are pure window functions
(``operators.windows.rolling_firstorder``). The full feature maps here
(``voxel_feature_maps``) run every window through the batched kernels
inside one mapInArrow stage, fed by the same per-batch decode as
``extract_features`` and chunked like the reference's ``voxelBatch``
(base.py:214-237). ``rolling_texture`` keeps its per-doc mapInPandas loop.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from pyradiomics_spark.config import EPS, ExtractionSettings
from pyradiomics_spark.functions.text import arrow_intensity, text_to_intensity
from pyradiomics_spark.kernels import discretize


def _rolling_maps(levels: np.ndarray, radius: int):
    """Per-position (entropy, uniformity, glcm_contrast) over ±radius,
    fully vectorized: per-gray-level prefix sums give every window's count
    in O(n) per level (G is small after discretization), and the contrast
    map is a prefix sum over squared adjacent diffs — no per-position
    python loop (the voxelBatch analog, base.py:214-237, but vectorized
    instead of chunked)."""
    n = levels.size
    G = int(levels.max()) if n else 0
    pos = np.arange(n)
    lo = np.maximum(0, pos - radius)
    hi = np.minimum(n, pos + radius + 1)
    size = (hi - lo).astype(np.float64)
    ent = np.zeros(n)
    uni = np.zeros(n)
    for g in range(1, G + 1):
        c = np.concatenate(([0], np.cumsum(levels == g)))
        p = (c[hi] - c[lo]) / size
        # zero-count levels contribute an exact 0 (−0·log2(eps) == 0)
        ent -= p * np.log2(p + EPS)
        uni += p * p
    if n > 1:
        d = np.diff(levels.astype(np.float64))
        D = np.concatenate(([0.0], np.cumsum(d * d)))
        m = np.maximum(hi - lo - 1, 1)
        con = np.where(hi - lo > 1, (D[np.maximum(hi - 1, 0)] - D[lo]) / m, 0.0)
    else:
        con = np.zeros(n)
    return ent, uni, con


def voxel_feature_maps(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    radius: int = 2,
    settings: ExtractionSettings | None = None,
    image_type: str = "original",
) -> DataFrame:
    """FULL per-position feature maps — the ``voxelBased=True`` analog for
    every enabled feature class (base.py:200-245): each position's ±radius
    window becomes a pseudo-document and runs through the SAME batched
    kernels as whole-document extraction.

    Reference-faithful order of operations: the image filter and the
    DISCRETIZATION happen once per document (binImage runs on the whole ROI
    before kernel iteration — imageoperations semantics), then windows
    slice the pre-binned levels; windows truncate at sequence edges (the
    masked kernel, base.py:99-111). seqshape is excluded (shape is not
    voxel-based in the reference either).

    Cost model: ~(2·radius+1)× the data volume of whole-doc extraction —
    inherent to voxel mode; still shuffle-free and Arrow-batched.
    """
    from pyradiomics_spark.kernels.batch import (
        Ragged, discretize_batch, firstorder_batch, glcm_batch, gldm_batch,
        ngtdm_batch, runs_batch_features, transform_batch)

    if settings is None:
        settings = ExtractionSettings(bin_width=1.0)
    classes = [c for c in settings.feature_classes if c != "seqshape"]
    from pyradiomics_spark.operators.features import CLASS_FEATURES

    fcols = [f"{cls}_{f}" for cls in classes for f in CLASS_FEATURES[cls]]
    keys = tuple(keys)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in keys)
    schema = (f"{key_fields}, image_type string, pos int, "
              + ", ".join(f"`{c}` double" for c in fcols))
    src = df.select(*keys, text_col)

    def core(r0: "Ragged"):
        """(d_lens, out_pos, cols) for one decoded batch, or None when no
        doc survives."""
        r_img = r0 if image_type == "original" else r0.with_x(
            transform_batch(r0, image_type, settings))
        keep = r0.lens > 0
        if settings.bin_count is None and r_img.x.size:
            # same garbage guard as extract_features: a doc whose FBW
            # level range exceeds max_gray_levels would blow the
            # n_windows×G² kernel grids — skip it (voxel maps of
            # garbage docs have no training value; the segment-mode
            # row for the doc carries the NaN signal)
            fl = np.floor(r_img.x / settings.bin_width)
            fmn, fmx = r_img.segmin(fl), r_img.segmax(fl)
            with np.errstate(invalid="ignore"):
                keep &= ~((fmx - fmn + 1) > settings.max_gray_levels)
        rk = r_img if bool(keep.all()) else r_img.masked(keep[r_img.doc])
        if rk.x.size == 0:
            return None
        conc_img = rk.x
        conc_lvl = discretize_batch(
            rk, settings.bin_width, settings.bin_count)
        # vectorized window construction: every ±radius window becomes
        # one pseudo-doc via a single fancy-indexed gather — no
        # per-position python loop (that costs tens of millions of
        # interpreter iterations per executor at corpus scale)
        d_lens = rk.lens
        d_starts = rk.starts
        ddoc = rk.doc
        N = conc_img.size
        i_in = np.arange(N) - d_starts[ddoc]
        lo = np.maximum(i_in - radius, 0)
        hi = np.minimum(i_in + radius + 1, d_lens[ddoc])
        wlen = (hi - lo).astype(np.int64)
        out_pos = i_in

        # voxelBatch analog (base.py:202-221): the batched texture
        # kernels materialize (n_windows × G × G) float64 grids, so an
        # unchunked Arrow batch of ordinary web docs (10k rows × 100s
        # of tokens × G up to 128) would allocate tens of GB. Slice the
        # window set so the largest per-chunk grid stays bounded; the
        # kernels are pure per-pseudo-doc so chunking is result-exact.
        g_batch = max(int(conc_lvl.max()), 1)
        if settings.voxel_batch > 0:
            chunk = settings.voxel_batch
        else:  # adaptive: ~64 MB per GLCM tensor
            chunk = max(256, (64 << 20) // (g_batch * g_batch * 8))
        want = set(classes)

        def kernel_cols(rw: Ragged, lv: np.ndarray) -> dict:
            c: dict = {}
            if "firstorder" in want:
                for f, v in firstorder_batch(
                        rw, lv, settings.voxel_array_shift).items():
                    c[f"firstorder_{f}"] = v
            if "glcm" in want:
                for f, v in glcm_batch(rw, lv, settings.distances,
                                       settings.symmetrical_glcm,
                                       settings.weighting_norm).items():
                    c[f"glcm_{f}"] = v
            if "glrlm" in want or "glszm" in want:
                rl, sz = runs_batch_features(rw, lv)
                if "glrlm" in want:
                    for f, v in rl.items():
                        c[f"glrlm_{f}"] = v
                if "glszm" in want:
                    for f, v in sz.items():
                        c[f"glszm_{f}"] = v
            if "ngtdm" in want:
                for f, v in ngtdm_batch(
                        rw, lv, settings.distances).items():
                    c[f"ngtdm_{f}"] = v
            if "gldm" in want:
                for f, v in gldm_batch(rw, lv, settings.gldm_a,
                                       settings.distances).items():
                    c[f"gldm_{f}"] = v
            return c

        parts: list[dict] = []
        for a in range(0, N, chunk):
            b = min(a + chunk, N)
            w = wlen[a:b]
            ws = np.zeros(b - a, dtype=np.int64)
            np.cumsum(w[:-1], out=ws[1:])
            tot = int(w.sum())
            # per-chunk gather of window contents (also bounds the
            # (2·radius+1)× expanded copy to the chunk, not the batch)
            p_out = np.repeat(np.arange(a, b), w)
            off = np.arange(tot) - np.repeat(ws, w)
            srcix = d_starts[ddoc[p_out]] + lo[p_out] + off
            rw = object.__new__(Ragged)
            rw.B = b - a
            rw.lens = w
            rw.starts = ws
            rw.x = conc_img[srcix]
            rw.doc = p_out - a
            rw.nonempty = w > 0
            rw._ne_starts = ws[rw.nonempty]
            parts.append(kernel_cols(rw, conc_lvl[srcix]))
        cols = ({k: np.concatenate([p[k] for p in parts])
                 for k in parts[0]} if len(parts) > 1 else parts[0])
        return d_lens, out_pos, cols

    nk = len(keys)  # src column order: keys…, text
    names = list(keys) + ["image_type", "pos"] + fcols

    def run_arrow(batches):
        """Token arrays decoded from the Arrow batch in, RecordBatches from
        numpy out; keys repeated per token position via Arrow take."""
        import pyarrow as pa

        for rb in batches:
            res = core(arrow_intensity(rb.column(nk), settings))
            if res is None:
                continue
            d_lens, out_pos, cols = res
            rep = pa.array(np.repeat(np.arange(rb.num_rows), d_lens))
            arrays = [rb.column(i).take(rep) for i in range(nk)]
            n_out = out_pos.size
            arrays.append(pa.array([image_type] * n_out, type=pa.string()))
            arrays.append(pa.array(out_pos.astype(np.int32)))
            for c in fcols:
                v = cols.get(c)
                arrays.append(pa.array(
                    np.full(n_out, np.nan) if v is None
                    else np.asarray(v, dtype=np.float64)))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return src.mapInArrow(run_arrow, schema=schema)


def rolling_texture(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    radius: int = 2,
    settings: ExtractionSettings | None = None,
) -> DataFrame:
    """Per-position texture maps: one output row per token position."""
    if settings is None:
        settings = ExtractionSettings(bin_width=1.0)
    keys = tuple(keys)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in keys)
    schema = (f"{key_fields}, pos int, level int, roll_entropy double, "
              "roll_uniformity double, roll_contrast double")
    src = df.select(*keys, text_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = list(keys) + ["pos", "level", "roll_entropy",
                             "roll_uniformity", "roll_contrast"]
        for pdf in batches:
            out = []
            for tup in pdf.itertuples(index=False):
                kv = list(tup[: len(keys)])
                text = tup[len(keys)] or ""
                vals = text_to_intensity(
                    text, settings.tokenizer, settings.intensity_mode,
                    settings.intensity_buckets).astype(np.float64)
                if vals.size == 0:
                    continue
                levels = discretize(vals, settings.bin_width, settings.bin_count)
                ent, uni, con = _rolling_maps(levels, radius)
                for p in range(levels.size):
                    out.append(kv + [p, int(levels[p]), float(ent[p]),
                                     float(uni[p]), float(con[p])])
            yield pd.DataFrame(out, columns=cols)

    return src.mapInPandas(run, schema=schema)
