"""Voxel-based (per-position) feature maps — the analog of the reference's
``voxelBased=True`` mode (/root/reference/radiomics/base.py:200-245): for
every position, features over the kernel neighborhood rowsBetween(−r, +r),
truncated at sequence edges (masked kernel, base.py:99-111).

``voxel_feature_maps`` is an output-field list plus a per-batch function
on extraction's one stage (``features._arrow_stage``: decode, fan-out, key
``take``, RecordBatch assembly) and one preparation step
(``features._prepare``: normalization, transform, gray-level cap,
discretization); every window runs through the batched kernels of the
shared class→kernel dispatch, chunked like the reference's ``voxelBatch``
(base.py:214-237). First-order rolling stats as pure window functions are
``operators.windows.rolling_firstorder``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.kernels.batch import Ragged
from pyradiomics_spark.operators.features import (
    CLASS_FEATURES, _arrow_stage, _class_features, _prepare)


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

    Normalization (``settings.normalize``) applies per document before
    the filter, as in whole-document extraction; a resegmentation range
    raises ``ValueError`` (no masked-window support). Docs over the
    gray-level cap (``settings.max_gray_levels``) are skipped: voxel maps
    of garbage docs have no training value, and the doc's segment-mode
    row carries the NaN signal.

    Cost model: ~(2·radius+1)× the data volume of whole-doc extraction —
    inherent to voxel mode; still Arrow-batched, and shuffle-free on inputs
    with enough splits.
    """
    if settings is None:
        settings = ExtractionSettings(bin_width=1.0)
    if settings.resegment_range is not None:
        raise ValueError("voxel_feature_maps does not support "
                         "resegment_range (no masked-window kernels)")
    classes = [c for c in settings.feature_classes if c != "seqshape"]
    fcols = [f"{cls}_{f}" for cls in classes for f in CLASS_FEATURES[cls]]
    fields = ([("image_type", "string"), ("pos", "int")]
              + [(c, "double") for c in fcols])

    def per_batch(r0: Ragged):
        """One (input row per position, cols) pair for a decoded batch,
        nothing when no doc survives. Over-cap docs are empty in rv."""
        prep = _prepare(r0, settings, image_type)
        rk, conc_lvl = prep.rv, prep.levels_v
        N = rk.x.size
        if N == 0:
            return
        # vectorized window construction: every ±radius window becomes
        # one pseudo-doc via a single fancy-indexed gather — no
        # per-position python loop (that costs tens of millions of
        # interpreter iterations per executor at corpus scale)
        i_in = np.arange(N) - rk.starts[rk.doc]
        lo = np.maximum(i_in - radius, 0)
        hi = np.minimum(i_in + radius + 1, rk.lens[rk.doc])
        wlen = (hi - lo).astype(np.int64)

        # voxelBatch analog (base.py:202-221): the batched texture
        # kernels materialize (n_windows × G × G) float64 grids, so an
        # unchunked Arrow batch of ordinary web docs (10k rows × 100s
        # of tokens × G up to 128) would allocate tens of GB. Slice the
        # window set so the largest per-chunk grid stays bounded (~64 MB
        # per GLCM tensor); the kernels are pure per-pseudo-doc so
        # chunking is result-exact.
        g_batch = max(int(conc_lvl.max()), 1)
        chunk = max(256, (64 << 20) // (g_batch * g_batch * 8))
        want = set(classes)

        parts: list[dict] = []
        for a in range(0, N, chunk):
            b = min(a + chunk, N)
            w = wlen[a:b]
            # per-chunk gather of window contents (also bounds the
            # (2·radius+1)× expanded copy to the chunk, not the batch)
            p_out = np.repeat(np.arange(a, b), w)
            off = np.arange(p_out.size) - np.repeat(np.cumsum(w) - w, w)
            srcix = rk.starts[rk.doc[p_out]] + lo[p_out] + off
            rw = Ragged.from_concat(rk.x[srcix], w)
            parts.append(_class_features(settings, want, rw,
                                         conc_lvl[srcix]))
        cols = ({k: np.concatenate([p[k] for p in parts])
                 for k in parts[0]} if len(parts) > 1 else parts[0])
        yield (np.repeat(np.arange(rk.B), rk.lens),
               {"image_type": image_type, "pos": i_in, **cols})

    return _arrow_stage(df, keys, text_col, settings, fields, per_batch)
