"""Voxel-based (per-position) feature maps — the analog of the reference's
``voxelBased=True`` mode (/root/reference/radiomics/base.py:200-245): for
every position, features over the kernel neighborhood rowsBetween(−r, +r),
truncated at sequence edges (masked kernel, base.py:99-111).

``voxel_feature_maps`` runs every window through the batched kernels
inside one mapInArrow stage, fed by the same per-batch decode,
normalization, gray-level cap and class→kernel dispatch as
``extract_features`` (``operators.features``), and chunked like the
reference's ``voxelBatch`` (base.py:214-237). First-order rolling stats
as pure window functions are ``operators.windows.rolling_firstorder``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.text import arrow_intensity


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
    gray-level cap (``features._over_cap``) are skipped: voxel maps of
    garbage docs have no training value, and the doc's segment-mode row
    carries the NaN signal.

    Cost model: ~(2·radius+1)× the data volume of whole-doc extraction —
    inherent to voxel mode; still shuffle-free and Arrow-batched.
    """
    from pyradiomics_spark.kernels.batch import (
        Ragged, discretize_batch, transform_batch)
    from pyradiomics_spark.operators.features import (
        CLASS_FEATURES, _class_features, _normalized, _over_cap)

    if settings is None:
        settings = ExtractionSettings(bin_width=1.0)
    if settings.resegment_range is not None:
        raise ValueError("voxel_feature_maps does not support "
                         "resegment_range (no masked-window kernels)")
    classes = [c for c in settings.feature_classes if c != "seqshape"]
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
        r0 = _normalized(r0, settings)
        r_img = r0 if image_type == "original" else r0.with_x(
            transform_batch(r0, image_type, settings))
        keep = ~_over_cap(r_img, settings)
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

        parts: list[dict] = []
        for a in range(0, N, chunk):
            b = min(a + chunk, N)
            w = wlen[a:b]
            # per-chunk gather of window contents (also bounds the
            # (2·radius+1)× expanded copy to the chunk, not the batch)
            p_out = np.repeat(np.arange(a, b), w)
            off = np.arange(p_out.size) - np.repeat(np.cumsum(w) - w, w)
            srcix = d_starts[ddoc[p_out]] + lo[p_out] + off
            rw = Ragged.from_concat(conc_img[srcix], w)
            parts.append(_class_features(settings, want, rw,
                                         conc_lvl[srcix]))
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
