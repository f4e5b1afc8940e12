"""Texture-matrix extraction at the intermediate-matrix granularity — the
analog of accessing ``P_glcm`` / ``P_glrlm`` / … directly
(/root/reference/tests/test_matrices.py:56-65 compares these against .npy
goldens at max-abs 1e-3; examples/helloFeatureClass.py exposes the same).

Output is LONG form per (key…, class): one row per nonzero matrix cell —
``(keys…, matrix, i, j, value)`` where (i, j) are (level_i, level_j) for
glcm, (level, run_len) for glrlm, (level, zone_size) for glszm, (level,
dependence+1) for gldm, and (level, {0=n_i,1=s_i}) for ngtdm. Long form
keeps the schema fixed across documents (matrix shapes vary per case).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.text import arrow_intensity
from pyradiomics_spark.kernels import (
    discretize, glcm_matrix, gldm_matrix, glrlm_matrix, glszm_matrix,
    ngtdm_matrix)

MATRIX_CLASSES = ("glcm", "glrlm", "glszm", "ngtdm", "gldm")


def _matrix_arrays(levels: np.ndarray, settings: ExtractionSettings,
                   classes) -> list:
    """Per-class long-form cell columns, fully vectorized: one
    (cls, i, j, value, angle) tuple of numpy ARRAYS per class — no
    per-nonzero-cell Python iteration (a dense doc has O(G²·A) cells;
    looping them in the interpreter was the hot path at corpus scale)."""
    parts = []
    for cls in classes:
        try:
            if cls == "glcm":
                P, gl, _ = glcm_matrix(
                    levels, settings.distances, settings.symmetrical_glcm,
                    settings.weighting_norm)
                # a pair-less doc yields an all-NaN angle (0/0 normalize);
                # emit only finite nonzero mass
                r, c, a = np.nonzero((P != 0) & np.isfinite(P))
                parts.append((cls, gl[r].astype(np.float64),
                              gl[c].astype(np.float64), P[r, c, a],
                              a.astype(np.int64)))
            elif cls in ("glrlm", "glszm", "gldm"):
                fn = {"glrlm": glrlm_matrix, "glszm": glszm_matrix}.get(cls)
                if fn is not None:
                    P, iv, jv = fn(levels)
                else:
                    P, iv, jv = gldm_matrix(
                        levels, settings.distances, settings.gldm_a)
                r, c = np.nonzero(P != 0)
                parts.append((cls, iv[r].astype(np.float64),
                              jv[c].astype(np.float64), P[r, c],
                              np.zeros(r.size, dtype=np.int64)))
            elif cls == "ngtdm":
                n_i, s_i, iv = ngtdm_matrix(levels, settings.distances)
                k = iv.size
                parts.append((cls, np.repeat(iv.astype(np.float64), 2),
                              np.tile([0.0, 1.0], k),
                              np.column_stack([n_i, s_i]).ravel(),
                              np.zeros(2 * k, dtype=np.int64)))
        except ValueError:
            continue  # empty ROI → no matrix rows
    return parts


def _matrix_rows(levels: np.ndarray, settings: ExtractionSettings, classes) -> list:
    """Tuple-per-cell view of _matrix_arrays (golden generation uses this;
    the Spark operator consumes the array form directly)."""
    rows = []
    for cls, i, j, v, a in _matrix_arrays(levels, settings, classes):
        rows.extend(
            (cls, float(i[t]), float(j[t]), float(v[t]), int(a[t]))
            for t in range(v.size))
    return rows


def _cell_blocks(val_arrays, settings: ExtractionSettings, classes):
    """Concatenated long-form cell columns for a batch of per-doc value
    arrays: (doc_idx, matrix, i, j, value, angle) numpy arrays, or None
    when the batch produced no cells. Python touches docs and classes,
    never individual cells."""
    d_blocks, m_blocks = [], []
    i_blocks, j_blocks, v_blocks, a_blocks = [], [], [], []
    for d, vals in enumerate(val_arrays):
        if vals.size == 0:
            continue
        levels = discretize(vals, settings.bin_width, settings.bin_count)
        for cls, iv, jv, vv, av in _matrix_arrays(levels, settings, classes):
            if vv.size == 0:
                continue
            d_blocks.append(np.full(vv.size, d, dtype=np.int64))
            m_blocks.append(np.full(vv.size, cls, dtype=object))
            i_blocks.append(iv)
            j_blocks.append(jv)
            v_blocks.append(vv.astype(np.float64))
            a_blocks.append(av)
    if not v_blocks:
        return None
    return (np.concatenate(d_blocks), np.concatenate(m_blocks),
            np.concatenate(i_blocks), np.concatenate(j_blocks),
            np.concatenate(v_blocks),
            np.concatenate(a_blocks).astype(np.int32))


def extract_matrices(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    settings: ExtractionSettings | None = None,
    classes=MATRIX_CLASSES,
) -> DataFrame:
    """Long-form texture matrices per input row. Shuffle-free: one
    mapInArrow stage with the same per-batch decode as extract_features /
    voxel_feature_maps (``functions.text.arrow_intensity``), keys carried
    by Arrow ``take`` — no pandas, for every tokenizer and intensity
    setting."""
    if settings is None:
        settings = ExtractionSettings()
    keys = tuple(keys)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields if f.name in keys)
    schema = (f"{key_fields}, matrix string, i double, j double, "
              "value double, angle int")
    src = df.select(*keys, text_col)
    classes = tuple(classes)
    cols = list(keys) + ["matrix", "i", "j", "value", "angle"]
    nk = len(keys)  # src column order: keys…, text

    def run_arrow(batches):
        import pyarrow as pa

        for rb in batches:
            r = arrow_intensity(rb.column(nk), settings)
            blocks = _cell_blocks(np.split(r.x, r.starts[1:]), settings,
                                  classes)
            if blocks is None:
                continue
            d, m, iv, jv, vv, av = blocks
            take = pa.array(d, type=pa.int64())
            arrays = [rb.column(i).take(take) for i in range(nk)]
            arrays.append(pa.array(m, type=pa.string()))
            arrays.append(pa.array(iv, type=pa.float64()))
            arrays.append(pa.array(jv, type=pa.float64()))
            arrays.append(pa.array(vv, type=pa.float64()))
            arrays.append(pa.array(av, type=pa.int32()))
            yield pa.RecordBatch.from_arrays(arrays, names=cols)

    return src.mapInArrow(run_arrow, schema=schema)
