"""Texture-matrix extraction at the intermediate-matrix granularity — the
analog of accessing ``P_glcm`` / ``P_glrlm`` / … directly
(/root/reference/tests/test_matrices.py:56-65 compares these against .npy
goldens at max-abs 1e-3; examples/helloFeatureClass.py exposes the same).

Output is LONG form per (key…, class): one row per nonzero matrix cell —
``(keys…, matrix, i, j, value)`` where (i, j) are (level_i, level_j) for
glcm, (level, run_len) for glrlm, (level, zone_size) for glszm, (level,
dependence+1) for gldm, and (level, {0=n_i,1=s_i}) for ngtdm. Long form
keeps the schema fixed across documents (matrix shapes vary per case).

``extract_matrices`` is an output-field list plus a per-batch function on
extraction's one stage (``features._arrow_stage``) and preparation step
(``features._prepare``), so the cells come from the levels and ROI mask
the features are computed from: normalization, the resegmentation mask
and the gray-level cap apply (on the original image type), and docs whose
features are NaN for ROI size or the cap emit no cells.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.kernels import (
    glcm_matrix, gldm_matrix, glrlm_matrix, glszm_matrix, ngtdm_matrix)
from pyradiomics_spark.operators.features import _arrow_stage, _prepare

MATRIX_CLASSES = ("glcm", "glrlm", "glszm", "ngtdm", "gldm")


def _matrix_arrays(levels: np.ndarray, settings: ExtractionSettings,
                   classes, valid: np.ndarray | None = None) -> list:
    """Per-class long-form cell columns, fully vectorized: one
    (cls, i, j, value, angle) tuple of numpy ARRAYS per class — no
    per-nonzero-cell Python iteration (a dense doc has O(G²·A) cells;
    looping them in the interpreter was the hot path at corpus scale).
    ``valid``: the ROI mask (None: every position)."""
    parts = []
    for cls in classes:
        try:
            if cls == "glcm":
                P, gl, _ = glcm_matrix(
                    levels, settings.distances, settings.symmetrical_glcm,
                    settings.weighting_norm, valid)
                # a pair-less doc yields an all-NaN angle (0/0 normalize);
                # emit only finite nonzero mass
                r, c, a = np.nonzero((P != 0) & np.isfinite(P))
                parts.append((cls, gl[r].astype(np.float64),
                              gl[c].astype(np.float64), P[r, c, a],
                              a.astype(np.int64)))
            elif cls in ("glrlm", "glszm", "gldm"):
                fn = {"glrlm": glrlm_matrix, "glszm": glszm_matrix}.get(cls)
                if fn is not None:
                    P, iv, jv = fn(levels, valid)
                else:
                    P, iv, jv = gldm_matrix(
                        levels, settings.distances, settings.gldm_a, valid)
                r, c = np.nonzero(P != 0)
                parts.append((cls, iv[r].astype(np.float64),
                              jv[c].astype(np.float64), P[r, c],
                              np.zeros(r.size, dtype=np.int64)))
            elif cls == "ngtdm":
                n_i, s_i, iv = ngtdm_matrix(levels, settings.distances, valid)
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


def _cell_blocks(r0, settings: ExtractionSettings, classes):
    """Yields (doc index, {matrix, i, j, value, angle}) long-form cell
    columns of one decoded batch, prepared like the features
    (``features._prepare``), unless it produced no cells. Docs below
    ``minimum_roi_size`` or over the gray-level cap emit none. Python
    touches docs and classes, never individual cells."""
    p = _prepare(r0, settings)
    blocks = []
    for d in np.nonzero(~p.nan_docs)[0]:
        seg = slice(p.r.starts[d], p.r.starts[d] + p.r.lens[d])
        valid = None if p.valid is None else p.valid[seg]
        for cls, iv, jv, vv, av in _matrix_arrays(p.levels[seg], settings,
                                                  classes, valid):
            if vv.size:
                blocks.append((np.full(vv.size, d, dtype=np.int64),
                               np.full(vv.size, cls, dtype=object),
                               iv, jv, vv, av))
    if blocks:
        d, m, iv, jv, vv, av = (np.concatenate(c) for c in zip(*blocks))
        yield d, {"matrix": m, "i": iv, "j": jv, "value": vv, "angle": av}


def extract_matrices(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    settings: ExtractionSettings | None = None,
    classes=MATRIX_CLASSES,
) -> DataFrame:
    """Long-form texture matrices per input row, on the same Arrow
    stage, decode and preparation as extract_features (keys carried by
    Arrow ``take``), for every tokenizer and intensity setting."""
    if settings is None:
        settings = ExtractionSettings()
    classes = tuple(classes)
    fields = [("matrix", "string"), ("i", "double"), ("j", "double"),
              ("value", "double"), ("angle", "int")]
    return _arrow_stage(df, keys, text_col, settings, fields,
                        lambda r0: _cell_blocks(r0, settings, classes))
