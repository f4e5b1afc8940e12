"""Feature-extraction operator: the Spark analog of
``RadiomicsFeatureExtractor.execute`` (/root/reference/radiomics/featureextractor.py:241-396).

Execution model
---------------
One input row = one case (url × warc_ts × its text). Because the full token
sequence lives in a single row, per-document extraction needs **no shuffle at
all**: one ``mapInArrow`` stage decodes each Arrow batch into token
intensities (``functions.text.arrow_intensity``) and runs the batched numpy
kernels over it — embarrassingly parallel, scan-local, the plan is a single
scan → MapInArrow stage for every tokenizer and intensity setting. The
reference's 1-case-per-process Pool (scripts/__init__.py:393-416) maps to
Spark task parallelism over parquet splits.

Pipeline per case (order mirrors featureextractor.execute):
normalize → (resegment mask from original intensities) → per image type:
transform → per feature class: discretize → kernel features.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyradiomics_spark.config import ExtractionSettings
from pyradiomics_spark.functions.intensity import (
    apply_transform,
    normalize,
    resegment_bounds,
)
from pyradiomics_spark.functions.text import arrow_intensity
from pyradiomics_spark.kernels import (
    discretize,
    firstorder_features,
    glcm_features,
    gldm_features,
    glrlm_features,
    glszm_features,
    ngtdm_features,
)
from pyradiomics_spark.kernels.firstorder import FIRSTORDER_FEATURES
from pyradiomics_spark.kernels.glcm import GLCM_FEATURES
from pyradiomics_spark.kernels.gldm import GLDM_FEATURES
from pyradiomics_spark.kernels.glrlm import GLRLM_FEATURES
from pyradiomics_spark.kernels.glszm import GLSZM_FEATURES
from pyradiomics_spark.kernels.ngtdm import NGTDM_FEATURES
from pyradiomics_spark.kernels.seqshape import SEQSHAPE_FEATURES, seqshape_features

CLASS_FEATURES = {
    "firstorder": FIRSTORDER_FEATURES,
    "glcm": GLCM_FEATURES,
    "glrlm": GLRLM_FEATURES,
    "glszm": GLSZM_FEATURES,
    "ngtdm": NGTDM_FEATURES,
    "gldm": GLDM_FEATURES,
    "seqshape": SEQSHAPE_FEATURES,
}


def feature_columns(settings: ExtractionSettings) -> list:
    cols = []
    for cls in settings.feature_classes:
        for f in CLASS_FEATURES[cls]:
            cols.append(f"{cls}_{f}")
    return cols


def _extract_one(values: np.ndarray, settings: ExtractionSettings) -> dict:
    """All enabled features for one case, computed by the per-doc kernels.
    Returns {col: float} + diagnostics. This is the per-doc oracle the
    tests and ``tools/make_goldens.py`` check the batched path against;
    ``extract_features`` never calls it."""
    out: dict = {}
    np_total = int(values.size)
    out["diag_n_tokens"] = np_total

    if settings.normalize and np_total:
        values = normalize(values, settings.normalize_scale, settings.remove_outliers)

    # resegmentation: validity mask from ORIGINAL (post-normalize) intensities
    valid = np.ones(np_total, dtype=bool)
    if settings.resegment_range is not None and np_total:
        lo, hi = resegment_bounds(values, settings.resegment_range, settings.resegment_mode)
        if lo is not None:
            valid &= values >= lo
        if hi is not None:
            valid &= values <= hi
    out["diag_n_valid"] = int(valid.sum())

    fcols = feature_columns(settings)
    if out["diag_n_valid"] < max(settings.minimum_roi_size, 1):
        # reference raises on too-small ROI (imageoperations.py:292-310);
        # in a batch engine we emit NaN + keep the diagnostic
        for it in settings.image_types:
            for c in fcols:
                out[f"{it}:{c}"] = float("nan")
        return out

    # shape analog: intensity-free, computed ONCE per case, attached to the
    # 'original' image type only (the reference computes shape once on the
    # cropped original, featureextractor.py:356-360)
    if "seqshape" in settings.feature_classes:
        shape_feats = seqshape_features(np_total, valid)

    for it in settings.image_types:
        img = apply_transform(it, values, settings)
        roi = img[valid]
        # FBW gray-level-range guard (web-scale garbage docs): NaN this
        # image type instead of materializing a huge level grid
        if settings.bin_count is None and roi.size:
            est_g = (np.floor(roi.max() / settings.bin_width)
                     - np.floor(roi.min() / settings.bin_width) + 1)
            if est_g > settings.max_gray_levels:
                for c in fcols:
                    out[f"{it}:{c}"] = float("nan")
                continue
        levels = discretize(roi, settings.bin_width, settings.bin_count)
        # kernels see the compacted ROI sequence; masked positions already
        # removed — adjacency breaks are preserved by re-inserting gaps
        lv_full = np.zeros(np_total, dtype=np.int64)
        lv_full[valid] = levels
        vmask = valid

        # GLRLM and GLSZM share the identical 1-D run-length encoding —
        # compute it once per image type (common-subexpression sharing, the
        # analog of the reference's shared coefficients dict)
        rle = None
        if "glrlm" in settings.feature_classes and "glszm" in settings.feature_classes:
            from pyradiomics_spark.kernels.glrlm import run_lengths

            rle = run_lengths(lv_full, vmask)

        for cls in settings.feature_classes:
            if cls == "seqshape":
                vals_ = shape_feats if it == "original" else {
                    f: float("nan") for f in SEQSHAPE_FEATURES}
                for f, v in vals_.items():
                    out[f"{it}:seqshape_{f}"] = float(v)
                continue
            try:
                if cls == "firstorder":
                    feats = firstorder_features(
                        roi, settings.bin_width, settings.bin_count,
                        settings.voxel_array_shift, discretized=levels)
                elif cls == "glcm":
                    feats = glcm_features(
                        lv_full, settings.distances, settings.symmetrical_glcm,
                        settings.weighting_norm, vmask)
                elif cls == "glrlm":
                    feats = glrlm_features(lv_full, vmask, rle=rle)
                elif cls == "glszm":
                    feats = glszm_features(lv_full, vmask, rle=rle)
                elif cls == "ngtdm":
                    feats = ngtdm_features(lv_full, settings.distances, vmask)
                elif cls == "gldm":
                    feats = gldm_features(
                        lv_full, settings.distances, settings.gldm_a, vmask)
                else:  # pragma: no cover
                    continue
            except Exception:
                # per-feature-class failure → NaN row segment (base.py:271-273)
                feats = {f: float("nan") for f in CLASS_FEATURES[cls]}
            for f, v in feats.items():
                out[f"{it}:{cls}_{f}"] = float(v)
    return out


def _extract_batch(texts, settings: ExtractionSettings, image_type: str = "original") -> dict:
    """``extract_features``' decode + kernel stage for a list of docs:
    {column: (B,) array} including diagnostics."""
    import pyarrow as pa

    r0 = arrow_intensity(pa.array(texts, type=pa.string()), settings)
    return _extract_from_ragged(r0, settings, image_type)


def _extract_from_ragged(r0, settings: ExtractionSettings,
                         image_type: str = "original") -> dict:
    """All features of one image type for a decoded batch
    (kernels.batch). Returns {column: (B,) array} including diagnostics.

    Pipeline order mirrors _extract_one / featureextractor.execute:
    normalize → resegment mask (from post-normalize ORIGINAL intensities)
    → transform whole sequence → discretize ROI → kernels.
    """
    from pyradiomics_spark.kernels.batch import (
        discretize_batch, resegment_batch, seqshape_batch, transform_batch)

    r0 = _normalized(r0, settings)
    valid = None
    if settings.resegment_range is not None and r0.x.size:
        valid = resegment_batch(
            r0, settings.resegment_range, settings.resegment_mode)
        n_valid = np.bincount(r0.doc[valid], minlength=r0.B).astype(np.int64)
    else:
        n_valid = r0.lens.astype(np.int64)

    r = r0 if image_type == "original" else r0.with_x(
        transform_batch(r0, image_type, settings))

    # over the gray-level cap: mask the doc's positions out of every
    # kernel and NaN its features for this image type (mirrors the
    # per-doc path)
    over_cap = _over_cap(r, settings, valid)
    if over_cap.any():
        drop = over_cap[r.doc]
        valid = ~drop if valid is None else (valid & ~drop)

    rv = r if valid is None else r.masked(valid)
    levels_v = discretize_batch(rv, settings.bin_width, settings.bin_count)
    if valid is None:
        levels_full = levels_v
    else:
        levels_full = np.zeros(r.x.size, dtype=np.int64)
        levels_full[valid] = levels_v

    cols: dict = {
        "diag_n_tokens": r.lens.astype(np.int64),
        "diag_n_valid": n_valid,
    }
    want = set(settings.feature_classes)
    cols.update(_class_features(settings, want, r, levels_full, valid,
                                rv, levels_v))
    if "seqshape" in want and image_type != "original":
        # shape analog is emitted only on the original image type
        for f in SEQSHAPE_FEATURES:
            cols[f"seqshape_{f}"] = np.full(r.B, np.nan)
    elif "seqshape" in want:
        for f, v in seqshape_batch(r0, valid).items():
            cols[f"seqshape_{f}"] = v

    # per-doc semantics: ROI below minimum size (whole row) or over the
    # gray-level cap (this image type) → NaN features
    nan_docs = (n_valid < max(settings.minimum_roi_size, 1)) | over_cap
    if nan_docs.any():
        for c, v in cols.items():
            if c.startswith("diag_"):
                continue
            v = np.asarray(v, dtype=np.float64).copy()
            v[nan_docs] = np.nan
            cols[c] = v
    return cols


def _normalized(r0, settings: ExtractionSettings):
    """The batch z-normalized when ``settings.normalize`` is set — the
    first step of the pipeline, before resegmentation and transforms."""
    from pyradiomics_spark.kernels.batch import normalize_batch

    if not (settings.normalize and r0.x.size):
        return r0
    return r0.with_x(normalize_batch(
        r0, settings.normalize_scale, settings.remove_outliers))


def _over_cap(r, settings: ExtractionSettings,
              valid: np.ndarray | None = None) -> np.ndarray:
    """(B,) FBW gray-level-range guard (web-scale garbage docs): True
    where a doc's valid positions span more than ``max_gray_levels``
    bins, since a single huge "token" under a small bin width would make
    the global 1..G grid — and the B×G×G texture tensors —
    executor-OOM-sized. Never set under FBN."""
    if settings.bin_count is not None or r.x.size == 0:
        return np.zeros(r.B, dtype=bool)
    fl = np.floor(r.x / settings.bin_width)
    if valid is None:
        fmn, fmx = r.segmin(fl), r.segmax(fl)
    else:
        fmn = r.segmin(np.where(valid, fl, np.inf))
        fmx = r.segmax(np.where(valid, fl, -np.inf))
    with np.errstate(invalid="ignore"):
        return (fmx - fmn + 1) > settings.max_gray_levels


def _class_features(settings: ExtractionSettings, want, r, levels,
                    valid: np.ndarray | None = None, rv=None,
                    levels_v: np.ndarray | None = None) -> dict:
    """{"<class>_<feature>": (B,) array} for the firstorder and texture
    classes in ``want`` — the one class→kernel dispatch of
    ``extract_features`` and ``voxel_feature_maps``. Texture kernels read
    ``levels`` on r's full layout (0 at positions masked out by
    ``valid``); firstorder reads the ROI-compacted ``rv``/``levels_v``
    (r/levels when nothing is masked)."""
    from pyradiomics_spark.kernels.batch import (
        firstorder_batch, glcm_batch, gldm_batch, ngtdm_batch,
        runs_batch_features)

    if valid is None:
        rv, levels_v = r, levels
    cols: dict = {}

    def put(cls, feats):
        for f, v in feats.items():
            cols[f"{cls}_{f}"] = v

    if "firstorder" in want:
        put("firstorder", firstorder_batch(rv, levels_v,
                                           settings.voxel_array_shift))
    if "glcm" in want:
        put("glcm", glcm_batch(r, levels, settings.distances,
                               settings.symmetrical_glcm,
                               settings.weighting_norm, valid))
    if "glrlm" in want or "glszm" in want:
        rl, sz = runs_batch_features(r, levels, valid)
        if "glrlm" in want:
            put("glrlm", rl)
        if "glszm" in want:
            put("glszm", sz)
    if "ngtdm" in want:
        put("ngtdm", ngtdm_batch(r, levels, settings.distances, valid))
    if "gldm" in want:
        put("gldm", gldm_batch(r, levels, settings.gldm_a,
                               settings.distances, valid))
    return cols


def extraction_schema(df: DataFrame, keys: Iterable, settings: ExtractionSettings) -> str:
    key_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    parts = [f"`{k}` {key_fields[k]}" for k in keys]
    parts += ["image_type string", "diag_n_tokens int", "diag_n_valid int"]
    parts += [f"`{c}` double" for c in feature_columns(settings)]
    return ", ".join(parts)


def extract_features(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    settings: ExtractionSettings | None = None,
) -> DataFrame:
    """Wide feature table: one output row per input row per image type.

    Shuffle-free on inputs with enough splits: one mapInArrow over the
    scan, whatever the tokenizer or intensity mode. Column pruning matters
    — we select only keys + text before the Arrow boundary.
    """
    if settings is None:
        settings = ExtractionSettings()
    keys = tuple(keys)
    cols = list(keys) + [text_col]
    src = df.select(*cols)
    # kernel-bound stage: if the scan has fewer splits than the cluster has
    # slots (tiny files / single parquet row group), fan out first — one
    # cheap shuffle of (keys, text) buys full task parallelism. Big inputs
    # (many splits) skip this.
    if not df.isStreaming:  # streams parallelize per micro-batch source split
        spark = df.sparkSession
        slots = spark.sparkContext.defaultParallelism
        # exact split-count check: file COUNT is not a safe proxy (Spark's
        # split packing — maxPartitionBytes/openCostInBytes — can coalesce
        # thousands of tiny files into a handful of partitions, and
        # skipping the repartition there silently serializes the kernel
        # stage). The src.rdd conversion is one bounded driver-side plan
        # walk per extract_features call — correctness over that cost.
        if src.rdd.getNumPartitions() < slots:
            # 1×slots measured fastest for the batched kernel (bigger
            # batches amortize; AQE handles stragglers at real scale)
            src = src.repartition(slots)
    schema = extraction_schema(df, keys, settings)
    fcols = feature_columns(settings)
    image_types = settings.image_types

    out_cols = list(keys) + ["image_type", "diag_n_tokens", "diag_n_valid"] + fcols
    ti = len(keys)  # src column order: keys…, text

    def run_arrow(batches):
        import pyarrow as pa

        for rb in batches:
            r0 = arrow_intensity(rb.column(ti), settings)
            n = rb.num_rows
            for it in image_types:
                cols = _extract_from_ragged(r0, settings, image_type=it)
                arrays = [rb.column(i) for i in range(ti)]
                arrays.append(pa.array([it] * n, type=pa.string()))
                arrays.append(pa.array(
                    np.asarray(cols["diag_n_tokens"], dtype=np.int32)))
                arrays.append(pa.array(
                    np.asarray(cols["diag_n_valid"], dtype=np.int32)))
                for c in fcols:
                    v = cols.get(c)
                    if v is None:
                        arrays.append(pa.array(np.full(n, np.nan)))
                    else:
                        arrays.append(pa.array(
                            np.asarray(v, dtype=np.float64)))
                yield pa.RecordBatch.from_arrays(arrays, names=out_cols)

    return src.mapInArrow(run_arrow, schema=schema)


def pivot_wide(
    df: DataFrame,
    keys: tuple,
    pivot_col: str,
    value_col: str,
    values: tuple,
    agg: str = "sum",
    fill_value=None,
    prefix: str = "",
) -> DataFrame:
    """Long → wide (the inverse of ``melt_features``): one output column
    per entry of ``values``, aggregating ``value_col`` with ``agg``
    (sum/count/avg/min/max) per ``keys`` group — the feature-table
    assembly step after long-form extraction.

    ``values`` is REQUIRED: an explicit domain compiles to conditional
    aggregation — ONE map-side-combined hash aggregate whose partial rows
    carry the |values|-wide vector. That beats both alternatives:
    ``DataFrame.pivot`` without values runs a hidden distinct+collect
    pre-job over the pivot column (driver OOM on an unbounded domain),
    and even WITH values Spark plans pivot as two chained aggregates —
    (keys, pivot) then pivotfirst(keys) — i.e. two shuffles where this
    needs one. Unseen combinations yield null (or ``fill_value``);
    pivot-column values outside ``values`` are dropped, so the domain
    must come from config, not hope."""
    aggs = {"sum": F.sum, "count": F.count, "avg": F.avg,
            "min": F.min, "max": F.max}
    if agg not in aggs:
        raise ValueError(f"agg must be one of {sorted(aggs)}, got {agg!r}")
    if not values:
        raise ValueError("values must be a non-empty explicit domain")
    cols = [
        aggs[agg](
            F.when(F.col(pivot_col) == F.lit(v), F.col(value_col))
        ).alias(f"{prefix}{v}")
        for v in values
    ]
    out = df.groupBy(*[F.col(k) for k in keys]).agg(*cols)
    if fill_value is not None:
        out = out.fillna(fill_value, [f"{prefix}{v}" for v in values])
    return out


def melt_features(wide: DataFrame, keys: tuple = ("url", "warc_ts")) -> DataFrame:
    """Wide → long (key..., image_type, feature_name, value) via builtin
    ``stack`` — stays JVM-side, no UDF."""
    fcols = [c for c in wide.columns
             if c not in keys and c not in ("image_type", "diag_n_tokens", "diag_n_valid")]
    n = len(fcols)
    pairs = ", ".join(f"'{c}', `{c}`" for c in fcols)
    expr = f"stack({n}, {pairs}) as (feature_name, value)"
    return wide.selectExpr(*[f"`{k}`" for k in keys], "image_type", expr)
