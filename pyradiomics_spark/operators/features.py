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

That stage (``_arrow_stage``) and the preparation step (``_prepare``) are
shared: ``extract_features``, ``voxel.voxel_feature_maps`` and
``matrices.extract_matrices`` are each an output-field list plus a
per-batch function, so all three read the same levels and ROI mask.

Pipeline per case (order mirrors featureextractor.execute):
normalize → (resegment mask from original intensities) → per image type:
transform → gray-level cap → discretize → per feature class: kernel
features.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

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
from pyradiomics_spark.kernels.batch import Ragged
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


class _Prepared(NamedTuple):
    """One decoded batch after ``_prepare``."""
    r: Ragged                  # the image type's intensities
    valid: np.ndarray | None   # ROI mask: resegmented and under the cap
    n_valid: np.ndarray        # (B,) resegmented ROI size
    nan_docs: np.ndarray       # (B,) ROI too small or over the cap
    rv: Ragged                 # r compacted to the ROI (r when unmasked)
    levels_v: np.ndarray       # gray levels of rv
    levels: np.ndarray         # levels on r's layout, 0 where masked


def _prepare(r0, settings: ExtractionSettings,
             image_type: str = "original") -> _Prepared:
    """The one preparation step of every extraction operator, in the
    order of _extract_one / featureextractor.execute: normalize →
    resegment mask (from post-normalize ORIGINAL intensities) → transform
    whole sequence → gray-level cap → discretize ROI."""
    from pyradiomics_spark.kernels.batch import (
        discretize_batch, normalize_batch, resegment_batch, transform_batch)

    if settings.normalize and r0.x.size:
        r0 = r0.with_x(normalize_batch(
            r0, settings.normalize_scale, settings.remove_outliers))
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
        levels = levels_v
    else:
        levels = np.zeros(r.x.size, dtype=np.int64)
        levels[valid] = levels_v
    # per-doc semantics: ROI below minimum size (whole row) or over the
    # gray-level cap (this image type) → NaN features
    nan_docs = (n_valid < max(settings.minimum_roi_size, 1)) | over_cap
    return _Prepared(r, valid, n_valid, nan_docs, rv, levels_v, levels)


def _extract_from_ragged(r0, settings: ExtractionSettings,
                         image_type: str = "original") -> dict:
    """All features of one image type for a decoded batch
    (kernels.batch). Returns {column: (B,) array} including diagnostics."""
    from pyradiomics_spark.kernels.batch import seqshape_batch

    p = _prepare(r0, settings, image_type)
    cols: dict = {
        "diag_n_tokens": p.r.lens.astype(np.int64),
        "diag_n_valid": p.n_valid,
    }
    want = set(settings.feature_classes)
    cols.update(_class_features(settings, want, p.r, p.levels, p.valid,
                                p.rv, p.levels_v))
    if "seqshape" in want and image_type != "original":
        # shape analog is emitted only on the original image type
        for f in SEQSHAPE_FEATURES:
            cols[f"seqshape_{f}"] = np.full(p.r.B, np.nan)
    elif "seqshape" in want:
        for f, v in seqshape_batch(p.r, p.valid).items():
            cols[f"seqshape_{f}"] = v
    if p.nan_docs.any():
        for c, v in cols.items():
            if c.startswith("diag_"):
                continue
            v = np.asarray(v, dtype=np.float64).copy()
            v[p.nan_docs] = np.nan
            cols[c] = v
    return cols


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


def _arrow_stage(df: DataFrame, keys, text_col: str,
                 settings: ExtractionSettings, fields: list,
                 per_batch: Callable) -> DataFrame:
    """The one extraction stage of ``extract_features``,
    ``voxel_feature_maps`` and ``extract_matrices``: a mapInArrow over
    (keys…, text) that decodes each Arrow batch once
    (``functions.text.arrow_intensity``) and assembles what
    ``per_batch(r0)`` yields. ``fields`` are the (name, "string" | "int"
    | "double") output columns after the keys. Each yield is
    ``(rows, cols)``: ``rows`` the input-row index of every output row
    (None: one output row per input row), keys carried by Arrow ``take``;
    ``cols`` {name: (n,) array, or one str for a constant string}.

    Column pruning matters — only keys + text cross the Arrow boundary.
    """
    keys = tuple(keys)
    key_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join([f"`{k}` {key_types[k]}" for k in keys]
                       + [f"`{n}` {t}" for n, t in fields])
    names = list(keys) + [n for n, _ in fields]
    src = df.select(*keys, text_col)
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
        # walk per extraction call — correctness over that cost.
        if src.rdd.getNumPartitions() < slots:
            # 1×slots measured fastest for the batched kernel (bigger
            # batches amortize; AQE handles stragglers at real scale)
            src = src.repartition(slots)
    nk = len(keys)  # src column order: keys…, text

    def run_arrow(batches):
        import pyarrow as pa

        types = {"string": pa.string(), "int": pa.int32(),
                 "double": pa.float64()}
        for rb in batches:
            for rows, cols in per_batch(arrow_intensity(rb.column(nk),
                                                        settings)):
                n = rb.num_rows if rows is None else rows.size
                take = None if rows is None else pa.array(rows, pa.int64())
                arrays = [rb.column(i) if take is None
                          else rb.column(i).take(take) for i in range(nk)]
                for name, t in fields:
                    v = cols[name]
                    arrays.append(pa.array([v] * n if isinstance(v, str)
                                           else v, type=types[t]))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return src.mapInArrow(run_arrow, schema=schema)


def extract_features(
    df: DataFrame,
    keys: tuple = ("url", "warc_ts"),
    text_col: str = "text",
    settings: ExtractionSettings | None = None,
) -> DataFrame:
    """Wide feature table: one output row per input row per image type.

    Shuffle-free on inputs with enough splits: one mapInArrow over the
    scan (``_arrow_stage``), whatever the tokenizer or intensity mode.
    """
    if settings is None:
        settings = ExtractionSettings()
    fields = ([("image_type", "string"), ("diag_n_tokens", "int"),
               ("diag_n_valid", "int")]
              + [(c, "double") for c in feature_columns(settings)])

    def per_batch(r0):
        for it in settings.image_types:
            yield None, {"image_type": it,
                         **_extract_from_ragged(r0, settings, it)}

    return _arrow_stage(df, keys, text_col, settings, fields, per_batch)


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
