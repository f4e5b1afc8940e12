"""Validated extraction settings.

Mirrors the reference's flat settings dict with schema validation
(defaults: /root/reference/radiomics/featureextractor.py:147-163, schema:
/root/reference/radiomics/schemas/paramSchema.yaml) as a plain dataclass that
is cheap to broadcast to executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Optional

#: Machine epsilon used by the reference in entropy-style formulas
#: (``numpy.spacing(1)``, e.g. /root/reference/radiomics/firstorder.py:199).
EPS = 2.220446049250313e-16

#: "seqshape" = 1-D shape analog (intensity-free; computed once per case on
#: the 'original' image type only, like the reference's shape class)
ALL_FEATURE_CLASSES = (
    "firstorder", "glcm", "glrlm", "glszm", "ngtdm", "gldm", "seqshape",
)

#: Derived "image types": elementwise transforms with global rescale
#: (reference imageoperations.py:973-1073), gradient magnitude (:1076-1091),
#: SWT subbands at levels 1 and 2 (:839-970 analog, à trous cascade),
#: LoG (:756-836 analog), and the 1-D LBP analog (:1094-1166 analog).
ALL_IMAGE_TYPES = (
    "original", "square", "squareroot", "logarithm", "exponential",
    "gradient", "wavelet-L", "wavelet-H", "wavelet-L2", "wavelet-H2",
    "log-sigma-2", "lbp-r1", "lbp-r2",
)

def is_valid_image_type(name: str) -> bool:
    """Fixed names plus the parameterized families (the reference
    enumerates wavelet subbands / LoG sigmas / LBP radii dynamically from
    settings — imageoperations.py getWaveletImage/getLoGImage kwargs) —
    RANGE-checked so the executors never see a config that crashes or
    silently degenerates: wavelet level 1..8 (à trous filters grow 2^level),
    sigma > 0, lbp radius 1..32. One parser shared with the transform
    dispatch (functions.intensity.parse_image_type), not a second regex."""
    if name in ALL_IMAGE_TYPES:
        return True
    from pyradiomics_spark.functions.intensity import parse_image_type

    parsed = parse_image_type(name)
    if parsed is None:
        return False
    if parsed[0] == "wavelet":
        return 1 <= parsed[2] <= 8
    if parsed[0] == "log":
        return parsed[1] > 0
    if parsed[0] == "lbp":
        return 1 <= parsed[1] <= 32
    return False  # pragma: no cover


@dataclass(frozen=True)
class ExtractionSettings:
    """Flat, validated settings broadcast to executors.

    Defaults follow /root/reference/radiomics/featureextractor.py:147-163:
    binWidth=25, label=1, distances=[1], symmetricalGLCM=True, gldm_a=0,
    voxelArrayShift=0 (firstorder.py:37).
    """

    # --- discretization (imageoperations.py:67-174) ---
    bin_width: float = 25.0
    bin_count: Optional[int] = None  # when set, fixed-bin-count mode wins
    #: FBW guard for web-scale garbage AND batch memory: a doc whose
    #: discretized level RANGE exceeds this (e.g. one multi-megabyte
    #: "token" of minified JS at bin_width=1) gets NaN features for that
    #: image type. The reference only ever warns ("Number of bins is
    #: greater than expected") — at 10^12 documents a warn-and-allocate is
    #: a cluster-killer, because the batched texture kernels materialize
    #: dense (batch_docs × G × G) grids: at the 10k-row Arrow batch size,
    #: G=128 is ~1.3 GB per tensor and G grows it quadratically. Token
    #: intensities discretize to G ≈ 15 in practice; raise deliberately
    #: (and only with small Arrow batches) if your payload needs more.
    #: FBN mode is inherently bounded by bin_count.
    max_gray_levels: int = 128

    # --- texture matrices ---
    distances: tuple = (1,)            # GLCM/NGTDM/GLDM neighborhood distances
    symmetrical_glcm: bool = True      # glcm.py:155-157
    weighting_norm: Optional[str] = None  # None|'manhattan'|'euclidean'|'infinity'|'no_weighting'
    gldm_a: float = 0.0                # dependence cutoff alpha (gldm.py:71)

    # --- firstorder ---
    voxel_array_shift: float = 0.0     # firstorder.py:37

    # --- normalization (imageoperations.py:615-654) ---
    normalize: bool = False
    normalize_scale: float = 1.0
    remove_outliers: Optional[float] = None  # n·σ clamp after z-normalize

    # --- resegmentation (imageoperations.py:657-742) ---
    resegment_range: Optional[tuple] = None
    resegment_mode: str = "absolute"   # absolute | relative | sigma

    # --- ROI validity (checkMask minimumROISize, imageoperations.py:292-310) ---
    minimum_roi_size: int = 1

    # --- enabled surface ---
    feature_classes: tuple = ALL_FEATURE_CLASSES
    image_types: tuple = ("original",)

    # --- convolutional filter settings (imageoperations.py:899-970 kwargs:
    # 'wavelet', 'start_level'; LoG sigma and LBP radius are encoded in the
    # image-type NAME like the reference's derived-image naming) ---
    wavelet: str = "coif1"             # haar | db1..20 | sym2..12 | coif1..5
    wavelet_start_level: int = 0       # à trous cascade offset

    # --- tokenizer / intensity derivation (our engine's "image load") ---
    tokenizer: str = "whitespace"      # whitespace | bpe_regex
    intensity_mode: str = "token_len"  # token_len | hash_bucket
    intensity_buckets: int = 64        # for hash_bucket mode

    def __post_init__(self):
        if self.bin_count is not None and self.bin_count < 1:
            raise ValueError("bin_count must be >= 1")
        if self.bin_width <= 0:
            raise ValueError("bin_width must be > 0")
        if self.max_gray_levels < 2:
            raise ValueError("max_gray_levels must be >= 2")
        if not self.distances:
            raise ValueError("distances must be non-empty")
        if any((not float(d).is_integer()) or d < 1 for d in self.distances):
            raise ValueError(f"distances must be integers >= 1: {self.distances}")
        if len(set(self.distances)) != len(self.distances):
            # per-doc kernels dedupe offsets via a set while batched kernels
            # loop over distances as-is — a duplicate would silently change
            # GLDM dependence counts on one path only. Reject it.
            raise ValueError(f"duplicate distances: {self.distances}")
        if self.resegment_mode not in ("absolute", "relative", "sigma"):
            raise ValueError(f"bad resegment_mode: {self.resegment_mode}")
        if self.weighting_norm not in (
                None, "manhattan", "euclidean", "infinity", "no_weighting"):
            # a typo here would otherwise SILENTLY weight the GLCM by
            # exp(-d²) (the else-branch in both kernels)
            raise ValueError(f"bad weighting_norm: {self.weighting_norm}")
        if self.tokenizer not in ("whitespace", "bpe_regex"):
            raise ValueError(f"bad tokenizer: {self.tokenizer}")
        if self.intensity_mode not in ("token_len", "hash_bucket"):
            raise ValueError(f"bad intensity_mode: {self.intensity_mode}")
        bad = set(self.feature_classes) - set(ALL_FEATURE_CLASSES)
        if bad:
            raise ValueError(f"unknown feature classes: {bad}")
        bad = {it for it in self.image_types if not is_valid_image_type(it)}
        if bad:
            raise ValueError(f"unknown image types: {bad}")
        from pyradiomics_spark.functions.wavelets import get_bank
        get_bank(self.wavelet)  # raises on unsupported wavelet
        if not 0 <= self.wavelet_start_level <= 8:
            # the à-trous upsample allocates (taps-1)·2^(start+level-1)+1
            # doubles — an unbounded start level is a memory bomb from YAML
            # (mirrors the 1..8 level cap is_valid_image_type enforces)
            raise ValueError("wavelet_start_level must be in 0..8")

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "ExtractionSettings":
        d = dict(d)
        for k in ("distances", "feature_classes", "image_types", "resegment_range"):
            if k in d and d[k] is not None:
                d[k] = tuple(d[k])
        return cls(**d)
