"""Cross-document batched kernels: one numpy reduction per FEATURE per
Arrow batch instead of per document.

The per-doc kernels spend ~90 small-array numpy calls per document
(~4 µs overhead each) — the single-thread throughput ceiling. Here every
feature is a vectorized reduction over padded per-batch tensors:

* (B, L) ragged values → concatenated array + ``np.add.reduceat`` /
  bincount with per-doc offsets;
* texture matrices on a FULL 1..G global level grid with zero mass in
  absent cells — numerically identical to the per-doc compacted matrices
  because every feature reduction multiplies by the (zero) cell mass, and
  0·log2(0+eps) = 0 (the compaction in glcm.py:149-152 etc. affects no
  normalization: denominators are mass sums);
* the only non-vectorizable pieces stay as thin per-doc loops: percentile
  interpolation indexing (pure arithmetic on a batch-sorted array) and the
  GLCM MCC eigendecomposition (compacted per doc, like the reference).

One feature algebra per texture family: GLCM builds its co-occurrence
counts as a dense (B, G, G) tensor or, past ``_GLCM_DENSE_MAX_SLOTS``, as
sparse cells, and each arm only derives its primitives (mass, marginals,
p(x±y), entropies, MCC submatrices) for the one shared reduction
``_glcm_reduce``; GLSZM and GLDM bind the GLRLM reductions
(``_rlm_features``) to their own feature names; every neighbour-pair
kernel takes its same-doc/valid pairs from ``_adjacent``.

Supported settings envelope (round 2): the FULL validated settings surface —
FBW (any width, FP-exact digitize parity) and FBN discretization, normalize
(±nσ clamp), resegmentation masks (absolute/relative/sigma), symmetric and
directed GLCM, distance weighting, multi-distance, every image type
including the wavelet subbands and LoG (batched per-tap circular
convolution). The per-doc kernels remain as the ground-truth twin.

Parity with the per-doc kernels is asserted to 1e-9 in
tests/test_batch_kernels.py over the golden fixture corpus.
"""

from __future__ import annotations

import copy

import numpy as np

from pyradiomics_spark.config import EPS


# ----------------------------------------------------------------- layout

class Ragged:
    """Concatenated per-doc arrays + offsets."""

    def __init__(self, arrays):
        vars(self).update(vars(Ragged.from_concat(
            np.concatenate(arrays) if arrays else np.empty(0),
            [a.size for a in arrays])))

    @classmethod
    def from_concat(cls, x: np.ndarray, lens) -> "Ragged":
        """Build directly from an already-concatenated value array + per-doc
        lengths (the Arrow string-buffer fast path: no per-doc python
        arrays are ever materialized). The one place the layout is set."""
        r = object.__new__(cls)
        r.lens = np.asarray(lens, dtype=np.int64)
        r.B = r.lens.size
        r.starts = np.zeros(r.B, dtype=np.int64)
        np.cumsum(r.lens[:-1], out=r.starts[1:])
        r.x = np.asarray(x)
        r.doc = np.repeat(np.arange(r.B), r.lens)
        r.nonempty = r.lens > 0
        # reduceat over NONEMPTY docs only (their starts are strictly
        # increasing and < size; empty docs occupy no positions, so the
        # nonempty segments are exact) — clamping empty starts instead
        # would truncate the segment before a trailing empty doc
        r._ne_starts = r.starts[r.nonempty]
        return r

    def with_x(self, new_x: np.ndarray) -> "Ragged":
        """Same layout, different values (for derived image types)."""
        clone = copy.copy(self)
        clone.x = new_x
        return clone

    def masked(self, valid: np.ndarray) -> "Ragged":
        """Ragged of only the valid positions (per-doc ROI compaction);
        same doc count, shorter segments."""
        return Ragged.from_concat(
            self.x[valid], np.bincount(self.doc[valid], minlength=self.B))

    def reduceat(self, arr, ufunc=np.add):
        """Per-doc reduction of a concat-aligned array (0 for empty docs)."""
        out = np.zeros(self.B)
        if self.x.size == 0 or self._ne_starts.size == 0:
            return out
        out[self.nonempty] = ufunc.reduceat(arr, self._ne_starts)
        return out

    def segsum(self, arr):
        return self.reduceat(arr, np.add)

    def segmax(self, arr):
        return self.reduceat(arr, np.maximum)

    def segmin(self, arr):
        return self.reduceat(arr, np.minimum)


def _adjacent(r: Ragged, dist: int,
              valid: np.ndarray | None = None) -> np.ndarray:
    """(n − dist,) mask of the position pairs (p, p + dist) that are
    neighbours: both in the same doc and, under a mask, both valid
    (masked positions break adjacency like out-of-ROI voxels,
    cmatrices.c:4-92 bounds/mask checks). Empty when n ≤ dist."""
    same = r.doc[:-dist] == r.doc[dist:]
    if valid is not None:
        same &= valid[:-dist] & valid[dist:]
    return same


def discretize_batch(r: Ragged, bin_width: float,
                     bin_count: int | None = None) -> np.ndarray:
    """Levels with EXACT np.digitize(bin_edges()) parity (kernels.binning),
    vectorized — valid for any float values (fractional widths, normalized
    intensities, wavelet outputs) and both FBW and FBN modes.

    Strategy: arithmetic candidate level, then a short correction loop that
    checks the candidate against the EXACT edge values the per-doc path
    materializes (np.arange fills start + i·step; np.linspace fills
    i·step + start with the endpoint pinned) — a 1-ulp disagreement between
    floor-division and the edge array moves the candidate by at most one
    bin per pass.
    """
    x = r.x
    if x.size == 0:
        return np.zeros(0, dtype=np.int64)
    doc = r.doc
    mn = r.segmin(x)
    mx = r.segmax(x)

    if bin_count is None:
        w = float(bin_width)
        low = mn - (mn % w)          # same op as binning.bin_edges:39
        if w.is_integer():
            # integer grid: np.arange's incremental fill is exact, so the
            # closed-form edges low + k·w are the true edges; candidate +
            # a (cheap, usually no-op) verification pass
            lowd = low[doc]
            t = np.floor((x - lowd) / w) + 1.0
            # exact for |x| within 2^53; the wider bound is insurance for
            # beyond-integer-precision magnitudes (same walk as FBN)
            for _ in range(64):
                bad_lo = x < lowd + (t - 1.0) * w
                bad_hi = x >= lowd + t * w
                if not bad_lo.any() and not bad_hi.any():
                    break  # exits after one check on integer inputs
                t = np.where(bad_lo, t - 1.0, np.where(bad_hi, t + 1.0, t))
            return t.astype(np.int64)
        # fractional width: np.arange fills edges INCREMENTALLY (value +=
        # step), so a closed-form low + k·w model drifts ~1 ulp per step on
        # non-dyadic widths — enough to flip a bin (caught by the
        # hypothesis parity property at w=0.01). Exact parity therefore
        # materializes the true per-doc edge array; one arange +
        # searchsorted per DOC (not per token), ~8 µs/doc.
        out = np.empty(x.size, dtype=np.int64)
        for b in np.flatnonzero(r.nonempty):
            s, ln = r.starts[b], r.lens[b]
            edges = np.arange(low[b], mx[b] + 2 * w, w)
            out[s:s + ln] = np.searchsorted(edges, x[s:s + ln], side="right")
        return out

    k = int(bin_count)
    # np.histogram expands a zero-width range to (v−.5, v+.5); binning then
    # bumps the LAST edge +1 so the max joins the top half-open bin
    flat = mn == mx
    first = np.where(flat, mn - 0.5, mn)
    last = np.where(flat, mn + 0.5, mx)
    step = (last - first) / k
    # subnormal spans can UNDERFLOW step to 0 with mn != mx (e.g. a doc
    # spanning [0, 5e-324]): candidate arithmetic would be 0/0 — those rare
    # docs take the literal per-doc bin_edges path below
    weird = (~(step > 0)) | ~np.isfinite(step)
    step_safe = np.where(weird, 1.0, step)
    t = np.floor((x - first[doc]) / step_safe[doc]).astype(np.int64) + 1

    def edge(i):
        # np.linspace fills i·step + start and pins edges[k] = last (+1)
        return np.where(i >= k, last[doc] + 1.0, i * step_safe[doc] + first[doc])

    # normally converges in <= 2 passes (the candidate is within one bin
    # of truth), but a degenerate doc whose span is ~1 ulp of a large
    # value COLLAPSES consecutive linspace edges onto the same double —
    # digitize then lands the minimum several bins up, and the candidate
    # must walk there one bin per pass: bound by k+2, not 3 (hypothesis
    # falsified the old cap with x=[1e6, 1e6-1ulp], k=9)
    for _ in range(k + 2):
        bad_lo = x < edge(t - 1)
        bad_hi = x >= edge(t)
        if not bad_lo.any() and not bad_hi.any():
            break
        t = np.where(bad_lo, t - 1, np.where(bad_hi, t + 1, t))
    t = t.astype(np.int64)
    if weird.any():
        from pyradiomics_spark.kernels.binning import bin_edges

        for b in np.flatnonzero(weird & r.nonempty):
            s, ln = r.starts[b], r.lens[b]
            ed = bin_edges(x[s:s + ln], bin_count=k)
            t[s:s + ln] = np.searchsorted(ed, x[s:s + ln], side="right")
    return t


def normalize_batch(r: Ragged, scale: float = 1.0,
                    remove_outliers: float | None = None) -> np.ndarray:
    """functions.intensity.normalize vectorized over the ragged batch:
    z-score with the UNBIASED N−1 sigma (ITK semantics), ×scale, optional
    ±nσ·scale clamp. Returns a concat-aligned array."""
    n = r.lens.astype(np.float64)
    safe_n = np.maximum(n, 1.0)
    mean = r.segsum(r.x) / safe_n
    d = r.x - mean[r.doc]
    var = r.segsum(d * d) / np.maximum(n - 1.0, 1.0)
    sigma = np.sqrt(var)
    # flat docs must hit the sigma==0 branch exactly (reduceat residue guard)
    sigma = np.where((r.segmin(r.x) == r.segmax(r.x)) | (n <= 1), 0.0, sigma)
    sd = sigma[r.doc]
    out = np.where(sd > 0, d / np.where(sd > 0, sd, 1.0), 0.0)
    out = out * scale
    if remove_outliers is not None:
        bound = remove_outliers * scale
        out = np.clip(out, -bound, bound)
    return out


def resegment_batch(r: Ragged, rng: tuple, mode: str = "absolute") -> np.ndarray:
    """functions.intensity.resegment_bounds vectorized → per-position
    validity mask (bounds derived per doc from the post-normalize
    'original' intensities, like the per-doc path)."""
    lo, hi = (rng[0], rng[1]) if len(rng) == 2 else (rng[0], None)
    B = r.B
    if mode == "absolute":
        lo_v = np.full(B, lo if lo is not None else -np.inf)
        hi_v = np.full(B, hi if hi is not None else np.inf)
    elif mode == "relative":
        m = r.segmax(r.x)
        lo_v = lo * m if lo is not None else np.full(B, -np.inf)
        hi_v = hi * m if hi is not None else np.full(B, np.inf)
    elif mode == "sigma":
        n = np.maximum(r.lens, 1).astype(np.float64)
        mean = r.segsum(r.x) / n
        d = r.x - mean[r.doc]
        sd = np.sqrt(r.segsum(d * d) / n)  # population σ, like np.std
        lo_v = mean + lo * sd if lo is not None else np.full(B, -np.inf)
        hi_v = mean + hi * sd if hi is not None else np.full(B, np.inf)
    else:  # pragma: no cover — config validates
        raise ValueError(f"bad resegment mode {mode}")
    return (r.x >= lo_v[r.doc]) & (r.x <= hi_v[r.doc])


# ----------------------------------------------------- derived image types

def lbp_batch(r: Ragged, radius: int = 1) -> np.ndarray:
    """functions.intensity.lbp_transform vectorized: per-position count of
    same-doc neighbors in ±radius with value >= the center."""
    x = r.x
    out = np.zeros(x.size)
    for d in range(1, radius + 1):
        same = _adjacent(r, d)
        out[:-d] += same & (x[d:] >= x[:-d])
        out[d:] += same & (x[:-d] >= x[d:])
    return out


def _circ_conv_layout(x, starts, lens, doc, h, shift: int = 0):
    """y[p] = Σ_k h[k] · x[start_doc + ((i_in + shift − k) mod len_doc)] —
    per-doc circular convolution over a concatenated layout, one fancy-
    indexed gather per filter tap (taps ≤ 17, so ≤ 17 passes instead of a
    per-doc (n, m) index matrix)."""
    n = x.size
    y = np.zeros(n)
    if n == 0:
        return y
    i_in = np.arange(n) - starts[doc]
    ln = lens[doc]
    base = starts[doc]
    for k, w in enumerate(h):
        src = (i_in + shift - k) % ln
        y += w * x[base + src]
    return y


def wavelet_batch(r: Ragged, which: str, wavelet: str = "coif1",
                  level: int = 1, start_level: int = 0) -> np.ndarray:
    """Batched SWT subband (functions.wavelets.swt_level semantics): odd
    docs padded to even length by wrapping the first sample, à trous
    periodic convolution cascade, cropped back. Concat-aligned output."""
    from pyradiomics_spark.functions.wavelets import _upsample, get_bank

    lo, hi = get_bank(wavelet)
    odd = (r.lens % 2 == 1)
    plens = r.lens + odd
    pstarts = np.zeros(r.B, dtype=np.int64)
    np.cumsum(plens[:-1], out=pstarts[1:])
    pN = int(plens.sum())
    if pN == 0:
        return np.zeros(0)
    pdoc = np.repeat(np.arange(r.B), plens)
    p_i_in = np.arange(pN) - pstarts[pdoc]
    keep = p_i_in < r.lens[pdoc]
    src_in = np.where(keep, p_i_in, 0)          # wrap-pad with x[0]
    a = r.x[r.starts[pdoc] + src_in]
    for j in range(start_level, start_level + level - 1):
        a = _circ_conv_layout(a, pstarts, plens, pdoc, _upsample(lo, j))
    jf = start_level + level - 1
    hf = _upsample(hi if which == "H" else lo, jf)
    y = _circ_conv_layout(a, pstarts, plens, pdoc, hf)
    return y[keep]


def log_batch(r: Ragged, sigma: float = 2.0) -> np.ndarray:
    """Batched Laplacian-of-Gaussian (functions.wavelets.log_filter
    semantics): standard truncated kernel for docs ≥ kernel size via the
    per-tap gather; rare short docs (< 17 tokens at σ=2) take the per-doc
    shrunk-kernel path — trivially small arrays."""
    from pyradiomics_spark.functions.wavelets import log_filter, log_kernel

    k = log_kernel(sigma)
    rad = (k.size - 1) // 2
    out = np.zeros(r.x.size)
    long_doc = r.lens >= k.size
    if long_doc.any():
        sel = long_doc[r.doc]
        rl = r.masked(sel)
        # log_filter centers via np.roll(conv, -rad): y[n] = conv[(n+rad) mod N]
        out[sel] = _circ_conv_layout(rl.x, rl.starts, rl.lens, rl.doc, k,
                                     shift=rad)
    for b in np.flatnonzero(~long_doc & r.nonempty):
        s, ln = r.starts[b], r.lens[b]
        out[s:s + ln] = log_filter(r.x[s:s + ln], sigma)
    return out


def transform_batch(r: Ragged, kind: str, settings=None) -> np.ndarray:
    """Per-doc global-rescale transforms (imageoperations.py:973-1091
    semantics) vectorized over the ragged batch; returns a concat-aligned
    array (same layout as ``r.x``). Parameterized names (wavelet-L<k>,
    log-sigma-<s>, lbp-r<n>) honor the settings like
    functions.intensity.apply_transform."""
    from pyradiomics_spark.functions.intensity import parse_image_type

    parsed = parse_image_type(kind)
    if parsed is not None:
        if parsed[0] == "wavelet":
            wavelet = getattr(settings, "wavelet", "coif1") if settings else "coif1"
            start = getattr(settings, "wavelet_start_level", 0) if settings else 0
            return wavelet_batch(r, parsed[1], wavelet=wavelet,
                                 level=parsed[2], start_level=start)
        if parsed[0] == "log":
            return log_batch(r, sigma=parsed[1])
        if parsed[0] == "lbp":
            return lbp_batch(r, radius=parsed[1])
    x = r.x
    if kind == "original":
        return x.astype(np.float64)
    if kind == "square":
        m = r.segmax(np.abs(x))[r.doc]
        return np.where(m == 0, x, (np.where(m > 0, 1.0 / np.sqrt(np.where(m > 0, m, 1)), 0.0) * x) ** 2)
    if kind == "squareroot":
        m = r.segmax(np.abs(x))[r.doc]
        return np.where(x > 0, np.sqrt(np.abs(x) * m),
                        np.where(x < 0, -np.sqrt(np.abs(x) * m), x))
    if kind == "logarithm":
        m = r.segmax(np.abs(x))
        out = np.where(x > 0, np.log(np.abs(x) + 1),
                       np.where(x < 0, -np.log(np.abs(x) + 1), x))
        om = r.segmax(np.abs(out))
        scale = np.where(om != 0, m / np.where(om != 0, om, 1), 1.0)
        return out * scale[r.doc]
    if kind == "exponential":
        m = r.segmax(np.abs(x))
        coeff = np.where(m > 0, np.log(np.where(m > 0, m, 1)) / np.where(m > 0, m, 1), 0.0)
        out = np.exp(coeff[r.doc] * x)
        # per-doc kernel returns all-ones when max==0
        return np.where(m[r.doc] == 0, 1.0, out)
    if kind == "gradient":
        n = x.size
        grad = np.zeros(n)
        if n > 1:
            left_ok = np.zeros(n, bool)
            right_ok = np.zeros(n, bool)
            same = _adjacent(r, 1)
            left_ok[1:] = same
            right_ok[:-1] = same
            xl = np.roll(x, 1)
            xr = np.roll(x, -1)
            grad = np.where(
                left_ok & right_ok, (xr - xl) / 2.0,
                np.where(right_ok & ~left_ok, xr - x,
                         np.where(left_ok & ~right_ok, x - xl, 0.0)))
        return np.abs(grad)
    # wavelet-*/log-sigma-*/lbp-r* are handled by the parameterized
    # dispatch at the top of this function
    raise ValueError(f"no batched transform for {kind}")


# -------------------------------------------------------------- firstorder

def _grouped_order(doc: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Stable (doc, x) sort order — the percentile sort, ~30% of the
    firstorder kernel. Fast path: when x is small non-negative integers
    (raw token-length intensities, the default web corpus), one radix
    argsort on a combined int64 key beats lexsort's float-comparison pass
    ~1.7×; float intensities (wavelet/LoG/rescale image types, NaN, or
    values past 2²¹) fall back to lexsort. Both orders yield identical
    per-doc sorted VALUES (ties permute, values don't)."""
    if x.size:
        with np.errstate(invalid="ignore"):
            ok = bool(np.all((x >= 0) & (x < (1 << 21))))
        if ok:
            xi = x.astype(np.int64)
            if np.array_equal(xi, x):
                return np.argsort(doc * (1 << 21) + xi, kind="stable")
    return np.lexsort((x, doc))


def firstorder_batch(r: Ragged, levels: np.ndarray, voxel_array_shift: float = 0.0) -> dict:
    B = r.B
    n = r.lens.astype(np.float64)
    safe_n = np.maximum(n, 1)

    shifted = r.x + voxel_array_shift
    energy = r.segsum(shifted * shifted)
    total = r.segsum(r.x)
    mean = total / safe_n

    # percentiles via batch sort + numpy linear interpolation arithmetic
    xs = r.x[_grouped_order(r.doc, r.x)]
    percs = {}
    for q in (10, 25, 50, 75, 90):
        pos = (n - 1) * (q / 100.0)
        lo = np.floor(pos).astype(np.int64)
        frac = pos - lo
        lo_idx = r.starts + np.minimum(lo, np.maximum(r.lens - 1, 0))
        hi_idx = r.starts + np.minimum(lo + 1, np.maximum(r.lens - 1, 0))
        lo_idx = np.minimum(lo_idx, max(xs.size - 1, 0))
        hi_idx = np.minimum(hi_idx, max(xs.size - 1, 0))
        if xs.size == 0:
            percs[q] = np.full(B, np.nan)
        else:
            # numpy's own linear form a[lo] + (a[hi]−a[lo])·frac — EXACT on
            # tied neighbors (the (1−frac)+frac form can overshoot by 1 ulp)
            percs[q] = xs[lo_idx] + (xs[hi_idx] - xs[lo_idx]) * frac

    mn = r.segmin(r.x)
    mx = r.segmax(r.x)

    d = r.x - mean[r.doc]
    d2 = d * d
    d3 = d2 * d  # same left-to-right FP order as d*d*d
    m2 = r.segsum(d2) / safe_n
    m3 = r.segsum(d3) / safe_n
    m4 = r.segsum(d3 * d) / safe_n
    # truly-flat docs must hit the m2==0 fixup exactly; sequential reduceat
    # sums can leave a ~1e-32 residue where numpy's pairwise mean gives an
    # exact 0 (e.g. 8 × the same irrational transform value)
    truly_flat = mn == mx
    m2 = np.where(truly_flat, 0.0, m2)
    m3 = np.where(truly_flat, 0.0, m3)
    m4 = np.where(truly_flat, 0.0, m4)
    # flat INCLUDING denormal variance (m2² underflows to 0 → the kurtosis
    # denominator vanishes); mirror of the per-doc kernel's fixup
    flat = m2 * m2 == 0
    m2s = np.where(flat, 1.0, m2)
    skew = np.where(flat, 0.0, m3 / m2s ** 1.5)
    kurt = np.where(flat, 0.0, m4 / m2s ** 2.0)
    mad = r.segsum(np.abs(d)) / safe_n

    # robust MAD: two masked passes
    in_rng = (r.x >= percs[10][r.doc]) & (r.x <= percs[90][r.doc])
    rn = np.bincount(r.doc, weights=in_rng.astype(float), minlength=B)
    rsum = np.bincount(r.doc, weights=np.where(in_rng, r.x, 0.0), minlength=B)
    rmean = rsum / np.maximum(rn, 1)
    rdev = np.bincount(
        r.doc, weights=np.where(in_rng, np.abs(r.x - rmean[r.doc]), 0.0),
        minlength=B)
    rmad = np.where(rn > 0, rdev / np.maximum(rn, 1), np.nan)

    # histogram features over discretized levels
    G = int(levels.max()) if levels.size else 1
    cnt = np.bincount(r.doc * G + (levels - 1), minlength=B * G).reshape(B, G)
    p = cnt / safe_n[:, None]
    entropy = -np.sum(p * np.log2(p + EPS), axis=1)
    # p=0 cells contribute -0·log2(eps)≈+0·52≈0 exactly (0 * finite = 0)
    uniformity = np.sum(p * p, axis=1)

    out = {
        "Energy": energy,
        "TotalEnergy": energy,
        "Entropy": entropy,
        "Minimum": mn,
        "10Percentile": percs[10],
        "90Percentile": percs[90],
        "Maximum": mx,
        "Mean": mean,
        "Median": percs[50],
        "InterquartileRange": percs[75] - percs[25],
        "Range": mx - mn,
        "MeanAbsoluteDeviation": mad,
        "RobustMeanAbsoluteDeviation": rmad,
        "RootMeanSquared": np.sqrt(energy / safe_n),
        "Skewness": skew,
        "Kurtosis": kurt,
        "Variance": m2,
        "Uniformity": uniformity,
    }
    empty = ~r.nonempty
    if empty.any():
        for k in out:
            out[k] = np.where(empty, np.nan, out[k])
    return out


# -------------------------------------------------------------- GLCM

def _present_counts(r: Ragged, levels: np.ndarray, G: int,
                    valid: np.ndarray | None):
    """(B, G) present-level histogram restricted to valid positions."""
    if valid is None:
        idx = r.doc * G + (levels - 1)
    else:
        idx = (r.doc * G + np.where(valid, levels - 1, 0))[valid]
    return np.bincount(idx, minlength=r.B * G).reshape(r.B, G)


def glcm_batch(r: Ragged, levels: np.ndarray, distances: tuple = (1,),
               symmetric: bool = True, weighting_norm: str | None = None,
               valid: np.ndarray | None = None) -> dict:
    """GLCM on the full 1..G grid per batch, directed or symmetric, with
    optional distance weighting. Multi-distance without weighting =
    per-angle features then nanmean over angles (empty angles NaN — exactly
    the reference's delete-empty-angles-then-mean, glcm.py:187-198);
    with weighting = weighted SUM of the per-angle count tensors, then one
    feature pass (glcm.py:160-182)."""
    # present-level mask depends only on (r, levels, valid): compute ONCE
    # and thread it through every per-distance pass + the MCC guard
    G = max(int(levels.max()) if levels.size else 1, 1)
    present = _present_counts(r, levels, G, valid) > 0
    if weighting_norm is not None:
        # 1-D: manhattan/euclidean/infinity all weight by exp(-δ²)
        if weighting_norm == "no_weighting":
            w = np.ones(len(distances))
        else:
            w = np.exp(-np.asarray(distances, dtype=np.float64) ** 2)
        return _glcm_angle(r, levels, G, valid, symmetric, present,
                           distances, w)
    if len(distances) == 1:
        return _glcm_angle(r, levels, G, valid, symmetric, present,
                           distances, (1.0,))
    # multi-angle: per-angle features with empty angles as NaN, then nanmean
    # (delete-empty-angles-then-mean, glcm.py:187-198)
    per_angle = [
        _glcm_angle(r, levels, G, valid, symmetric, present, (d,), (1.0,),
                    mask_empty=True)
        for d in distances
    ]
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = {
            k: np.nanmean(np.stack([a[k] for a in per_angle]), axis=0)
            for k in per_angle[0]
        }
    # the <2-gray-levels MCC guard is PRE-angle in the reference
    # (glcm.py:702-703): docs with a single present level get MCC=1 even
    # when every angle is empty
    n_pres = present.sum(axis=1)
    out["MCC"] = np.where(n_pres < 2, 1.0, out["MCC"])
    return out


# (B·G²) slot budget below which dense tensors win: dense SIMD sweeps beat
# per-cell gathers while everything fits in ~64 MB (measured ~1.5× on the
# G≈15 web regime), and the sparse path takes over exactly where dense
# allocation becomes the memory cliff.
_GLCM_DENSE_MAX_SLOTS = 8_000_000

# element budget for the sparse path's bounded temporaries (the HXY2
# marginal cross-pairs and the MCC pattern-group scatter), independent of
# B·G².  The HXY2 loop holds ~4-5 live arrays of this many elements at
# once (docp/tt int64 indices, two gathered marginals, prod, the log2
# intermediate), so peak transient ≈ 5 × budget × 8 B ≈ 160 MB at 4M —
# sized so a 32-thread executor's worst case stays a few GB, not tens
_GLCM_PAIR_BUDGET = 4_000_000


def _glcm_raw(r: Ragged, levels: np.ndarray, dist: int, G: int,
              valid: np.ndarray | None) -> np.ndarray:
    """(B, G, G) directed pair counts — the DENSE-regime build (see
    _GLCM_DENSE_MAX_SLOTS); the sparse regime uses _glcm_cells."""
    dd, li, lj = _glcm_pairs(r, levels, dist, valid)
    return np.bincount(dd * (G * G) + li * G + lj,
                       minlength=r.B * G * G).reshape(
        r.B, G, G).astype(np.float64)


def _glcm_pairs(r: Ragged, levels: np.ndarray, dist: int,
                valid: np.ndarray | None) -> tuple:
    """Directed pair endpoints at one distance: (doc, i0, j0) index
    arrays over the adjacent pairs (``_adjacent``)."""
    same = _adjacent(r, dist, valid)
    return (r.doc[:-dist][same], levels[:-dist][same] - 1,
            levels[dist:][same] - 1)


def _glcm_cells(r: Ragged, levels: np.ndarray, dist: int, G: int,
                valid: np.ndarray | None) -> tuple:
    """SPARSE directed pair counts at one distance as (codes, counts):
    code = doc·G² + i·G + j over observed pairs only, sort-and-count —
    O(pairs) memory in the regime where the dense (B, G, G) build would
    be the 1.3 GB-per-10k-row-batch cliff (the reason max_gray_levels
    exists as an engine cap at all)."""
    dd, li, lj = _glcm_pairs(r, levels, dist, valid)
    codes, counts = np.unique(dd * (G * G) + li * G + lj, return_counts=True)
    return codes, counts.astype(np.float64)


def _sym_cells(codes: np.ndarray, counts: np.ndarray, G: int) -> tuple:
    """P + Pᵀ in cell space: concatenate with transposed codes, re-sum."""
    d, rem = np.divmod(codes, G * G)
    i, j = np.divmod(rem, G)
    return _merge_cells(np.concatenate([codes, d * (G * G) + j * G + i]),
                        np.concatenate([counts, counts]))


def _merge_cells(codes: np.ndarray, counts: np.ndarray) -> tuple:
    u, inv = np.unique(codes, return_inverse=True)
    return u, np.bincount(inv, weights=counts,
                          minlength=u.size).astype(np.float64)


def _glcm_angle(r: Ragged, levels: np.ndarray, G: int,
                valid: np.ndarray | None, symmetric: bool,
                present: np.ndarray, distances, weights,
                mask_empty: bool = False) -> dict:
    """One feature pass over the weighted sum of the per-distance count
    matrices, built as a dense (B, G, G) tensor up to
    _GLCM_DENSE_MAX_SLOTS and as sparse cells beyond it; both arms feed
    the one feature reduction, ``_glcm_reduce``."""
    if r.B * (G * G) <= _GLCM_DENSE_MAX_SLOTS:
        P = None
        for wi, d in zip(weights, distances):
            Pd = _glcm_raw(r, levels, int(d), G, valid)
            if symmetric:
                Pd = Pd + Pd.transpose(0, 2, 1)
            Pd *= wi
            P = Pd if P is None else P + Pd
        parts = _glcm_dense_parts(P, G)
    else:
        cells = []
        for wi, d in zip(weights, distances):
            codes, cnts = _glcm_cells(r, levels, int(d), G, valid)
            if symmetric:
                codes, cnts = _sym_cells(codes, cnts, G)
            cells.append((codes, wi * cnts))
        codes, cnts = cells[0] if len(cells) == 1 else _merge_cells(
            np.concatenate([c for c, _ in cells]),
            np.concatenate([v for _, v in cells]))
        parts = _glcm_sparse_parts(codes, cnts, r.B, G)
    return _glcm_reduce(r, levels, G, present, mask_empty, **parts)


def _glcm_dense_parts(P: np.ndarray, G: int) -> dict:
    """``_glcm_reduce``'s per-representation inputs from the DENSE
    (B, G, G) count tensor."""
    B = P.shape[0]
    mass = P.sum(axis=(1, 2))
    P = P / np.where(mass > 0, mass, np.nan)[:, None, None]
    gl = np.arange(1, G + 1, dtype=np.float64)
    px = P.sum(axis=2)                      # (B,G)
    py = P.sum(axis=1)

    # p(x+y) / p(x−y) via dense projection matrices (G², K)
    gsum = (gl[:, None] + gl[None, :]).ravel()
    gdiff = np.abs(gl[:, None] - gl[None, :]).ravel()
    Msum = np.zeros((G * G, 2 * G - 1))
    Msum[np.arange(G * G), (gsum - 2).astype(int)] = 1.0
    Mdiff = np.zeros((G * G, G))
    Mdiff[np.arange(G * G), gdiff.astype(int)] = 1.0
    Pf = P.reshape(B, G * G)

    pxy = px[:, :, None] * py[:, None, :]
    # ONE log pass shared by HXY1/HXY2 (the log2 over B·G² is the
    # expensive part; EPS placement itself can't factor through the
    # marginals, see NEXT.md)
    log_pxy = np.log2(pxy + EPS)

    def corm(dx, dy):
        # Σ_ij P dx_i dy_j = dx·(P @ dy) per doc — batched BLAS matvec
        return np.einsum("bi,bi->b", dx, np.matmul(P, dy[:, :, None])[:, :, 0])

    def mcc_stacks(docs, pats, inv):
        for p in range(pats.shape[0]):
            sel = docs[inv == p]
            pres = np.flatnonzero(pats[p])
            yield P[np.ix_(sel, pres, pres)], sel

    return dict(
        mass=mass, px=px, py=py,
        p_add=Pf @ Msum,                    # (B, 2G-1), k value = idx+2
        p_sub=Pf @ Mdiff,                   # (B, G),   k value = idx
        hxy=-np.sum(P * np.log2(P + EPS), axis=(1, 2)),
        # Σ_ij P·i·j = gl·(P @ gl): a BLAS batched matvec + a (B,G) dot
        # instead of a einsum C-loop over the full tensor
        autoc=(P @ gl) @ gl,
        jener=np.sum(P * P, axis=(1, 2)),
        hxy1=-np.sum(P * log_pxy, axis=(1, 2)),
        hxy2=-np.sum(pxy * log_pxy, axis=(1, 2)),
        maxprob=P.reshape(B, -1).max(axis=1),
        corm=corm, mcc_stacks=mcc_stacks)


def _glcm_sparse_parts(codes: np.ndarray, cnts: np.ndarray, B: int,
                       G: int) -> dict:
    """``_glcm_reduce``'s inputs from SPARSE observed cells (codes =
    doc·G² + i·G + j, counts): O(cells) work and memory — no (B,G,G)
    tensor is ever materialized except the per-pattern MCC submatrices.
    Pair-less docs (no cells) read as all-zero here; ``_glcm_reduce``
    turns them NaN like the dense algebra."""
    cb, rem = np.divmod(codes, G * G)
    ci, cj = np.divmod(rem, G)
    mass = np.bincount(cb, weights=cnts, minlength=B).astype(np.float64)
    cv = cnts / np.where(mass > 0, mass, np.nan)[cb]

    def per_doc(w):
        return np.bincount(cb, weights=w, minlength=B).astype(np.float64)

    def per_level(k, K):
        return np.bincount(cb * K + k, weights=cv, minlength=B * K
                           ).astype(np.float64).reshape(B, K)

    gl = np.arange(1, G + 1, dtype=np.float64)
    px = per_level(ci, G)
    py = per_level(cj, G)
    maxprob = np.zeros(B)
    np.maximum.at(maxprob, cb, cv)

    # HXY2 = −Σ pxᵢ·pyⱼ·log2(pxᵢ·pyⱼ+EPS) needs the full marginal product
    # grid, but only cells with BOTH marginals positive contribute (a zero
    # marginal makes the term an exact ±0.0) — gather the in-doc cross
    # pairs of positive-marginal levels instead of the (B,G,G) pxy tensor.
    # Pair-less docs have no positive marginal → no pairs.
    xb, xg = np.nonzero(px > 0)
    yb, yg = np.nonzero(py > 0)
    mx = np.bincount(xb, minlength=B)
    my = np.bincount(yb, minlength=B)
    sx = np.zeros(B, dtype=np.int64)
    np.cumsum(mx[:-1], out=sx[1:])
    sy = np.zeros(B, dtype=np.int64)
    np.cumsum(my[:-1], out=sy[1:])
    npxy = mx * my
    pxv_all = px[xb, xg]
    pyv_all = py[yb, yg]
    # CHUNKED over docs: Σ mxᵇ·myᵇ approaches B·G² again for docs with
    # many present levels — exactly the regime this sparse path serves —
    # so the pair temporaries are built a bounded slice of docs at a time
    # (the arithmetic is per-doc; chunking is result-exact)
    hxy2 = np.zeros(B)
    cum = np.cumsum(npxy)
    lo = 0
    while lo < B:
        base = cum[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cum, base + _GLCM_PAIR_BUDGET,
                                     side="right")), lo + 1)
        npc = npxy[lo:hi]
        docp = np.repeat(np.arange(lo, hi), npc)
        if docp.size:
            offc = np.zeros(hi - lo, dtype=np.int64)
            np.cumsum(npc[:-1], out=offc[1:])
            tt = np.arange(docp.size, dtype=np.int64) - offc[docp - lo]
            myd = my[docp]
            prod = (pxv_all[sx[docp] + tt // myd]
                    * pyv_all[sy[docp] + tt % myd])
            hxy2[lo:hi] = -np.bincount(
                docp - lo, weights=prod * np.log2(prod + EPS),
                minlength=hi - lo)
        lo = hi

    def corm(dx, dy):
        return per_doc(cv * dx[cb, ci] * dy[cb, cj])

    def mcc_stacks(docs, pats, inv):
        # group-local dense submatrices scattered straight from the sparse
        # cells — the only densification anywhere in the GLCM path, sized
        # (group docs × present levels²), never (B, G, G). Cells and docs
        # are bucketed by group with one stable argsort each.
        grp_of_doc = np.full(B, -1, dtype=np.int64)
        grp_of_doc[docs] = inv
        cell_grp = grp_of_doc[cb]
        corder = np.argsort(cell_grp, kind="stable")
        cbounds = np.searchsorted(cell_grp[corder],
                                  np.arange(pats.shape[0] + 1))
        dorder = np.argsort(inv, kind="stable")
        dbounds = np.searchsorted(inv[dorder], np.arange(pats.shape[0] + 1))
        doc_pos = np.empty(B, dtype=np.int64)
        lvl_pos = np.empty(G, dtype=np.int64)
        for p in range(pats.shape[0]):
            sel = docs[dorder[dbounds[p]:dbounds[p + 1]]]
            pres = np.flatnonzero(pats[p])
            cs = corder[cbounds[p]:cbounds[p + 1]]
            lvl_pos[pres] = np.arange(pres.size)
            # bounded scatter: a big group × a wide pattern would make the
            # (docs, n_pres, n_pres) stack the next memory cliff — slice
            # the group so each dense sub-stack stays under the budget
            # (cells are code-ordered ⇒ doc-ordered within the group)
            cell_docs = cb[cs]
            m = pres.size
            step = max(1, _GLCM_PAIR_BUDGET // max(m * m, 1))
            for a in range(0, sel.size, step):
                ssel = sel[a:a + step]
                clo = np.searchsorted(cell_docs, ssel[0], side="left")
                chi = np.searchsorted(cell_docs, ssel[-1], side="right")
                csl = cs[clo:chi]
                doc_pos[ssel] = np.arange(ssel.size)
                Ps = np.zeros((ssel.size, m, m))
                Ps[doc_pos[cb[csl]], lvl_pos[ci[csl]], lvl_pos[cj[csl]]] = \
                    cv[csl]
                yield Ps, ssel

    Ksum = 2 * G - 1
    return dict(
        mass=mass, px=px, py=py,
        # p(x+y) / p(x−y) straight from the cells: k = (i+j) / |i−j|
        p_add=per_level(ci + cj, Ksum), p_sub=per_level(np.abs(ci - cj), G),
        hxy=-per_doc(cv * np.log2(cv + EPS)),
        autoc=per_doc(cv * gl[ci] * gl[cj]),
        jener=per_doc(cv * cv),
        hxy1=-per_doc(cv * np.log2(px[cb, ci] * py[cb, cj] + EPS)),
        hxy2=hxy2, maxprob=maxprob, corm=corm, mcc_stacks=mcc_stacks)


def _glcm_reduce(r: Ragged, levels: np.ndarray, G: int,
                 present: np.ndarray, mask_empty: bool, *, mass, px, py,
                 p_add, p_sub, hxy, autoc, jener, hxy1, hxy2, maxprob,
                 corm, mcc_stacks) -> dict:
    """The 24 GLCM features, their guards and the empty-angle mask from
    one arm's primitives: per-doc pair mass, the normalized marginals
    px/py (B, G), p(x+y) (B, 2G−1) and p(x−y) (B, G), the joint entropy,
    autocorrelation, joint energy, HXY1/HXY2 and maximum probability
    (B,), plus two callbacks into the arm's own representation —
    ``corm(dx, dy)`` for the centered cross moment and
    ``mcc_stacks(docs, pats, inv)`` yielding (submatrix stack, docs)
    blocks for the MCC eigenproblem."""
    empty = ~(mass > 0)
    if empty.any():
        # pair-less docs: the dense arm's 0/0 normalization already made
        # every primitive NaN; the sparse arm's gathers read zeros
        for a in (px, py, p_add, p_sub, hxy, autoc, jener, hxy1, hxy2,
                  maxprob):
            a[empty] = np.nan
    gl = np.arange(1, G + 1, dtype=np.float64)
    ng = np.maximum(r.segmax(levels.astype(np.float64)), 1)  # per-doc max
    # moments from MARGINALS where algebra allows — Σ_ij P·f(i) ≡ Σ_g px·f(g)
    # exactly; avoids a pile of (B,G,G) tensor sweeps (≈40% of the dense
    # arm's wall on a 15k-doc batch)
    ux = px @ gl
    uy = py @ gl
    k_sum = np.arange(2, 2 * G + 1, dtype=np.float64)
    k_diff = np.arange(0, G, dtype=np.float64)

    # cluster moments over p(x+y): Σ_ij P·g(i+j) ≡ Σ_k p_add·g(k)
    dsum = k_sum[None, :] - ux[:, None] - uy[:, None]   # (B, 2G-1)
    dsum2 = dsum * dsum
    ctend = np.sum(p_add * dsum2, axis=1)
    cshade = np.sum(p_add * dsum2 * dsum, axis=1)
    cprom = np.sum(p_add * dsum2 * dsum2, axis=1)
    contrast = p_sub @ (k_diff * k_diff)                # Σ_ij P·(i−j)²

    dx = gl[None, :] - ux[:, None]                      # (B,G)
    dy = gl[None, :] - uy[:, None]
    sumsq = np.sum(px * dx * dx, axis=1)                # ≡ Σ P (i−ux)² = σx²
    sigx = np.sqrt(sumsq)
    sigy = np.sqrt(np.sum(py * dy * dy, axis=1))
    # Σ P (i−ux)(j−uy) from CENTERED products (same form as the per-doc
    # kernel, glcm.py:158) — the algebraic shortcut autoc − ux·uy is exact
    # but catastrophically cancels for near-flat high-G docs where
    # σx·σy ≈ 0; the arm's centered contraction buys full precision there
    cm = np.where(empty, np.nan, corm(dx, dy))
    with np.errstate(invalid="ignore"):
        corr = cm / (sigx * sigy + EPS)
    corr = np.where(sigx * sigy == 0, 1.0, corr)

    diffavg = p_sub @ k_diff
    diffent = -np.sum(p_sub * np.log2(p_sub + EPS), axis=1)
    diffvar = np.sum(p_sub * (k_diff[None, :] - diffavg[:, None]) ** 2, axis=1)

    HX = -np.sum(px * np.log2(px + EPS), axis=1)
    HY = -np.sum(py * np.log2(py + EPS), axis=1)
    div = np.fmax(HX, HY)
    with np.errstate(invalid="ignore"):
        imc1 = np.where(div != 0, (hxy - hxy1) / np.where(div != 0, div, 1.0), 0.0)
        imc2 = np.sqrt(np.maximum(1 - np.exp(-2.0 * (hxy2 - hxy)), 0.0))
    imc2 = np.where(hxy2 == hxy, 0.0, imc2)

    idm = np.sum(p_sub / (1 + k_diff[None, :] ** 2), axis=1)
    idmn = np.sum(p_sub / (1 + k_diff[None, :] ** 2 / (ng ** 2)[:, None]), axis=1)
    idcol = np.sum(p_sub / (1 + k_diff[None, :]), axis=1)
    idn = np.sum(p_sub / (1 + k_diff[None, :] / ng[:, None]), axis=1)
    with np.errstate(divide="ignore"):
        invvar = np.sum(p_sub[:, 1:] / k_diff[None, 1:] ** 2, axis=1)
    # reference: with a single PRESENT level every k ≥ 1 cell of p(x−y) is an
    # exact 0 (all mass sits at k=0, even when that mass is the NaN of a
    # pairless doc), so the k=1.. sum is 0.0 — per-doc bincount keeps those
    # zeros but a pairless doc's p(x−y) row is all-NaN here. Guard on
    # present-level count, not ng==1 (FBN can put a flat doc at a mid bin).
    n_pres = present.sum(axis=1)
    invvar = np.where(n_pres <= 1, 0.0, invvar)
    sumavg = p_add @ k_sum
    sument = -np.sum(p_add * np.log2(p_add + EPS), axis=1)
    mcc = _glcm_mcc(present, n_pres, np.isfinite(mass) & (mass > 0),
                    mcc_stacks)

    out = {
        "Autocorrelation": autoc, "JointAverage": ux,
        "ClusterProminence": cprom, "ClusterShade": cshade,
        "ClusterTendency": ctend, "Contrast": contrast,
        "Correlation": corr, "DifferenceAverage": diffavg,
        "DifferenceEntropy": diffent, "DifferenceVariance": diffvar,
        "JointEnergy": jener, "JointEntropy": hxy,
        "Imc1": imc1, "Imc2": imc2, "Idm": idm, "MCC": mcc,
        "Idmn": idmn, "Id": idcol, "Idn": idn, "InverseVariance": invvar,
        "MaximumProbability": maxprob, "SumAverage": sumavg,
        "SumEntropy": sument, "SumSquares": sumsq,
    }
    # multi-angle only: pair-less docs at this distance → the whole angle
    # is NaN so the nanmean skips it (delete-empty-angle semantics); the
    # guards above gave MCC=1 / Imc=0 / invvar=0 which would wrongly
    # survive the nanmean. Single-angle keeps those per-doc guard values.
    if mask_empty and empty.any():
        for k in out:
            v = np.asarray(out[k], dtype=np.float64).copy()
            v[empty] = np.nan
            out[k] = v
    return out


def _mcc_from_stack(Ps: np.ndarray) -> np.ndarray:
    """MCC of a (n, m, m) stack of normalized co-occurrence submatrices:
    √ of the second-largest eigenvalue of Q = (P / px·pyᵀ) Pᵀ."""
    pxa = Ps.sum(axis=2)
    pya = Ps.sum(axis=1)
    R = Ps / (pxa[:, :, None] * pya[:, None, :] + EPS)
    Q = np.einsum("bik,bjk->bij", R, Ps)
    ev = np.linalg.eigvals(Q)
    ev.sort(axis=1)
    return np.real(np.sqrt(ev[:, -2]))


def _glcm_mcc(present: np.ndarray, n_pres: np.ndarray, finite: np.ndarray,
              mcc_stacks) -> np.ndarray:
    """MCC: eigen on the compacted present-level submatrix. Docs are
    grouped by their EXACT present-level pattern (np.unique over the
    (B, G) bool mask), so a web corpus with few distinct patterns stays
    O(#patterns) stacks even when levels are non-contiguous (e.g. a
    vocabulary with no 2-char tokens leaves a hole at level 2 in EVERY
    doc). eigvals needs matrices of ONE size per call, not one PATTERN:
    float image types (wavelet/LoG) make nearly every doc its own pattern,
    and per-pattern eigvals calls were ~180 µs each of mostly numpy fixed
    overhead — so the arm's stacks are POOLED by matrix size and each pool
    is eig'd once, flushing at the memory budget."""
    mcc = np.full(present.shape[0], 1.0)
    eligible = (n_pres >= 2) & finite
    if eligible.any():
        docs = np.flatnonzero(eligible)
        pats, inv = np.unique(present[docs], axis=0, return_inverse=True)
        pools: dict = {}
        pool_elems: dict = {}

        def flush(m: int) -> None:
            blocks = pools.pop(m)
            pool_elems.pop(m)
            if len(blocks) == 1:
                Ps, sels = blocks[0]
            else:
                Ps = np.concatenate([b[0] for b in blocks])
                sels = np.concatenate([b[1] for b in blocks])
            mcc[sels] = _mcc_from_stack(Ps)

        for Ps, sel in mcc_stacks(docs, pats, inv):
            m = Ps.shape[1]
            pools.setdefault(m, []).append((Ps, sel))
            pool_elems[m] = pool_elems.get(m, 0) + Ps.size
            if pool_elems[m] >= _GLCM_PAIR_BUDGET:
                flush(m)
        for m in list(pools):
            flush(m)
    # pairless docs can't have ≥2 present levels at distance 1, but keep the
    # per-doc NaN semantics for that (dead-in-practice) corner
    mcc[~finite & (n_pres >= 2)] = np.nan
    return mcc


# -------------------------------------------------- runs (GLRLM + GLSZM)

def _runs_batch(r: Ragged, levels: np.ndarray, valid: np.ndarray | None = None):
    """RLE across the concatenated batch; doc boundaries AND invalid
    positions break runs (kernels.glrlm.run_lengths semantics).
    Returns (run_doc, run_level, run_len)."""
    n = levels.size
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    if valid is None:
        brk = np.ones(n, dtype=bool)
        brk[1:] = (levels[1:] != levels[:-1]) | (r.doc[1:] != r.doc[:-1])
        starts = np.flatnonzero(brk)
        lens = np.diff(np.append(starts, n))
        return r.doc[starts], levels[starts], lens
    brk = np.ones(n, dtype=bool)
    brk[1:] = (levels[1:] != levels[:-1]) | (r.doc[1:] != r.doc[:-1]) | ~valid[:-1]
    brk &= valid
    starts = np.flatnonzero(brk)
    if starts.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    run_ids = np.cumsum(brk) - 1
    lens = np.bincount(run_ids[valid], minlength=starts.size)
    return r.doc[starts], levels[starts], lens.astype(np.int64)


def _rlm_features(P, iv, jv) -> dict:
    """GLRLM reductions over a (B, Gi, Gj) count tensor with level values
    ``iv`` and run-length values ``jv``. GLSZM (the identical 1-D matrix)
    and GLDM (the dependence matrix) bind them to their own names through
    ``_RLM_TO_SZM`` / ``_RLM_TO_GLDM``."""
    nr = P.sum(axis=(1, 2))
    nr_safe = np.where(nr > 0, nr, np.nan)
    pr = P.sum(axis=1)  # (B, J)
    pg = P.sum(axis=2)  # (B, G)
    jv2 = jv ** 2
    iv2 = iv ** 2

    sre = (pr / jv2[None, :]).sum(axis=1) / nr_safe
    lre = (pr * jv2[None, :]).sum(axis=1) / nr_safe
    gln = (pg ** 2).sum(axis=1) / nr_safe
    glnn = (pg ** 2).sum(axis=1) / nr_safe ** 2
    rln = (pr ** 2).sum(axis=1) / nr_safe
    rlnn = (pr ** 2).sum(axis=1) / nr_safe ** 2
    np_vox = (pr * jv[None, :]).sum(axis=1)
    rp = nr / np.where(np_vox > 0, np_vox, np.nan)

    pg_n = pg / nr_safe[:, None]
    u_i = (pg_n * iv[None, :]).sum(axis=1)
    glv = (pg_n * (iv[None, :] - u_i[:, None]) ** 2).sum(axis=1)
    pr_n = pr / nr_safe[:, None]
    u_j = (pr_n * jv[None, :]).sum(axis=1)
    rv = (pr_n * (jv[None, :] - u_j[:, None]) ** 2).sum(axis=1)
    Pn = P / nr_safe[:, None, None]
    re = -np.sum(Pn * np.log2(Pn + EPS), axis=(1, 2))

    lgl = (pg / iv2[None, :]).sum(axis=1) / nr_safe
    hgl = (pg * iv2[None, :]).sum(axis=1) / nr_safe
    # cross-emphasis terms factored Σ_ij P/(i²j²) = Σ_i (Σ_j P/j²)/i²:
    # TWO (B,G,J) passes (Q, R) instead of four tensor-product sweeps —
    # the j-marginal then the tiny (B,G) i-weighting
    Q = (P / jv2[None, None, :]).sum(axis=2)  # (B, G): Σ_j P/j²
    R = (P * jv2[None, None, :]).sum(axis=2)  # (B, G): Σ_j P·j²
    srl = (Q / iv2[None, :]).sum(axis=1) / nr_safe
    srh = (Q * iv2[None, :]).sum(axis=1) / nr_safe
    lrl = (R / iv2[None, :]).sum(axis=1) / nr_safe
    lrh = (R * iv2[None, :]).sum(axis=1) / nr_safe

    return {
        "ShortRunEmphasis": sre, "LongRunEmphasis": lre,
        "GrayLevelNonUniformity": gln, "GrayLevelNonUniformityNormalized": glnn,
        "RunLengthNonUniformity": rln, "RunLengthNonUniformityNormalized": rlnn,
        "RunPercentage": rp, "GrayLevelVariance": glv, "RunVariance": rv,
        "RunEntropy": re, "LowGrayLevelRunEmphasis": lgl,
        "HighGrayLevelRunEmphasis": hgl,
        "ShortRunLowGrayLevelEmphasis": srl,
        "ShortRunHighGrayLevelEmphasis": srh,
        "LongRunLowGrayLevelEmphasis": lrl,
        "LongRunHighGrayLevelEmphasis": lrh,
    }


def runs_batch_features(r: Ragged, levels: np.ndarray,
                        valid: np.ndarray | None = None):
    """GLRLM + GLSZM feature dicts (identical matrices in 1-D)."""
    run_doc, run_level, run_len = _runs_batch(r, levels, valid)
    B = r.B
    G = max(int(levels.max()) if levels.size else 1, 1)
    jvals = np.unique(run_len) if run_len.size else np.array([1], dtype=np.int64)
    J = jvals.size
    ji = np.searchsorted(jvals, run_len)
    P = np.bincount(
        run_doc * G * J + (run_level - 1) * J + ji, minlength=B * G * J
    ).reshape(B, G, J).astype(np.float64)
    iv = np.arange(1, G + 1, dtype=np.float64)
    jv = jvals.astype(np.float64)
    # In 1-D zones ARE maximal runs, so GLSZM's matrix — and therefore
    # every reduction (Nz = Nr) — is numerically identical to GLRLM's;
    # only the feature NAMES differ (kernels/glszm.py docstring). Compute
    # the reductions once and bind both name sets, instead of sweeping
    # the (B, G, J) tensor twice.
    glrlm = _rlm_features(P, iv, jv)
    glszm = {_RLM_TO_SZM[k]: v for k, v in glrlm.items()}
    return glrlm, glszm


#: GLRLM → GLSZM feature-name bijection (same reduction, zone vocabulary)
_RLM_TO_SZM = {
    "ShortRunEmphasis": "SmallAreaEmphasis",
    "LongRunEmphasis": "LargeAreaEmphasis",
    "GrayLevelNonUniformity": "GrayLevelNonUniformity",
    "GrayLevelNonUniformityNormalized": "GrayLevelNonUniformityNormalized",
    "RunLengthNonUniformity": "SizeZoneNonUniformity",
    "RunLengthNonUniformityNormalized": "SizeZoneNonUniformityNormalized",
    "RunPercentage": "ZonePercentage",
    "GrayLevelVariance": "GrayLevelVariance",
    "RunVariance": "ZoneVariance",
    "RunEntropy": "ZoneEntropy",
    "LowGrayLevelRunEmphasis": "LowGrayLevelZoneEmphasis",
    "HighGrayLevelRunEmphasis": "HighGrayLevelZoneEmphasis",
    "ShortRunLowGrayLevelEmphasis": "SmallAreaLowGrayLevelEmphasis",
    "ShortRunHighGrayLevelEmphasis": "SmallAreaHighGrayLevelEmphasis",
    "LongRunLowGrayLevelEmphasis": "LargeAreaLowGrayLevelEmphasis",
    "LongRunHighGrayLevelEmphasis": "LargeAreaHighGrayLevelEmphasis",
}


# -------------------------------------------------------------- NGTDM

def ngtdm_batch(r: Ragged, levels: np.ndarray, distances: tuple = (1,),
                valid: np.ndarray | None = None) -> dict:
    B = r.B
    G = max(int(levels.max()) if levels.size else 1, 1)
    n = levels.size
    lv = levels.astype(np.float64)
    nbr_sum = np.zeros(n)
    nbr_cnt = np.zeros(n)
    for d in distances:
        d = int(d)
        same = _adjacent(r, d, valid)
        nbr_sum[:-d] += np.where(same, lv[d:], 0.0)
        nbr_cnt[:-d] += same
        nbr_sum[d:] += np.where(same, lv[:-d], 0.0)
        nbr_cnt[d:] += same
    counted = nbr_cnt > 0
    if valid is not None:
        counted = counted & valid
    with np.errstate(invalid="ignore", divide="ignore"):
        mean_nbr = np.where(counted, nbr_sum / np.maximum(nbr_cnt, 1), 0.0)
    diffs = np.where(counted, np.abs(lv - mean_nbr), 0.0)

    # invalid positions have level 0: route them to slot 0 with zero weight
    idx = r.doc * G + np.maximum(levels - 1, 0)
    n_i = np.bincount(idx, weights=counted.astype(float), minlength=B * G
                      ).reshape(B, G)
    s_i = np.bincount(idx, weights=diffs, minlength=B * G).reshape(B, G)

    nvp = n_i.sum(axis=1)
    nvp_safe = np.where(nvp > 0, nvp, np.nan)
    p_i = n_i / nvp_safe[:, None]
    ngp = (n_i > 0).sum(axis=1)
    iv = np.arange(1, G + 1, dtype=np.float64)

    sum_coarse = (p_i * s_i).sum(axis=1)
    coarse = np.where(sum_coarse != 0, 1.0 / np.where(sum_coarse != 0, sum_coarse, 1), 1e6)

    div = ngp * (ngp - 1)
    # Σ_ij pᵢpⱼ(i−j)² = 2·Σᵢ pᵢ(i−μ)² with μ = Σ pᵢ·i (the cross term
    # vanishes since Σ pᵢ(i−μ) = 0): an O(B·G) centered moment instead of
    # the O(B·G²) einsum — exact algebra, and the CENTERED form is
    # cancellation-free like the GLCM corm (E[i²]−E[i]² would cancel
    # catastrophically on near-flat docs)
    mu_i = (p_i * iv[None, :]).sum(axis=1)
    quad = 2.0 * (p_i * (iv[None, :] - mu_i[:, None]) ** 2).sum(axis=1)
    contrast = np.where(
        div != 0, quad * s_i.sum(axis=1) / nvp_safe / np.where(div != 0, div, 1), 0.0)

    # p_zero masking: zero-p rows/cols contribute 0 automatically for
    # Busyness numerator terms |i·pᵢ − j·pⱼ| ONLY if masked explicitly.
    # Busyness denominator Σ_ij |i·pᵢ − j·pⱼ| over PRESENT pairs: the
    # classic sorted identity Σ_ij |vᵢ−vⱼ| = 2·Σ_k v₍ₖ₎·(2k − m + 1) per
    # doc — one argsort over the ~B·ḡ present cells instead of a (B,G,G)
    # tensor (was the single hottest block of this kernel).
    pmask = p_i > 0  # (B,G)
    i_pi = iv[None, :] * p_i
    pb, pg = np.nonzero(pmask)
    v = i_pi[pb, pg]
    order = np.lexsort((v, pb))
    vb, vs = pb[order], v[order]
    m_per = np.bincount(pb, minlength=B).astype(np.int64)
    seg0 = np.zeros(B, dtype=np.int64)
    np.cumsum(m_per[:-1], out=seg0[1:])
    k_local = np.arange(vs.size) - seg0[vb]
    coef = 2.0 * k_local - (m_per[vb] - 1)
    denom = 2.0 * np.bincount(vb, weights=vs * coef, minlength=B)
    busy = np.where(denom != 0, sum_coarse / np.where(denom != 0, denom, 1), 0.0)

    # Complexity Σ_{i,j present} |i−j|·(pᵢsᵢ + pⱼsⱼ)/(pᵢ + pⱼ) over PRESENT
    # pairs only — an in-doc pairwise gather over the ~Σ ḡ_b² present-level
    # pairs instead of three (B,G,G) float tensors (this was the last
    # full-tensor sweep; the kernels are partially DRAM-bound at 32 cores
    # and web docs have ḡ ≪ G, so the gather is both smaller and avoids
    # the masked-divide temporaries). Reuses the present-cell segment
    # bookkeeping (pb/pg/m_per/seg0) built for Busyness above.
    pi_si = p_i * s_i
    pvals = p_i[pb, pg]
    svals = pi_si[pb, pg]
    ivals = iv[pg]
    npair = m_per * m_per
    # CHUNKED over docs (same pattern as the GLCM HXY2 loop): float image
    # types put ḡ ≈ G distinct levels in every doc, so Σ ḡ² reaches
    # ~50M pairs per batch and the un-chunked gather built half-GB
    # temporaries — pure DRAM traffic. Budget-sized slices keep the ~8
    # per-pair temporaries cache-resident; the arithmetic is per-doc, so
    # chunking is result-exact.
    complexity = np.zeros(B)
    cumpair = np.cumsum(npair)
    lo = 0
    while lo < B:
        base = cumpair[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cumpair, base + _GLCM_PAIR_BUDGET,
                                     side="right")), lo + 1)
        npc = npair[lo:hi]
        doc_pair = np.repeat(np.arange(lo, hi), npc)
        if doc_pair.size:
            poff = np.zeros(hi - lo, dtype=np.int64)
            np.cumsum(npc[:-1], out=poff[1:])
            t = np.arange(doc_pair.size, dtype=np.int64) \
                - poff[doc_pair - lo]
            mloc = m_per[doc_pair]
            gi = seg0[doc_pair] + t // mloc
            gj = seg0[doc_pair] + t % mloc
            # present cells have pᵢ > 0, so the divisor needs no zero guard
            contrib = (np.abs(ivals[gi] - ivals[gj])
                       * (svals[gi] + svals[gj])
                       / (pvals[gi] + pvals[gj]))
            complexity[lo:hi] = np.bincount(
                doc_pair - lo, weights=contrib, minlength=hi - lo)
        lo = hi
    complexity = complexity / nvp_safe

    # Strength numerator Σ_ij (pᵢ+pⱼ)·(i−j)² over present pairs factors
    # through marginals: = 2·Σᵢ pᵢ·(ngp·i² − 2i·S1 + S2), S1/S2 = Σ j, Σ j²
    # over present levels — (B,G) ops, no tensor.
    sum_s = s_i.sum(axis=1)
    S1 = (pmask * iv[None, :]).sum(axis=1)
    S2 = (pmask * (iv * iv)[None, :]).sum(axis=1)
    term = (ngp[:, None] * (iv * iv)[None, :]
            - 2.0 * iv[None, :] * S1[:, None] + S2[:, None])
    strength_num = 2.0 * (p_i * term).sum(axis=1)
    strength = np.where(sum_s != 0, strength_num / np.where(sum_s != 0, sum_s, 1), 0.0)

    out = {"Coarseness": coarse, "Contrast": contrast, "Busyness": busy,
           "Complexity": complexity, "Strength": strength}
    bad = ~(nvp > 0)
    if bad.any():
        for k in out:
            out[k] = np.where(bad, 0.0, out[k])
    return out


# -------------------------------------------------------------- GLDM

def gldm_batch(r: Ragged, levels: np.ndarray, alpha: float = 0.0,
               distances: tuple = (1,), valid: np.ndarray | None = None) -> dict:
    """GLDM from the (B, G, D) dependence matrix: P[b, g, d] counts doc b's
    positions at level g with d dependent neighbours (|Δlevel| ≤ alpha at
    any of the distances, both sides), reduced by ``_rlm_features`` with
    dependence d ↔ j = d + 1."""
    B = r.B
    G = max(int(levels.max()) if levels.size else 1, 1)
    dep = np.zeros(levels.size, dtype=np.int64)
    for d in distances:
        d = int(d)
        ok = _adjacent(r, d, valid) & (np.abs(levels[:-d] - levels[d:]) <= alpha)
        dep[:-d] += ok
        dep[d:] += ok
    D = 2 * len(distances) + 1  # dep ∈ {0..2·Nd}
    flat_idx = r.doc * G * D + np.maximum(levels - 1, 0) * D + dep
    if valid is not None:
        flat_idx = flat_idx[valid]
    P = np.bincount(flat_idx, minlength=B * G * D).reshape(
        B, G, D).astype(np.float64)
    f = _rlm_features(P, np.arange(1, G + 1, dtype=np.float64),
                      np.arange(1, D + 1, dtype=np.float64))
    return {name: f[k] for k, name in _RLM_TO_GLDM.items()}


#: GLRLM → GLDM feature names for the 14 GLDM features (dependence counts
#: in the run-length slot; GLDM has no normalized gray-level
#: non-uniformity or percentage feature)
_RLM_TO_GLDM = {
    "ShortRunEmphasis": "SmallDependenceEmphasis",
    "LongRunEmphasis": "LargeDependenceEmphasis",
    "GrayLevelNonUniformity": "GrayLevelNonUniformity",
    "RunLengthNonUniformity": "DependenceNonUniformity",
    "RunLengthNonUniformityNormalized": "DependenceNonUniformityNormalized",
    "GrayLevelVariance": "GrayLevelVariance",
    "RunVariance": "DependenceVariance",
    "RunEntropy": "DependenceEntropy",
    "LowGrayLevelRunEmphasis": "LowGrayLevelEmphasis",
    "HighGrayLevelRunEmphasis": "HighGrayLevelEmphasis",
    "ShortRunLowGrayLevelEmphasis": "SmallDependenceLowGrayLevelEmphasis",
    "ShortRunHighGrayLevelEmphasis": "SmallDependenceHighGrayLevelEmphasis",
    "LongRunLowGrayLevelEmphasis": "LargeDependenceLowGrayLevelEmphasis",
    "LongRunHighGrayLevelEmphasis": "LargeDependenceHighGrayLevelEmphasis",
}


# -------------------------------------------------------------- seqshape

def seqshape_batch(r: Ragged, valid: np.ndarray | None = None) -> dict:
    """kernels.seqshape.seqshape_features vectorized over the batch (mask
    extent/compactness/run moments); NaN row for empty docs / empty ROI."""
    B = r.B
    n = r.lens.astype(np.float64)
    N = r.x.size
    if valid is None:
        valid = np.ones(N, dtype=bool)
    i_in = np.arange(N) - r.starts[r.doc]

    vdoc = r.doc[valid]
    vpos = i_in[valid].astype(np.float64)
    nv = np.bincount(vdoc, minlength=B).astype(np.float64)
    has = nv > 0

    # first/last valid position per doc: vpos is position-ordered within doc
    vstarts = np.zeros(B, dtype=np.int64)
    np.cumsum(np.bincount(vdoc, minlength=B)[:-1], out=vstarts[1:])
    start = np.full(B, np.nan)
    end = np.full(B, np.nan)
    if vpos.size:
        start[has] = vpos[vstarts[has]]
        end[has] = vpos[vstarts[has] + np.bincount(vdoc, minlength=B)[has] - 1]
    span = end - start + 1

    # runs of the validity mask: a run starts at a valid position whose
    # predecessor (same doc) is invalid or absent
    rbrk = valid.copy()
    if N > 1:
        prev_ok = valid[:-1] & (r.doc[1:] == r.doc[:-1])
        rbrk[1:] = valid[1:] & ~prev_ok
    run_doc = r.doc[rbrk]
    n_runs = np.bincount(run_doc, minlength=B).astype(np.float64)
    run_ids = np.cumsum(rbrk) - 1
    rlens = np.bincount(run_ids[valid], minlength=int(rbrk.sum())).astype(np.float64)
    max_run = np.zeros(B)
    if rlens.size:
        # runs are doc-ordered → reduceat over per-doc first-run offsets
        rstarts = np.zeros(B, dtype=np.int64)
        np.cumsum(np.bincount(run_doc, minlength=B)[:-1], out=rstarts[1:])
        hr = n_runs > 0
        max_run[hr] = np.maximum.reduceat(rlens, rstarts[hr])

    denom = np.maximum(n - 1, 1)
    q = vpos / denom[vdoc]
    qsum = np.bincount(vdoc, weights=q, minlength=B)
    qmean = qsum / np.maximum(nv, 1)
    qvar = np.bincount(vdoc, weights=(q - qmean[vdoc]) ** 2, minlength=B) / np.maximum(nv, 1)
    psum = np.bincount(vdoc, weights=vpos, minlength=B)
    com = (psum / np.maximum(nv, 1)) / denom

    out = {
        "NTokens": n,
        "ValidFraction": nv / np.maximum(n, 1),
        "SpanStart": start,
        "SpanEnd": end,
        "SpanLength": span,
        "Compactness": nv / np.where(span > 0, span, 1),
        "NRuns": n_runs,
        "MeanRunLength": nv / np.maximum(n_runs, 1),
        "MaxRunLength": max_run,
        "CenterOfMass": com,
        "PositionVariance": qvar,
    }
    bad = ~has | (n == 0)
    for k in out:
        out[k] = np.where(bad, np.nan, out[k])
    return out
