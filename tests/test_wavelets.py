"""Wavelet/LoG filter parity + invariants (no pywt in env): the golden
check of /root/reference/tests/test_wavelet.py:77-81 is mirrored by (a) an
analytic hand-computed haar golden, (b) an INDEPENDENT FFT-convolution twin
matched to 1e-10 across families/lengths, (c) the computed-vs-published
db2 bank equality, and (d) orthonormality/energy/QMF invariants."""

import numpy as np
import pytest

from pyradiomics_spark.functions.wavelets import (
    DEC_LO, _dec_hi, daubechies_dec_lo, get_dec_lo, log_filter, log_kernel,
    swt1, swt1_fft, swt_level, _upsample)
from pyradiomics_spark.functions.intensity import IMAGE_TRANSFORMS


@pytest.mark.parametrize("w", ["haar", "db2", "coif1", "db3", "db4", "db8",
                               "sym4", "sym6", "sym8",
                               "coif2", "coif3", "coif4", "coif5"])
def test_filterbank_orthogonality(w):
    lo = get_dec_lo(w)
    hi = _dec_hi(lo)
    assert lo @ lo == pytest.approx(1.0)          # unit energy
    assert lo.sum() == pytest.approx(np.sqrt(2))  # DC gain √2
    assert hi.sum() == pytest.approx(0.0, abs=1e-10)  # highpass kills DC
    assert lo @ hi == pytest.approx(0.0, abs=1e-10)   # orthogonal pair
    # orthonormal even shifts: Σ lo[k]·lo[k+2m] = 0 for m ≠ 0
    for m in range(1, lo.size // 2):
        assert lo[2 * m:] @ lo[:-2 * m or None] == pytest.approx(0.0, abs=1e-9)


def test_computed_daubechies_matches_published_bank():
    """Spectral factorization reproduces the published db2 coefficients to
    1e-12 — the strongest available cross-check without pywt."""
    np.testing.assert_allclose(daubechies_dec_lo(2), DEC_LO["db2"],
                               atol=1e-12)
    np.testing.assert_allclose(daubechies_dec_lo(1), DEC_LO["haar"],
                               atol=1e-15)


def test_symlets_match_published_banks():
    from pyradiomics_spark.functions.wavelets import symlet_dec_lo

    # sym2/sym3 are IDENTICAL to db2/db3 (root choice is unique there)
    np.testing.assert_allclose(symlet_dec_lo(2), daubechies_dec_lo(2), atol=1e-12)
    np.testing.assert_allclose(symlet_dec_lo(3), daubechies_dec_lo(3), atol=1e-12)
    # published pywt sym4 dec_lo (literature coefficients); the delay-
    # variance construction determines the bank up to its mirror (which
    # shares the criterion value) — whole-doc features are reflection-
    # invariant, so parity up to mirror is the meaningful check
    sym4 = np.array([
        -0.07576571478927333, -0.02963552764599851, 0.49761866763201545,
        0.8037387518059161, 0.29785779560527736, -0.09921954357684722,
        -0.012603967262037833, 0.0322231006040427,
    ])
    got = symlet_dec_lo(4)
    match = (np.allclose(got, sym4, atol=1e-10)
             or np.allclose(got, sym4[::-1], atol=1e-10))
    assert match, got

    def delay_var(h):
        k = np.arange(h.size)
        e = h * h
        mu = (k * e).sum() / e.sum()
        return float(((k - mu) ** 2 * e).sum() / e.sum())

    # the defining property: symN is nearer linear phase than dbN
    for n in (4, 5, 6, 8):
        assert delay_var(symlet_dec_lo(n)) < delay_var(daubechies_dec_lo(n))


def test_haar_analytic_golden():
    """Hand-computed haar SWT on [1,2,3,4] under the documented convention
    y[n] = Σ h[k]·x[(n−k) mod N]: a[n] = (x[n]+x[n−1])/√2,
    d[n] = (x[n]−x[n−1])/√2."""
    x = np.array([1.0, 2.0, 3.0, 4.0])
    a, d = swt1(x, "haar")
    s2 = np.sqrt(2.0)
    np.testing.assert_allclose(a, np.array([5.0, 3.0, 5.0, 7.0]) / s2,
                               atol=1e-14)
    np.testing.assert_allclose(d, np.array([-3.0, 1.0, 1.0, 1.0]) / s2,
                               atol=1e-14)


@pytest.mark.parametrize("w", ["haar", "db2", "db3", "coif1", "coif3",
                               "coif5"])
@pytest.mark.parametrize("n", [4, 17, 63, 128])
def test_swt_matches_fft_twin(w, n, rng):
    """Direct gather convolution == FFT convolution (independent numerical
    path) to 1e-10 — the pywt-golden analog."""
    x = rng.normal(size=n) * 10
    a1, d1 = swt1(x, w)
    a2, d2 = swt1_fft(x, w)
    np.testing.assert_allclose(a1, a2, atol=1e-10)
    np.testing.assert_allclose(d1, d2, atol=1e-10)


def test_swt_level2_atrous_semantics(rng):
    """Level-2 subbands == convolving the level-1 approx with the 1-zero
    upsampled filters (à trous definition), and flat signals scale by 2."""
    from pyradiomics_spark.functions.wavelets import _circular_conv

    x = rng.normal(size=32)
    a1, _ = swt1(x, "db2")
    lo = get_dec_lo("db2")
    hi = _dec_hi(lo)
    a2, d2 = swt_level(x, "db2", level=2)
    np.testing.assert_allclose(a2, _circular_conv(a1, _upsample(lo, 1)),
                               atol=1e-12)
    np.testing.assert_allclose(d2, _circular_conv(a1, _upsample(hi, 1)),
                               atol=1e-12)
    af, df = swt_level(np.full(16, 3.0), "coif1", level=2)
    np.testing.assert_allclose(af, np.full(16, 6.0), atol=1e-10)
    np.testing.assert_allclose(df, np.zeros(16), atol=1e-10)


@pytest.mark.parametrize("n", [1, 2, 3, 8, 17, 40])
def test_wavelet_haar_relational_formula(n, rng):
    """The wavelet_haar oracle's SQL formula (interior lag terms +
    even-length circular boundary term) == the kernel's swt1 haar detail
    energy, which the row itself reads as firstorder Energy of image type
    wavelet-H."""
    x = rng.integers(1, 12, size=n).astype(float)
    _, d = swt1(x, "haar")
    kernel_e = float(d @ d)
    formula = float(((x[1:] - x[:-1]) ** 2).sum() / 2.0)
    if n % 2 == 0:
        formula += (x[0] - x[-1]) ** 2 / 2.0
    assert formula == pytest.approx(kernel_e, rel=1e-12, abs=1e-12)


def test_lbp_transform_hand_case():
    from pyradiomics_spark.functions.intensity import lbp_transform

    x = np.array([3.0, 1.0, 4.0, 4.0, 2.0])
    # neighbors >= center within ±1:
    # p0: right(1>=3)no → 0 ; p1: left(3>=1)+right(4>=1) → 2
    # p2: left(1>=4)no + right(4>=4)yes → 1 ; p3: left(4>=4)+right(2>=4)no → 1
    # p4: left(4>=2) → 1
    np.testing.assert_array_equal(lbp_transform(x, 1), [0, 2, 1, 1, 1])
    # radius 2 adds the ±2 comparisons:
    # p0: +x2(4>=3) → 1 ; p1: +x3(4>=1) → 3 ; p2: +x0(3>=4)n +x4(2>=4)n → 1
    # p3: +x1(1>=4)n → 1 ; p4: +x2(4>=2) → 2
    np.testing.assert_array_equal(
        lbp_transform(x, 2), [1, 3, 1, 1, 2])


@pytest.mark.parametrize("w", ["haar", "db2", "coif1"])
def test_swt_flat_signal(w):
    x = np.full(16, 5.0)
    a, d = swt1(x, w)
    np.testing.assert_allclose(a, np.full(16, 5.0 * np.sqrt(2)), atol=1e-12)
    np.testing.assert_allclose(d, np.zeros(16), atol=1e-12)


@pytest.mark.parametrize("w", ["haar", "db2", "coif1"])
def test_swt_energy_preservation(w, rng):
    x = rng.normal(size=64)
    a, d = swt1(x, w)
    # orthogonal SWT (undecimated): ||a||² + ||d||² == 2·||x||²
    assert (a @ a + d @ d) == pytest.approx(2 * (x @ x))


def test_swt_odd_length_wrap_pad(rng):
    x = rng.normal(size=17)
    a, d = swt1(x, "haar")
    assert a.size == d.size == 17


def test_haar_detail_is_scaled_diff():
    x = np.array([1.0, 3.0, 7.0, 2.0])
    a, d = swt1(x, "haar")
    # haar: d[n] = (x[n] - x[n-1])/√2 up to convention sign/shift
    diffs = np.abs(d) * np.sqrt(2)
    expect = np.abs(x - np.roll(x, 1))
    np.testing.assert_allclose(sorted(diffs), sorted(expect), atol=1e-12)


def test_log_kernel_zero_dc_and_flat():
    k = log_kernel(2.0)
    assert k.sum() == pytest.approx(0.0, abs=1e-12)
    out = log_filter(np.full(50, 7.0), sigma=2.0)
    np.testing.assert_allclose(out, np.zeros(50), atol=1e-10)


def test_log_detects_blob(rng):
    x = np.zeros(100)
    x[45:55] = 1.0  # a blob of width ~ 2*sigma
    out = log_filter(x, sigma=3.0)
    # LoG response: strong extremum at blob center
    assert np.argmax(np.abs(out)) in range(40, 60)


def test_image_transforms_registry_complete():
    from pyradiomics_spark.config import ALL_IMAGE_TYPES
    for it in ALL_IMAGE_TYPES:
        assert it in IMAGE_TRANSFORMS
        out = IMAGE_TRANSFORMS[it](np.array([1.0, 2.0, 3.0, 4.0]))
        assert out.shape == (4,)
        assert np.isfinite(out).all()


@pytest.mark.parametrize("N", [2, 3, 4, 5])
def test_coiflet_defining_conditions(N):
    """coifN (Gauss-Newton solved) must satisfy ALL defining coiflet
    conditions at near machine precision: orthonormal shifts, DC gain √2,
    2N vanishing wavelet moments, and 2N−1 vanishing scaling moments about
    the integer center 4N−1 (Daubechies, Ten Lectures ch. 8). These pin
    the bank intrinsically — no pywt needed."""
    from pyradiomics_spark.functions.wavelets import coiflet_dec_lo

    h = coiflet_dec_lo(N)
    L = 6 * N
    assert h.size == L
    assert h.sum() == pytest.approx(np.sqrt(2), abs=1e-12)
    assert h @ h == pytest.approx(1.0, abs=1e-12)
    for m in range(1, 3 * N):
        assert h[2 * m:] @ h[:L - 2 * m] == pytest.approx(0.0, abs=1e-12)
    k = np.arange(L, dtype=float)
    sign = (-1.0) ** k
    for p in range(2 * N):
        # normalize by L^p — raw k^p spans 15 orders of magnitude
        assert (sign * k**p) @ h / L**p == pytest.approx(0.0, abs=1e-12)
    c = 4 * N - 1
    assert (k * h).sum() / h.sum() == pytest.approx(c, abs=1e-9)
    for p in range(1, 2 * N):
        assert ((k - c) ** p) @ h / L**p == pytest.approx(0.0, abs=1e-11)


def test_coiflet_main_taps_standard_branch():
    """Guard against converging to a mirrored/alternate solution branch:
    the two dominant taps sit at indices (4N−1, 4N−2) with the published
    signs and magnitudes (~0.8 and ~0.4)."""
    from pyradiomics_spark.functions.wavelets import coiflet_dec_lo

    for N in (2, 3, 4, 5):
        h = coiflet_dec_lo(N)
        c = 4 * N - 1
        assert h[c] > 0.75, (N, h[c])
        assert 0.35 < h[c - 1] < 0.45, (N, h[c - 1])
        assert int(np.argmax(np.abs(h))) == c


# ---------------------------------------------------------------------------
# Biorthogonal families (biorN.M / rbioN.M)
# ---------------------------------------------------------------------------

_BIOR_MEMBERS = ["1.1", "1.3", "1.5", "2.2", "2.4", "2.6", "2.8",
                 "3.1", "3.3", "3.5", "3.7", "3.9", "4.4", "5.5", "6.8"]


def test_bior_published_banks():
    """Pin the constructions against the published pywt/Matlab coefficient
    tables (CDF 5/3 = bior2.2, CDF 9/7 = bior4.4, plus the 1.3/5.5/6.8
    spot values) to 1e-10."""
    from pyradiomics_spark.functions.wavelets import bior_lowpass_pair

    dec, rec = bior_lowpass_pair(1, 3)
    assert np.allclose(dec, [-0.08838834764831845, 0.08838834764831845,
                             0.7071067811865476, 0.7071067811865476,
                             0.08838834764831845, -0.08838834764831845],
                       atol=1e-10)
    assert np.allclose(rec, [0.7071067811865476, 0.7071067811865476],
                       atol=1e-10)
    dec, rec = bior_lowpass_pair(2, 2)  # LeGall / CDF 5/3
    assert np.allclose(dec, [-0.1767766952966369, 0.3535533905932738,
                             1.0606601717798214, 0.3535533905932738,
                             -0.1767766952966369], atol=1e-10)
    dec, rec = bior_lowpass_pair(4, 4)  # JPEG2000 / CDF 9/7
    assert np.allclose(dec, [0.03782845550699535, -0.02384946501937986,
                             -0.11062440441842342, 0.37740285561265380,
                             0.85269867900940344, 0.37740285561265380,
                             -0.11062440441842342, -0.02384946501937986,
                             0.03782845550699535], atol=1e-9)
    assert np.allclose(rec, [-0.06453888262893856, -0.04068941760955867,
                             0.41809227322221221, 0.78848561640566439,
                             0.41809227322221221, -0.04068941760955867,
                             -0.06453888262893856], atol=1e-9)
    dec, rec = bior_lowpass_pair(5, 5)
    assert abs(dec[0] - 0.039687088347405) < 1e-9
    assert abs(dec[4] - 0.736660181428210) < 1e-9
    assert abs(rec[5] - 0.899506109748648) < 1e-9
    dec, rec = bior_lowpass_pair(6, 8)
    assert abs(dec[0] - 0.001908831736481) < 1e-9
    assert abs(dec[8] - 0.825922997458402) < 1e-9


@pytest.mark.parametrize("nm", _BIOR_MEMBERS)
def test_bior_perfect_reconstruction_identity(nm):
    """conv(dec_lo, rec_lo) must be halfband: center tap 1, every other
    even-offset tap 0 — the defining biorthogonality condition, holding for
    ALL family members regardless of the root-split choice."""
    from pyradiomics_spark.functions.wavelets import bior_lowpass_pair

    N, M = (int(s) for s in nm.split("."))
    dec, rec = bior_lowpass_pair(N, M)
    p = np.convolve(dec, rec)
    c = (p.size - 1) // 2
    assert abs(p[c] - 1.0) < 1e-10
    for i in range(p.size):
        if i != c and (i - c) % 2 == 0:
            assert abs(p[i]) < 1e-10, (nm, i)
    assert abs(dec.sum() - np.sqrt(2)) < 1e-10
    assert abs(rec.sum() - np.sqrt(2)) < 1e-10
    # both filters symmetric (linear phase) — the point of biorthogonality
    assert np.allclose(dec, dec[::-1], atol=1e-10)
    assert np.allclose(rec, rec[::-1], atol=1e-10)


@pytest.mark.parametrize("nm", ["1.3", "2.2", "3.5", "4.4", "6.8"])
def test_bior_dec_hi_vanishing_moments(nm):
    """dec_hi (built from the synthesis lowpass) annihilates polynomials of
    degree < (synthesis binomial power) — N for spline members, the split
    power for 4.4/5.5/6.8."""
    from pyradiomics_spark.functions.wavelets import get_bank

    N = {"1.3": 1, "2.2": 2, "3.5": 3, "4.4": 4, "6.8": 6}[nm]
    lo, hi = get_bank(f"bior{nm}")
    k = np.arange(hi.size, dtype=float)
    for p in range(N):
        assert abs(np.dot(hi, k ** p)) < 1e-8, (nm, p)


@pytest.mark.parametrize("w", ["bior1.3", "bior2.2", "bior3.3", "bior4.4",
                               "bior5.5", "bior6.8", "rbio2.2", "rbio4.4"])
@pytest.mark.parametrize("n", [17, 64])
def test_bior_swt_matches_fft_twin(w, n, rng):
    from pyradiomics_spark.functions.wavelets import swt1, swt1_fft

    x = rng.normal(size=n)
    a1, d1 = swt1(x, w)
    a2, d2 = swt1_fft(x, w)
    assert np.allclose(a1, a2, atol=1e-9)
    assert np.allclose(d1, d2, atol=1e-9)


def test_rbio_is_swapped_bank():
    from pyradiomics_spark.functions.wavelets import (
        _center_pad, bior_lowpass_pair, get_bank)

    dec, rec = bior_lowpass_pair(2, 4)
    lo_b, _ = get_bank("bior2.4")
    lo_r, _ = get_bank("rbio2.4")
    L = max(dec.size, rec.size)
    assert np.allclose(lo_b, _center_pad(dec, L), atol=1e-12)
    assert np.allclose(lo_r, _center_pad(rec, L), atol=1e-12)


def test_bior_unknown_member_rejected():
    from pyradiomics_spark.functions.wavelets import get_bank

    with pytest.raises(ValueError):
        get_bank("bior2.3")
    with pytest.raises(ValueError):
        get_bank("bior7.7")


@pytest.mark.parametrize("N", [2, 3, 4, 5])
def test_coiflet_frozen_bank_matches_fresh_solve(N):
    """The frozen `_COIF_BANKS` table must stay within the solver's
    cross-BLAS reproducibility band of a fresh Gauss-Newton solve (the
    fixed point moves ~1e-9 across BLAS builds — that drift is exactly why
    the bank is frozen; a larger gap means the table was edited or the
    solver broke)."""
    from pyradiomics_spark.functions.wavelets import (
        _solve_coiflet, coiflet_dec_lo)

    frozen = coiflet_dec_lo(N)
    solved = _solve_coiflet(N)
    assert np.max(np.abs(frozen - solved)) < 5e-8
