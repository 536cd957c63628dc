"""K-kernel goldens (reference tests/test_timedomain_features.py, pinned
as fixed values since scipy is absent here — scipy path used on clusters)."""

from __future__ import annotations

import numpy as np
import pytest

from mhealth_spark import kernels, synth


def _lombscargle_4call(x, y, w):
    """The Scargle-1982 periodogram written straight from its definition,
    four trig calls per pair: sin 2wt and cos 2wt for tau, then cos and
    sin of the shifted phase."""
    yc = y - y.mean()
    wt = w[:, None] * x[None, :]
    tau = np.arctan2(np.sin(2 * wt).sum(1), np.cos(2 * wt).sum(1)) / (2 * w)
    arg = wt - (w * tau)[:, None]
    cos_a, sin_a = np.cos(arg), np.sin(arg)
    out = 0.5 * (
        (cos_a @ yc) ** 2 / (cos_a * cos_a).sum(1)
        + (sin_a @ yc) ** 2 / (sin_a * sin_a).sum(1)
    )
    return out * 2.0 / np.dot(y, y)


def _noisy_400():
    rng = np.random.default_rng(0)
    t = np.sort(rng.uniform(0, 20, 400))
    return t, 3 * np.sin(2 * np.pi * t / 2.5) + rng.normal(0, 0.3, 400)


def _healthkit_heart_rate():
    ev = synth.synth_healthkit(n_users=1, days=3, seed=4)
    hr = ev[ev["type"] == "HeartRate"].sort_values("local_start")
    t = (hr["local_start"] - hr["local_start"].iloc[0]) / np.timedelta64(1, "h")
    return t.to_numpy(float), hr["value_num"].to_numpy(float)


@pytest.mark.parametrize("series", [_noisy_400, _healthkit_heart_rate])
def test_lombscargle_matches_4call_reference(series):
    t, y = series()
    w = 2 * np.pi * kernels.get_frequencies(t)
    got = kernels.lombscargle(t, y, w)
    assert (got >= 0).all()
    np.testing.assert_allclose(got, _lombscargle_4call(t, y, w), rtol=1e-9)
    # chunk boundaries inside the grid change nothing but rounding
    np.testing.assert_allclose(
        got, kernels.lombscargle(t, y, w, chunk=len(w) // 3), rtol=1e-12
    )


def test_lombscargle_regular_grid_entropy_matches_reference():
    # near Nyquist the regular grid makes single powers tiny and noisy;
    # the normalised entropy over the whole grid must still agree
    t = np.linspace(0, 10, 1000)
    y = np.sin(2 * np.pi * 1.0 * t)
    w = 2 * np.pi * kernels.get_frequencies(t)
    got = kernels.lombscargle(t, y, w)
    assert (got >= 0).all()
    assert np.isclose(
        kernels.spectral_entropy(got),
        kernels.spectral_entropy(_lombscargle_4call(t, y, w)),
        atol=1e-5,
    )


def test_lomb_scargle_features_golden():
    t = np.linspace(0, 10, 1000)
    y = np.sin(2 * np.pi * 1.0 * t)
    f = kernels.lomb_scargle_features(t, y)
    assert np.isclose(f["spectral_entropy"], 5.876, atol=1e-3)
    assert np.isclose(f["peak_period"], 1.0, atol=1e-3)
    assert f["max_autocorr_lag"] == 1
    # decay_rate: cost surface is flat in b for this input (autocorr dies
    # within one lag) — any sufficiently large b is equivalent; scipy's
    # LMDER stops at 25.242. Assert the fit is in the "immediate decay"
    # regime rather than a path-dependent constant.
    assert f["decay_rate"] > 5.0 or np.isnan(f["decay_rate"])


def test_lomb_scargle_empty_and_short():
    assert kernels.lomb_scargle_features(np.arange(5), np.arange(5)) is None
    assert kernels.lomb_scargle_features(np.array([]), np.array([])) is None


def test_get_frequencies_golden():
    f = kernels.get_frequencies(np.array([0.0, 1, 2, 3, 4]))
    assert len(f) == 40
    assert np.isclose(f[0], 0.25)
    assert np.isclose(f[-1], 2.0)
    with pytest.raises(ValueError):
        kernels.get_frequencies(np.array([1.0]))
    with pytest.raises(ValueError):
        kernels.get_frequencies(np.array([3.0, 1.0, 2.0]))


def test_lombscargle_zero_freqs():
    out = kernels.calculate_lomb_scargle(
        np.arange(10.0), np.arange(10.0), np.zeros(4)
    )
    assert (out == 0).all()
    with pytest.raises(ValueError):
        kernels.calculate_lomb_scargle(np.array([]), np.array([]), np.array([1.0]))


def test_lombscargle_peak_detection_noisy():
    rng = np.random.default_rng(0)
    t = np.sort(rng.uniform(0, 20, 400))
    y = 3 * np.sin(2 * np.pi * t / 2.5) + rng.normal(0, 0.3, 400)
    freqs = kernels.get_frequencies(t)
    pg = kernels.calculate_lomb_scargle(t, y, freqs)
    peak = 1.0 / kernels.peak_frequency(pg, freqs)
    assert np.isclose(peak, 2.5, rtol=0.05)


def test_fit_cosinor_recovers_params():
    t = np.arange(0, 72, 1.0)
    true = dict(mesor=70.0, amplitude=15.0, acrophase=14.0, period=24.0)
    y = kernels.circ_cosine(t, **true)
    p = kernels.fit_cosinor(t, y)
    assert np.isclose(p[0], true["mesor"], atol=0.5)
    assert np.isclose(p[1], true["amplitude"], atol=0.5)
    assert np.isclose(p[3], true["period"], atol=0.5)
    # acrophase is periodic mod period
    assert np.isclose(p[2] % p[3], true["acrophase"] % true["period"], atol=0.5)


def test_fit_cosinor_respects_bounds():
    rng = np.random.default_rng(1)
    t = np.arange(0, 48, 1.0)
    y = 300 + 250 * np.cos(2 * np.pi * (t - 10) / 24) + rng.normal(0, 1, 48)
    p = kernels.fit_cosinor(t, y)
    lo, hi = kernels.COSINOR_BOUNDS
    assert (p >= lo - 1e-9).all()
    assert (p <= np.asarray(hi) + 1e-9).all()


def test_exp_decay_fit_well_conditioned():
    x = np.arange(50, dtype=float)
    ac = 2.0 * np.exp(-0.15 * x)
    # feed as a full autocorr (function halves it)
    b = kernels.autocorr_decay_rate(np.concatenate([ac, ac]))
    assert np.isclose(b, 0.15, rtol=1e-3)
