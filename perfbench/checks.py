"""Output checks, run outside the clock on pandas frames.

Every check returns a list of problems; an empty list is a pass. The
Spark side only reduces outputs to small frames (per-row hashes, grids,
daily tables), so each check is testable without a session
(``test_checks.py`` perturbs an output and expects each check to fail).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, timestamps and objects as strings, rows
    sorted: the order-insensitive form the DuckDB oracle comparison uses."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def oracle_problems(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Row count, column names and order-insensitive values (floats to
    1e-9), the comparison the repository's oracle-parity tool applies."""
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} vs {len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        return problems + [f"columns {scols} vs {dcols}"]
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = np.allclose(
                av.to_numpy(dtype=float), bv.to_numpy(dtype=float),
                rtol=1e-9, atol=1e-9, equal_nan=True,
            )
        else:
            ok = av.astype(str).equals(bv.astype(str))
        if not ok:
            problems.append(f"column {c!r} differs")
    return problems


def row_hash_problems(out: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """``(doc_id, h)`` frames, ``h`` a hash of the row's pass-through
    payload: the output must hold exactly the input's rows, each once."""
    problems = []
    if len(out) != len(expected):
        problems.append(f"row count {len(out)} vs {len(expected)}")
    if out["doc_id"].duplicated().any():
        problems.append("duplicate doc_id in output")
    merged = expected.merge(out, on="doc_id", how="outer", suffixes=("_in", "_out"))
    bad = merged["h_in"].ne(merged["h_out"]).sum()
    if bad:
        problems.append(f"{bad} rows missing or with changed payload")
    return problems


def resume_problems(first: dict, second: dict, n_rows: int, n_buckets: int) -> list[str]:
    """``checkpointed_write`` stats: the first call writes every bucket and
    every row, the repeat call on the same directory skips every bucket."""
    problems = []
    if first.get("written") != n_buckets or first.get("rows") != n_rows:
        problems.append(f"first write {first}, expected {n_buckets} buckets, {n_rows} rows")
    if second.get("skipped") != n_buckets or second.get("written") != 0:
        problems.append(f"resume {second}, expected all {n_buckets} buckets skipped")
    return problems


def session_problems(sessions: pd.DataFrame, n_docs: int, n_tokens: int) -> list[str]:
    """``sessionized`` rollup: every document in exactly one session, token
    totals preserved, sessions not ending before they start."""
    problems = []
    if int(sessions["n_docs"].sum()) != n_docs:
        problems.append(f"sessions hold {int(sessions['n_docs'].sum())} docs, input {n_docs}")
    if int(sessions["session_tokens"].sum()) != n_tokens:
        problems.append("session token total differs from the input's")
    if (sessions["session_start"] > sessions["session_end"]).any():
        problems.append("a session ends before it starts")
    if sessions.duplicated(["writer_id", "session_id"]).any():
        problems.append("duplicate (writer_id, session_id)")
    return problems


def daily_vital_problems(daily: pd.DataFrame, events: pd.DataFrame, vital: str) -> list[str]:
    """Independent pandas reference for the E2 ``{vital}_{min,max}_day``
    columns (E2 applies no value range). The synthetic vitals carry at
    most one point per hour, so the day's min/max of hourly medians is
    the day's min/max point."""
    v = events[events["type"] == vital]
    ref = (
        v.assign(date=v["local_start"].dt.date)
        .groupby(["user_id", "date"])["value_num"]
        .agg(["min", "max"])
        .reset_index()
    )
    got = daily[["user_id", "date", f"{vital}_min_day", f"{vital}_max_day"]].dropna()
    m = ref.merge(got, on=["user_id", "date"], how="outer")
    bad = ~(
        np.isclose(m["min"], m[f"{vital}_min_day"], rtol=1e-9, atol=1e-9)
        & np.isclose(m["max"], m[f"{vital}_max_day"], rtol=1e-9, atol=1e-9)
    )
    if bad.any():
        return [f"{int(bad.sum())} (user, day) rows differ from the {vital} reference"]
    if daily.duplicated(["user_id", "date"]).any():
        return ["duplicate (user_id, date) rows"]
    return []


def slice_events(events: pd.DataFrame, requests: pd.DataFrame) -> pd.DataFrame:
    """Pandas reference for ``features.slice_requests``: each request's
    events whose start or end lies in [ts - lookback_hours, ts], both ends
    included, tagged with ``request_id``, ``_wstart`` and ``_wend``."""
    r = requests.assign(
        _wend=requests["ts"],
        _wstart=requests["ts"] - pd.to_timedelta(requests["lookback_hours"], unit="h"),
    )
    m = r.drop(columns="ts").merge(events, on="user_id")
    inside = m["local_start"].between(m["_wstart"], m["_wend"]) | m["local_end"].between(
        m["_wstart"], m["_wend"]
    )
    return m[inside].reset_index(drop=True)


def slice_problems(sliced: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """``slice_requests`` rows: no event may start after its request ts,
    and as many rows as the pandas slice."""
    problems = []
    n = int((sliced["local_start"] > sliced["_wend"]).sum())
    if n:
        problems.append(f"{n} sliced events start after their request ts")
    if len(sliced) != len(expected):
        problems.append(f"{len(sliced)} sliced rows, pandas reference {len(expected)}")
    return problems


def _close(a, b) -> np.ndarray:
    return np.isclose(
        np.asarray(a, dtype=float), np.asarray(b, dtype=float),
        rtol=1e-6, atol=1e-9, equal_nan=True,
    )


def _keyed_problems(got: pd.DataFrame, ref: pd.DataFrame, keys: list[str],
                    cols: list[str]) -> list[str]:
    """Same key set in ``got`` and ``ref``, and ``cols`` equal within 1e-6."""
    if got.duplicated(keys).any():
        return [f"duplicate {keys} rows"]
    m = ref.merge(got, on=keys, how="outer", suffixes=("_ref", ""), indicator=True)
    problems = []
    extra = int((m["_merge"] != "both").sum())
    if extra:
        problems.append(f"{extra} keys in only one of output and reference")
    both = m[m["_merge"] == "both"]
    for c in cols:
        bad = int((~_close(both[c], both[f"{c}_ref"])).sum())
        if bad:
            problems.append(f"{bad} rows differ in {c}")
    return problems


def lomb_scargle_reference(sliced: pd.DataFrame, vital: str,
                           vital_range: tuple[float, float]) -> pd.DataFrame:
    """Per request, the spectral entropy, peak period and autocorrelation
    peak lag of the Lomb-Scargle periodogram (Scargle 1982, tau offset,
    pre-centred) of its in-range ``vital`` points on the log frequency grid
    [1/T, 2/median(dt)] with min(5 T ceil(f_hi), 10000) points, written
    directly from those definitions. Requests with at most 5 points have
    no row. The exponential decay fit is not reproduced."""
    v = sliced[(sliced["type"] == vital) & sliced["value_num"].between(*vital_range)]
    v = v.dropna(subset=["value_num", "local_start"]).drop_duplicates(
        ["request_id", "value_num", "local_start"])
    rows = []
    for rid, g in v.groupby("request_id"):
        if len(g) <= 5:
            continue
        g = g.sort_values("local_start", kind="stable")
        t = ((g["local_start"] - g["local_start"].iloc[0]) / pd.Timedelta(hours=1)).to_numpy(float)
        y = g["value_num"].to_numpy(float)
        span, f_hi = t[-1] - t[0], 2.0 / np.median(np.diff(t))
        n_freq = int(min(5 * span * np.ceil(f_hi), 10_000))
        freqs = np.logspace(np.log10(1.0 / span), np.log10(f_hi), n_freq)
        w = 2 * np.pi * freqs[:, None]
        tau = np.arctan2(np.sin(2 * w * t).sum(1), np.cos(2 * w * t).sum(1))[:, None] / (2 * w)
        c, s = np.cos(w * (t - tau)), np.sin(w * (t - tau))
        yc = y - y.mean()
        power = (c @ yc) ** 2 / (c * c).sum(1) + (s @ yc) ** 2 / (s * s).sum(1)
        p = power / power.sum()
        rows.append({
            "user_id": str(rid),
            f"{vital}_spectral_entropy": float(-(p * np.log(p + np.finfo(float).eps)).sum()),
            f"{vital}_peak_period": float(1.0 / freqs[np.argmax(p)]),
            f"{vital}_max_autocorr_lag": float(np.argmax(np.fft.irfft(p, n=len(y))) + 1),
        })
    return pd.DataFrame(rows, columns=["user_id"] + [
        f"{vital}_{c}" for c in ("spectral_entropy", "peak_period", "max_autocorr_lag")])


def lomb_scargle_problems(out: pd.DataFrame, sliced: pd.DataFrame, vital: str,
                          vital_range: tuple[float, float]) -> list[str]:
    """``lomb_scargle_vital_features`` per request (request id in the
    ``user_id`` slot) against ``lomb_scargle_reference``."""
    ref = lomb_scargle_reference(sliced, vital, vital_range)
    return _keyed_problems(out.astype({"user_id": str}), ref, ["user_id"],
                           [c for c in ref.columns if c != "user_id"])


def hourly_medians(events: pd.DataFrame, vital: str) -> pd.DataFrame:
    """Per (user, day), the median of each clock hour's distinct points."""
    v = events[events["type"] == vital]
    v = v.assign(_day=v["local_start"].dt.floor("D")).drop_duplicates(
        ["user_id", "_day", "local_start", "value_num"])
    v = v.assign(_hb=(v["local_start"] - pd.Timestamp(0)) // pd.Timedelta(hours=1))
    return v.groupby(["user_id", "_day", "_hb"])["value_num"].median().reset_index()


def circadian_reference(events: pd.DataFrame, vital: str, suffix: str) -> pd.DataFrame:
    """Per (user, day) with at least 3 hourly-median bins (computed in
    pandas), the package's cosinor fit of those bins: the fit is a bounded
    local optimum, so it is not re-derived here."""
    from mhealth_spark import kernels

    names = [f"{vital}_circadian_{p}{suffix}" for p in
             ("mesor", "amplitude", "acrophase", "period")]
    rows = []
    for (user, day), g in hourly_medians(events, vital).groupby(["user_id", "_day"]):
        if len(g) < 3:
            continue
        g = g.sort_values("_hb")
        t = (g["_hb"].to_numpy() - g["_hb"].iloc[0]).astype(float)
        params = kernels.fit_cosinor(t, g["value_num"].to_numpy(float))
        rows.append({"user_id": user, "_day": day, **dict(zip(names, map(float, params)))})
    return pd.DataFrame(rows, columns=["user_id", "_day"] + names)


def circadian_problems(out: pd.DataFrame, events: pd.DataFrame, vital: str,
                       suffix: str) -> list[str]:
    """``circadian_vital_features`` per (user, day) against
    ``circadian_reference``."""
    ref = circadian_reference(events, vital, suffix)
    return _keyed_problems(out, ref, ["user_id", "_day"], list(ref.columns[2:]))


def activity_problems(out: pd.DataFrame, events: pd.DataFrame, hk_type: str) -> list[str]:
    """``aggregate_active_duration`` per (user, day), hourly bins. Every
    qualifying day (Apple Watch, single-count, positive value) has a row
    whose sum and duration are positive and at most the raw ones (overlap
    merging only shrinks them). On days whose intervals do not overlap
    the merge does nothing, so sum, duration and bin count must equal the
    raw ones."""
    a = events[(events["type"] == hk_type) & (events["device_name"] == "Apple Watch")
               & (events["quantity_count"] == 1) & (events["value_num"] > 0)]
    a = a.assign(_day=a["local_start"].dt.floor("D")).drop_duplicates(
        ["user_id", "_day", "local_start", "local_end", "value_num"])
    a = a.assign(
        dur_h=(a["local_end"] - a["local_start"]) / pd.Timedelta(hours=1),
        _hb=(a["local_start"] - pd.Timestamp(0)) // pd.Timedelta(hours=1),
    ).sort_values(["user_id", "_day", "local_start", "local_end"])
    prev_end = a.groupby(["user_id", "_day"])["local_end"].transform(
        lambda e: e.cummax().shift())
    a = a.assign(_ovl=a["local_start"] <= prev_end)
    ref = a.groupby(["user_id", "_day"]).agg(
        raw_sum=("value_num", "sum"), raw_dur=("dur_h", "sum"),
        raw_bins=("_hb", "nunique"), overlaps=("_ovl", "any")).reset_index()
    s, d, n = (f"{hk_type}_{x}" for x in ("sum", "duration", "count"))
    m = ref.merge(out, on=["user_id", "_day"], how="outer", indicator=True)
    problems = []
    if (m["_merge"] != "both").any():
        problems.append(f"{int((m['_merge'] != 'both').sum())} days in only one of output and reference")
    m = m[m["_merge"] == "both"]
    tol = 1e-6
    bounded = (m[s] > 0) & (m[s] <= m["raw_sum"] + tol) & (m[d] > 0) & (m[d] <= m["raw_dur"] + tol)
    if not bounded.all():
        problems.append(f"{int((~bounded).sum())} days with sum or duration out of bounds")
    clean = m[~m["overlaps"].astype(bool)]
    exact = _close(clean[s], clean["raw_sum"]) & _close(clean[d], clean["raw_dur"]) & _close(
        clean[n], clean["raw_bins"])
    if not exact.all():
        problems.append(f"{int((~exact).sum())} non-overlapping days differ from the raw totals")
    if out.duplicated(["user_id", "_day"]).any():
        problems.append("duplicate (user_id, _day) rows")
    return problems


def e1_reference(sliced: pd.DataFrame, requests: pd.DataFrame) -> pd.DataFrame:
    """Per request with sliced events: its user and ts, the QC span in days
    and distinct dates of its events, and its in-range HeartRate min/max
    (the synthetic HeartRate has one point per clock hour, so the extremes
    of hourly medians are the extreme points)."""
    g = sliced.assign(_date=sliced["local_start"].dt.date).groupby("request_id")
    ref = pd.DataFrame({
        "QC_duration_days": (g["local_start"].max() - g["local_start"].min()) / pd.Timedelta(days=1),
        "QC_ndates": g["_date"].nunique().astype(float),
    })
    hr = sliced[(sliced["type"] == "HeartRate") & sliced["value_num"].between(30.0, 200.0)]
    hr = hr.groupby("request_id")["value_num"]
    ref = ref.join(hr.min().rename("HeartRate_min")).join(hr.max().rename("HeartRate_max"))
    ref = ref.join(requests.set_index("request_id")[["user_id", "ts"]]).reset_index()
    return ref.assign(request_id=ref["request_id"].astype(str))


def e1_problems(out: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    """``generate_hk_features``: one row per request of ``e1_reference``,
    with its user, ts (``survey_start``) and values."""
    got = out.astype({"request_id": str})
    problems = _keyed_problems(got, ref, ["request_id"], list(ref.columns[1:5]))
    m = ref.merge(got, on="request_id", suffixes=("_ref", ""))
    if not (m["user_id"].eq(m["user_id_ref"]) & m["survey_start"].eq(m["ts"])).all():
        problems.append("user_id or survey_start differs from the request's")
    return problems
