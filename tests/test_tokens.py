"""input_hint invariants: the tokens table is deterministic and the engine
passes token arrays through BYTE-IDENTICAL on non-aggregated rows."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mhealth_spark.synth import synth_tokens


def test_synth_tokens_deterministic(spark):
    a = synth_tokens(spark, 200, seed=42).toPandas().sort_values("doc_id")
    b = synth_tokens(spark, 200, seed=42).toPandas().sort_values("doc_id")
    assert (a.doc_id.values == b.doc_id.values).all()
    for x, y in zip(a.tokens, b.tokens):
        assert list(x) == list(y)
    assert (a.n_tok == a.tokens.map(len)).all()


def test_tokens_passthrough_equality(spark):
    """Run the tokens table through an entity exchange + per-partition
    sort and a filter/enrich pipeline; token arrays must be untouched."""
    df = synth_tokens(spark, 500, seed=7)
    out = (
        df.repartition("source")
        .sortWithinPartitions("source", "ts")
        .filter(F.col("n_tok") >= 16)
        .withColumn("tok_sum", F.aggregate("tokens", F.lit(0), lambda acc, x: acc + x))
    )
    joined = (
        df.alias("a")
        .join(out.alias("b"), "doc_id")
        .select(
            F.col("a.tokens").alias("t0"),
            F.col("b.tokens").alias("t1"),
        )
        .withColumn("eq", F.col("t0") == F.col("t1"))
    )
    n_total = df.count()
    n_eq = joined.filter("eq").count()
    assert joined.count() == n_total  # filter keeps all (n_tok >= 16 by synth)
    assert n_eq == n_total


def test_skew_distribution(spark):
    """synth tokens deliberately produce a heavy entity for skew tests."""
    counts = (
        synth_tokens(spark, 2000, seed=42)
        .groupBy("source")
        .count()
        .toPandas()
        .set_index("source")["count"]
    )
    assert counts.idxmax() == "web"
    assert counts.max() > 0.4 * counts.sum()


def test_feature_vectors_consistent_with_row_features(spark):
    """The narrow tier and the payload-join path must agree feature-for-
    feature: row_features = feature_vectors ⋈ payload, nothing more."""
    import pandas as pd

    from mhealth_spark.tokens_engine import feature_vectors, row_features

    tk = synth_tokens(spark, 600, seed=13)
    fv = feature_vectors(tk).toPandas().set_index("doc_id").sort_index()
    rf = (
        row_features(tk)
        .drop("tokens")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert set(fv.columns) == set(rf.columns)
    for c in fv.columns:
        pd.testing.assert_series_equal(fv[c], rf[c], check_names=False)


def test_label_horizon_matches_brute_force_and_strictly_future(spark):
    """Forward label join: per (source, hour) aggregates over (r, r+24h]
    only — differential vs a pandas brute force, plus the tiling property
    with the backward join (no event is both feature and label)."""
    import pandas as pd

    from mhealth_spark.tokens_engine import (
        backfill_features,
        hourly_requests,
        label_horizon_features,
    )

    tk = synth_tokens(spark, 400, seed=11)
    reqs = hourly_requests(tk)
    fwd = label_horizon_features(tk, reqs).toPandas()
    bwd = backfill_features(tk, reqs).toPandas()

    ev = tk.select("source", "ts", "n_tok").toPandas()
    for _, r in fwd.sample(n=40, random_state=0).iterrows():
        lo = r["ts"]
        hi = lo + pd.Timedelta(hours=24)
        m = ev[(ev.source == r["source"]) & (ev.ts > lo) & (ev.ts <= hi)]
        assert r["docs_next"] == len(m)
        if len(m):
            assert r["tokens_next"] == m.n_tok.sum()
            gap = (m.ts.min() - lo).total_seconds()
            assert r["first_gap_s"] == gap and gap > 0
        else:
            assert pd.isna(r["first_gap_s"])

    # tiling: backward window ends AT r.ts (inclusive), forward starts
    # strictly after — total docs over both = docs in (r-24h, r+24h]
    both = fwd.merge(bwd, on=["source", "ts"])
    ev_by_src = {s: g for s, g in ev.groupby("source")}
    for _, r in both.sample(n=25, random_state=1).iterrows():
        g = ev_by_src[r["source"]]
        lo = r["ts"] - pd.Timedelta(hours=24)
        hi = r["ts"] + pd.Timedelta(hours=24)
        n_union = len(g[(g.ts > lo) & (g.ts <= hi)])
        assert int(r["docs_24h"]) + int(r["docs_next"]) == n_union


def test_distribution_features_brute_force(spark):
    """unigram_entropy / bigram_distinct_ratio vs a numpy reference."""
    import numpy as np

    from mhealth_spark.tokens_engine import distribution_features

    tk = synth_tokens(spark, 120, seed=3)
    out = distribution_features(tk).toPandas().set_index("doc_id")
    raw = tk.select("doc_id", "tokens").toPandas().set_index("doc_id")
    for doc_id, row in raw.iterrows():
        t = np.asarray(list(row.tokens), dtype=np.int64)
        n = len(t)
        _, counts = np.unique(t, return_counts=True)
        ent = np.log(n) - float((counts * np.log(counts)).sum()) / n
        pairs = t[:-1] * 4294967296 + t[1:]
        ratio = len(np.unique(pairs)) / (n - 1)
        got = out.loc[doc_id]
        assert abs(got.unigram_entropy - ent) < 1e-9
        assert abs(got.bigram_distinct_ratio - ratio) < 1e-9
    # degenerate doc: constant tokens → entropy 0, one distinct bigram
    import pandas as pd

    const = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["c"], "tokens": [[7] * 32], "n_tok": [32]})
    )
    g = distribution_features(const).toPandas().iloc[0]
    assert g.unigram_entropy == 0.0
    assert abs(g.bigram_distinct_ratio - 1 / 31) < 1e-12


def test_consecutive_repeat_flags_planted(spark):
    """Plant exact repeats inside and outside the lookback window; only
    the in-window one flags."""
    import pandas as pd

    from mhealth_spark.tokens_engine import consecutive_repeat_flags

    rows = []
    base = pd.Timestamp("2024-01-01")
    # writer A: doc 0 repeated at position 3 (in window) and a distinct tail
    seqs = [[1, 2, 3], [4, 5], [6, 7, 8], [1, 2, 3], [9, 9]]
    for i, s in enumerate(seqs):
        rows.append(("a%d" % i, "wA", base + pd.Timedelta(minutes=i), s, len(s)))
    # writer B: repeat beyond the K=2 lookback → NOT flagged
    seqs_b = [[1, 1], [2, 2], [3, 3], [1, 1]]
    for i, s in enumerate(seqs_b):
        rows.append(("b%d" % i, "wB", base + pd.Timedelta(minutes=i), s, len(s)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "writer_id", "ts", "tokens", "n_tok"])
    )
    out = (
        consecutive_repeat_flags(df, lookback_rows=2)
        .toPandas()
        .set_index("doc_id")["is_repeat"]
    )
    assert not out["a0"] and not out["a1"] and not out["a2"]
    assert not out["a3"]  # repeat of a0, but 3 rows back > K=2
    assert not out["a4"]
    assert not out["b3"]  # repeat of b0, 3 back > K=2
    # widen the window: now both repeats flag
    out4 = (
        consecutive_repeat_flags(df, lookback_rows=4)
        .toPandas()
        .set_index("doc_id")["is_repeat"]
    )
    assert out4["a3"] and out4["b3"]
    assert int(out4.sum()) == 2


def test_interleave_sources_round_robin(spark):
    """interleave_key is a total order that rotates sources: within any
    prefix of the sorted order, per-source counts differ by ≤ 1 while all
    sources still have docs remaining."""
    import pandas as pd

    from mhealth_spark.pipelines.corpus import interleave_sources

    pdf = pd.DataFrame(
        {
            "doc_id": range(90),
            "source": ["s%d" % (i % 3) for i in range(30)]
            + ["s0"] * 30
            + ["s1"] * 30,
        }
    )
    df = spark.createDataFrame(pdf)
    out = interleave_sources(df).toPandas().sort_values("interleave_key")
    assert out.interleave_key.is_unique
    # first 3*k keys: balanced while every source has supply (s2 has 10)
    head = out.head(30)
    counts = head.source.value_counts()
    assert counts.max() - counts.min() <= 1
    # determinism: second run identical
    out2 = interleave_sources(df).toPandas().sort_values("interleave_key")
    assert (out.doc_id.values == out2.doc_id.values).all()


def test_training_set_multi_horizon_matches_separate_passes(spark):
    """training_set's conditional 1h columns (computed inside the single
    24h as-of pass) must equal an independent backfill_features run at
    lookback=1h, its 24h columns the 24h run, and its label columns the
    label_horizon run — and features/labels must tile the request ts
    with zero overlap (docs_1h <= docs_24h, no event counted on both
    sides)."""
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import (
        backfill_features,
        hourly_requests,
        label_horizon_features,
        training_set,
    )

    tk = synth_tokens(spark, 800, seed=11)
    req = hourly_requests(tk)
    got = training_set(tk, req).toPandas().set_index(["source", "ts"])
    assert len(got) > 0

    b1 = (
        backfill_features(tk, req, lookback_hours=1.0)
        .toPandas()
        .set_index(["source", "ts"])
    )
    b24 = backfill_features(tk, req).toPandas().set_index(["source", "ts"])
    lab = (
        label_horizon_features(tk, req)
        .toPandas()
        .set_index(["source", "ts"])
    )
    assert set(got.index) == set(b24.index) == set(lab.index)
    g = got.loc[b24.index]
    for col, ref in [
        ("docs_1h", b1.docs_24h),
        ("tokens_1h", b1.tokens_24h),
        ("mean_len_1h", b1.mean_len_24h),
        ("max_len_1h", b1.max_len_24h),
        ("docs_24h", b24.docs_24h),
        ("tokens_24h", b24.tokens_24h),
        ("mean_len_24h", b24.mean_len_24h),
        ("max_len_24h", b24.max_len_24h),
        ("docs_next", lab.docs_next),
        ("tokens_next", lab.tokens_next),
        ("first_gap_s", lab.first_gap_s),
    ]:
        a = g[col]
        r = ref.loc[g.index]
        both_null = a.isna() & r.isna()
        assert (both_null | (a == r)).all(), col

    # horizon nesting + boundary tiling
    assert (g.docs_1h.fillna(0) <= g.docs_24h.fillna(0)).all()
    n_events = tk.count()
    # every event is feature-side for requests at/after it and
    # label-side strictly before it — never both for the same request:
    # per request the two windows are disjoint by construction; check
    # totals across the grid agree with brute force on a sample request
    row = g.reset_index().iloc[17]
    ev = tk.toPandas()
    ev = ev[ev.source == row.source]
    in_feat = ev[
        (ev.ts <= row.ts)
        & (ev.ts.astype("int64") // 10**9 > row.ts.timestamp() - 86400)
    ]
    in_lab = ev[
        (ev.ts > row.ts)
        & (ev.ts.astype("int64") // 10**9 <= row.ts.timestamp() + 86400)
    ]
    assert len(set(in_feat.doc_id) & set(in_lab.doc_id)) == 0
    assert row.docs_24h == len(in_feat) and row.docs_next == len(in_lab)
    assert n_events > 0


def test_trailing_quantiles_matches_numpy_linear(spark):
    """trailing_quantiles must equal numpy's 'linear' percentile over a
    brute-force reconstruction of each row's strictly-past 24h frame —
    frames, boundary exclusion (ties at t are future-side), and the
    quantile_cont interpolation all checked per row."""
    import numpy as np

    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import trailing_quantiles

    tk = synth_tokens(spark, 600, seed=5)
    got = trailing_quantiles(tk).toPandas().set_index("doc_id")
    ev = tk.select("doc_id", "writer_id", "ts", "n_tok").toPandas()
    ev["us"] = ev.ts.astype("int64") // 1000  # ns -> us
    lb = 24 * 3_600_000_000

    checked = 0
    for _, r in ev.iterrows():
        g = got.loc[r.doc_id]
        fr = ev[
            (ev.writer_id == r.writer_id)
            & (ev.us >= r.us - lb)
            & (ev.us <= r.us - 1)
        ].n_tok.values
        assert g.trail_n_24h == len(fr)
        if len(fr) == 0:
            assert np.isnan(g.p50_24h) and np.isnan(g.p90_24h)
            continue
        # numpy's _lerp is the symmetric two-sided form; ours (and
        # DuckDB's quantile_cont, the exact oracle) is a+(b-a)*t — they
        # can differ by 1 ulp, so the numpy differential allows that
        for q, col in ((50, g.p50_24h), (90, g.p90_24h)):
            ref = np.percentile(fr, q, method="linear")
            assert np.isclose(col, ref, rtol=1e-12, atol=0.0), (r.doc_id, q)
        checked += 1
    assert checked > 100


def _sorted_pdf(df):
    return df.toPandas().sort_values(["source", "ts"]).reset_index(drop=True)


def _assert_frames_equal(a, b):
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0
    for col in a.columns:
        x, y = a[col], b[col]
        both_null = x.isna() & y.isna()
        assert (both_null | (x == y)).all(), col


def test_training_set_grid_exactly_equals_generic(spark):
    """The default hourly grid (``training_set(tk)``, served by the
    one-scan rollup) must equal the generic as-of composition over the
    same explicit grid EXACTLY — counts, sums, means (same long/long
    division), max, and first_gap_s — including empty-window rows."""
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import hourly_requests, training_set

    tk = synth_tokens(spark, 900, seed=23)
    _assert_frames_equal(
        _sorted_pdf(training_set(tk, hourly_requests(tk))),
        _sorted_pdf(training_set(tk)),
    )


def test_training_set_dispatch_whole_hours_take_grid(spark, monkeypatch):
    """requests=None with whole-hour horizons goes to training_set_grid
    (with those horizons); the as-of joins are never built."""
    from mhealth_spark import tokens_engine
    from mhealth_spark.synth import synth_tokens

    calls = []
    grid = tokens_engine.training_set_grid

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return grid(*args, **kwargs)

    def no_join(*args, **kwargs):
        raise AssertionError("generic as-of path taken")

    monkeypatch.setattr(tokens_engine, "training_set_grid", spy)
    monkeypatch.setattr(tokens_engine, "point_in_time_join", no_join)
    tk = synth_tokens(spark, 300, seed=5)
    out = tokens_engine.training_set(
        tk, lookbacks_hours=(2.0, 12.0), horizon_hours=6.0
    )
    assert calls == [{"lookbacks_hours": (2, 12), "horizon_hours": 6}]
    assert "docs_2h" in out.columns and "docs_12h" in out.columns


def test_training_set_dispatch_fractional_hours_take_generic(spark, monkeypatch):
    """A 0.5 h lookback is not on the hourly rollup grain: the default
    grid must go through the generic as-of path and match it called
    with the explicit hourly grid."""
    from mhealth_spark import tokens_engine
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import hourly_requests, training_set

    tk = synth_tokens(spark, 600, seed=9)
    want = _sorted_pdf(
        training_set(tk, hourly_requests(tk), lookbacks_hours=(0.5, 24.0))
    )

    def no_grid(*args, **kwargs):
        raise AssertionError("grid path taken for a fractional lookback")

    monkeypatch.setattr(tokens_engine, "training_set_grid", no_grid)
    got = _sorted_pdf(training_set(tk, lookbacks_hours=(0.5, 24.0)))
    assert "docs_0.5h" in got.columns
    _assert_frames_equal(got, want)


def test_expanding_entity_stats_matches_pandas(spark):
    """expanding_entity_stats must match pandas' expanding() mean/std
    (shifted one row: strictly past) per writer, and z must be the
    row's value normalized by those prior stats."""
    import numpy as np

    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import expanding_entity_stats

    tk = synth_tokens(spark, 700, seed=3)
    got = expanding_entity_stats(tk).toPandas()
    ev = tk.select("doc_id", "writer_id", "ts", "n_tok").toPandas()
    ev = ev.sort_values(["writer_id", "ts", "doc_id"]).reset_index(drop=True)

    checked = 0
    for wid, grp in ev.groupby("writer_id"):
        x = grp.n_tok.astype(float)
        exp_mean = x.expanding().mean().shift(1)
        exp_std = x.expanding().std(ddof=1).shift(1)
        exp_n = pd.Series(range(len(x)), index=grp.index, dtype=float)
        g = got.set_index("doc_id").loc[grp.doc_id.values]
        assert (g.exp_n.values == exp_n.values).all()
        for mine, ref in ((g.exp_mean, exp_mean), (g.exp_std, exp_std)):
            a, b = mine.values.astype(float), ref.values
            ok = (np.isnan(a) & np.isnan(b)) | np.isclose(
                a, b, rtol=1e-9, atol=1e-12
            )
            assert ok.all(), wid
        z_ref = (x.values - exp_mean.values) / exp_std.values
        zr = np.where(exp_std.values > 0, z_ref, np.nan)
        a = g.exp_z.values.astype(float)
        ok = (np.isnan(a) & np.isnan(zr)) | np.isclose(
            a, zr, rtol=1e-9, atol=1e-12
        )
        assert ok.all(), wid
        checked += 1
    assert checked >= 3


def test_decayed_rate_features_matches_python_horner(spark):
    """decayed_rate_features must equal a Python Horner replay over the
    same hour-ceiling partial grid — EXACT float equality (same fold
    order, same multiply/add), including empty hours as +0.0 and the
    168h truncation."""
    from collections import defaultdict

    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import decayed_rate_features

    tk = synth_tokens(spark, 500, seed=9)
    got = decayed_rate_features(tk).toPandas()
    ev = tk.select("source", "ts", "n_tok").toPandas()

    d = 0.5 ** (1.0 / 24.0)
    HOUR = 3_600_000_000_000  # ns
    parts = defaultdict(lambda: [0, 0])
    for _, r in ev.iterrows():
        t = r.ts.value
        hr = t if t % HOUR == 0 else (t // HOUR + 1) * HOUR
        parts[(r.source, hr)][0] += 1
        parts[(r.source, hr)][1] += int(r.n_tok)

    by_src = defaultdict(dict)
    for (src, hr), (n, s) in parts.items():
        by_src[src][hr] = (n, s)

    assert len(got) > 0
    for _, row in got.iterrows():
        hmap = by_src[row.source]
        h = row.ts.value
        acc_s = acc_n = 0.0
        for k in range(h - 167 * HOUR, h + HOUR, HOUR):
            n, s = hmap.get(k, (0, 0))
            acc_s = acc_s * d + float(s)
            acc_n = acc_n * d + float(n)
        assert row.decayed_tokens == acc_s, (row.source, row.ts)
        assert row.decayed_docs == acc_n, (row.source, row.ts)
        assert row.docs_this_hour == hmap.get(h, (0, 0))[0]


def test_hour_partials_merge_is_exact(spark):
    """merge_hour_partials(hour_partials(a), hour_partials(b)) must equal
    hour_partials(a ∪ b) EXACTLY on every monoid field — the incremental
    -ingest contract — and assembling the training set from merged
    partials must equal the one-shot build."""
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import (
        hour_partials,
        merge_hour_partials,
        training_set_grid,
    )

    tk = synth_tokens(spark, 700, seed=31)
    a = tk.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    b = tk.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    assert a.count() > 0 and b.count() > 0

    merged = (
        merge_hour_partials(hour_partials(a), hour_partials(b))
        .toPandas()
        .sort_values(["source", "_hr"])
        .reset_index(drop=True)
    )
    full = (
        hour_partials(tk)
        .toPandas()
        .sort_values(["source", "_hr"])
        .reset_index(drop=True)
    )
    assert len(merged) == len(full) > 0
    for col in full.columns:
        assert (merged[col] == full[col]).all(), col

    inc = (
        training_set_grid(
            None, partials=merge_hour_partials(hour_partials(a), hour_partials(b))
        )
        .toPandas()
        .sort_values(["source", "ts"])
        .reset_index(drop=True)
    )
    one = (
        training_set_grid(tk)
        .toPandas()
        .sort_values(["source", "ts"])
        .reset_index(drop=True)
    )
    assert len(inc) == len(one) > 0
    for col in one.columns:
        x, y = inc[col], one[col]
        both_null = x.isna() & y.isna()
        assert (both_null | (x == y)).all(), col


def test_drift_psi_matches_python_and_flags_planted_shift(spark):
    """drift_psi must match a Python replay (same buckets, same pooled
    7-day baseline, same add-alpha smoothing, same bucket-order fold;
    1e-12 rel tolerance for the Java-vs-libm ln ulp) — and a planted
    distribution shift must dominate the stable days' PSI."""
    import datetime as dt
    import math

    import numpy as np

    rows = []
    base = dt.datetime(2024, 1, 1)
    k = 0
    for d in range(12):
        # days 0-9: lengths around 16-64; days 10-11: shifted to 512-2048
        lens = (
            [17, 23, 33, 47, 60, 21, 35] if d < 10 else [600, 900, 1500, 2000, 700]
        )
        for i, L in enumerate(lens):
            rows.append(
                (f"d{k}", "s0", base + dt.timedelta(days=d, minutes=i), L)
            )
            k += 1
    df = spark.createDataFrame(
        rows, "doc_id string, source string, ts timestamp_ntz, n_tok int"
    )
    from mhealth_spark.tokens_engine import drift_psi

    got = drift_psi(df).toPandas().sort_values("day").reset_index(drop=True)

    # python replay
    def b_of(n):
        return min(int(math.floor(math.log2(max(n, 1)))), 13)

    hist = {}
    for _, src, ts, L in rows:
        d = ts.date()
        hist.setdefault(d, [0] * 14)
        hist[d][b_of(L)] += 1
    days = sorted(hist)
    d0, d1 = days[0], days[-1]
    all_days = [d0 + dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
    exp = {}
    for i, d in enumerate(all_days):
        ct = hist.get(d, [0] * 14)
        cb = [0] * 14
        for j in range(max(0, i - 7), i):
            pj = hist.get(all_days[j], [0] * 14)
            cb = [a + b for a, b in zip(cb, pj)]
        nt, nb = sum(ct), sum(cb)
        if nt == 0 or nb == 0:
            continue
        psi = 0.0
        for b in range(14):
            p = (ct[b] + 0.5) / (nt + 7.0)
            q = (cb[b] + 0.5) / (nb + 7.0)
            psi += (p - q) * math.log(p / q)
        exp[d] = (nt, nb, psi)

    assert len(got) == len(exp)
    for _, r in got.iterrows():
        d = r.day.date()
        nt, nb, psi = exp[d]
        assert (r.n_today, r.n_base) == (nt, nb)
        assert np.isclose(r.psi, psi, rtol=1e-12, atol=0.0), d

    g = got.set_index(got.day.dt.day)
    stable = got[got.day.dt.date < dt.date(2024, 1, 11)].psi.max()
    shifted = got[got.day.dt.date >= dt.date(2024, 1, 11)].psi.min()
    # early stable days have 7-sample baselines, so smoothing noise
    # alone yields PSI ~0.6; the planted shift is still a clear multiple
    assert shifted > 3 * stable > 0


def test_purged_folds_invariants_and_python_replay(spark):
    """purged_folds: a row never trains for its own validation fold,
    folds are contiguous in time, and fold + mask match an exact-integer
    Python replay (same boundaries, same embargo)."""
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import purged_folds

    tk = synth_tokens(spark, 600, seed=17)
    k, emb_h = 5, 24.0
    got = purged_folds(tk, k=k, embargo_hours=emb_h).toPandas()
    assert len(got) == 600
    assert set(got.fold) == set(range(k))

    ev = tk.select("doc_id", "ts").toPandas()
    ev["us"] = ev.ts.astype("int64") // 1000
    t0, t1 = int(ev.us.min()), int(ev.us.max())
    span = t1 - t0 + 1
    emb = int(emb_h * 3_600_000_000)
    bounds = [t0 + (j * span) // k for j in range(k + 1)]

    g = got.set_index("doc_id")
    for _, r in ev.iterrows():
        us = int(r.us)
        fold = sum(1 for j in range(1, k) if us >= bounds[j])
        mask = "".join(
            "1" if (us < bounds[j] - emb or us >= bounds[j + 1] + emb) else "0"
            for j in range(k)
        )
        row = g.loc[r.doc_id]
        assert row.fold == fold, r.doc_id
        assert row.train_mask == mask, r.doc_id
        assert mask[fold] == "0"  # own fold never trainable

    # folds partition time contiguously: max ts of fold j < min of fold j+1
    byf = got.groupby("fold").ts.agg(["min", "max"]).sort_index()
    for j in range(len(byf) - 1):
        assert byf["max"].iloc[j] < byf["min"].iloc[j + 1]


def test_contrastive_positives_and_streaks_invariants(spark):
    """positives: same-writer adjacent-in-time pairs within the gap
    bound, each anchor at most once, positive strictly later. streaks:
    python gaps-and-islands replay matches exactly."""
    import datetime as ddt

    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import contrastive_positives, writer_streaks

    tk = synth_tokens(spark, 500, seed=29)
    ev = tk.select("doc_id", "writer_id", "ts").toPandas()

    pos = contrastive_positives(tk, max_gap_hours=6.0).toPandas()
    assert len(pos) > 0
    assert pos.anchor_id.is_unique
    m = ev.set_index("doc_id")
    for _, r in pos.iterrows():
        a, p = m.loc[r.anchor_id], m.loc[r.positive_id]
        assert a.writer_id == p.writer_id == r.writer_id
        gap = (p.ts - a.ts).value // 1000
        assert 0 <= gap <= 6 * 3_600_000_000 and gap == r.gap_us
        # p is the NEXT doc: nothing by this writer strictly between
        between = ev[
            (ev.writer_id == r.writer_id)
            & ((ev.ts > a.ts) | ((ev.ts == a.ts) & (ev.doc_id > r.anchor_id)))
            & ((ev.ts < p.ts) | ((ev.ts == p.ts) & (ev.doc_id < r.positive_id)))
        ]
        assert len(between) == 0

    got = writer_streaks(tk).toPandas()
    ev["day"] = ev.ts.dt.floor("D")
    for wid, grp in ev.groupby("writer_id"):
        days = sorted(set(grp.day))
        g = got[got.writer_id == wid].sort_values("day").reset_index(drop=True)
        assert list(g.day) == days
        streak = 0
        prev = None
        for i, d in enumerate(days):
            gap = None if prev is None else (d - prev).days
            streak = streak + 1 if gap == 1 else 1
            row = g.iloc[i]
            assert row.streak_len == streak, (wid, d)
            assert row.active_day_rank == i + 1
            assert row.days_since_first == (d - days[0]).days
            assert (pd.isna(row.days_since_prev) and gap is None) or (
                row.days_since_prev == gap
            )
            prev = d


def test_trailing_correlation_matches_numpy(spark):
    """trailing_correlation must match numpy's corrcoef over the
    brute-force reconstruction of each row's trailing-24h active-hour
    (docs, tokens) points (1e-9 rel: different but equivalent closed
    forms), with NULL exactly on m<2 or zero variance."""
    import numpy as np

    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import hour_partials, trailing_correlation

    tk = synth_tokens(spark, 700, seed=41)
    got = trailing_correlation(tk).toPandas()
    parts = hour_partials(tk).toPandas()
    parts["hn"] = parts._hr.astype("int64") // (3600 * 10**9)

    checked_val = checked_null = 0
    for _, r in got.iterrows():
        hn = r.ts.value // (3600 * 10**9)
        fr = parts[
            (parts.source == r.source)
            & (parts.hn >= hn - 23)
            & (parts.hn <= hn)
        ]
        x = fr._n.to_numpy(float)
        y = fr._s.to_numpy(float)
        assert r.active_hours == len(x)
        degenerate = len(x) < 2 or x.std() == 0 or y.std() == 0
        if degenerate:
            assert pd.isna(r.corr_docs_tokens), (r.source, r.ts)
            checked_null += 1
        else:
            ref = np.corrcoef(x, y)[0, 1]
            assert np.isclose(r.corr_docs_tokens, ref, rtol=1e-9), (
                r.source,
                r.ts,
            )
            checked_val += 1
    assert checked_val > 200 and checked_null > 0


def test_multilabel_heads_consistent_with_single_horizon(spark):
    """The 1h label head from extra_label_horizons must equal an
    independent label_horizon_features run at horizon=1h, and nest
    within the 24h head."""
    from mhealth_spark.synth import synth_tokens
    from mhealth_spark.tokens_engine import (
        hourly_requests,
        label_horizon_features,
        training_set_grid,
    )

    tk = synth_tokens(spark, 700, seed=37)
    got = (
        training_set_grid(tk, extra_label_horizons=(1,))
        .toPandas()
        .set_index(["source", "ts"])
    )
    ref = (
        label_horizon_features(tk, hourly_requests(tk), horizon_hours=1.0)
        .toPandas()
        .set_index(["source", "ts"])
    )
    assert set(got.index) == set(ref.index)
    g = got.loc[ref.index]
    assert (g.docs_next_1h == ref.docs_next).all()
    both_null = g.tokens_next_1h.isna() & ref.tokens_next.isna()
    assert (both_null | (g.tokens_next_1h == ref.tokens_next)).all()
    assert (g.docs_next_1h <= g.docs_next).all()
