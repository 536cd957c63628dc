"""Golden ports of the reference's simple_features / simple_features_daily
tests (SURVEY §5) against the Spark-native domain operators."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mhealth_spark.activity import aggregate_active_duration
from mhealth_spark.audio import aggregate_audio_exposure
from mhealth_spark.schema import HK_EVENT_SCHEMA
from mhealth_spark.sleep import aggregate_sleep_categories, daily_sleep_features
from mhealth_spark.synth import synth_healthkit
from mhealth_spark.vitals import aggregate_vital
from mhealth_spark.watch import watch_on_hours_daily, watch_on_stats
from tests import fixtures


def _to_spark(spark, pdf):
    cols = [f.name for f in HK_EVENT_SCHEMA.fields]
    return spark.createDataFrame(pdf[cols], schema=HK_EVENT_SCHEMA)


# --- reference test_dailySleepFeatures_basic ------------------------------
def test_daily_sleep_features_basic(spark):
    df = _to_spark(spark, fixtures.sleep_period_2_days())
    out = daily_sleep_features(df).toPandas().sort_values("date")
    assert len(out) == 2
    assert (out["sleep_bedrestDuration_day"] == 6).all()
    assert (out["sleep_sleepDuration_day"] == 4).all()
    assert np.allclose(out["sleep_sleepEfficiency_day"], 4 / 6)
    assert (out["sleep_bedrestOnsetHours_day"] == 22).all()
    assert (out["sleep_bedrestOffsetHours_day"] == 30).all()
    assert (out["sleep_sleepOnsetHours_day"] == 26).all()
    assert (out["sleep_sleepOffsetHours_day"] == 30).all()
    assert (out["sleep_wakeAfterSleepOnset_day"] == 0).all()


# --- reference test_dailySleepFeatures_multiple_sleep ---------------------
def test_daily_sleep_features_fragmented(spark):
    df = _to_spark(spark, fixtures.sleep_period_fragmented())
    out = daily_sleep_features(df).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["sleep_bedrestDuration_day"] == 7
    assert r["sleep_sleepDuration_day"] == 5
    assert np.isclose(r["sleep_sleepEfficiency_day"], 5 / 7)
    assert r["sleep_bedrestOnsetHours_day"] == 22
    assert r["sleep_bedrestOffsetHours_day"] == 32
    assert r["sleep_sleepOnsetHours_day"] == 26
    assert r["sleep_sleepOffsetHours_day"] == 32
    assert r["sleep_wakeAfterSleepOnset_day"] == 1


# --- reference test_dailySleepCategories ----------------------------------
def test_daily_sleep_categories(spark):
    from mhealth_spark.features import _daily_sleep_categories

    df = _to_spark(spark, fixtures.sleep_period_2_days())
    out = _daily_sleep_categories(df).toPandas().sort_values("date")
    assert len(out) == 2
    assert out["date"].min() == pd.to_datetime("2023-01-02").date()
    assert (out["sleep_Asleep_count"] == 1).all()
    assert (out["sleep_Asleep_mean"] == 4).all()
    assert (out["sleep_InBed_mean"] == 1).all()


# --- reference test_hr_context --------------------------------------------
@pytest.mark.parametrize(
    "context,mean,count",
    [("non-sleep rest", 75.0, 1.0), ("active", 100.0, 1.0), ("sleep", 40.0, 1.0)],
)
def test_hr_context(spark, context, mean, count):
    df = _to_spark(spark, fixtures.hr_context())
    out = aggregate_vital(
        df,
        "HeartRate",
        standard_aggregations=["mean", "count"],
        linear_time_aggregations=False,
        context=context,
    ).toPandas()
    ctx = "nonsleep-rest_" if context == "non-sleep rest" else f"{context}_"
    assert len(out) == 1
    assert out[f"HeartRate_{ctx}mean"].iloc[0] == mean
    assert out[f"HeartRate_{ctx}count"].iloc[0] == count


def test_aggregate_vital_daily_dedups_before_hourly_medians(spark):
    # Every 4th HeartRate point gets an exact duplicate and a second
    # point 10 bpm higher in the same hour: with the duplicate dropped the
    # hour's median is the midpoint, without it the original value.
    ev = synth_healthkit(n_users=3, days=4, seed=9)
    hr = ev[ev["type"] == "HeartRate"]
    picked = hr.iloc[::4]
    extra = picked.assign(
        local_start=picked["local_start"].dt.floor("h"),
        local_end=picked["local_start"].dt.floor("h"),
        value_num=picked["value_num"] + 10.0,
    )
    extra = extra.assign(value=extra["value_num"].astype(str))
    ev = pd.concat([ev, picked, extra], ignore_index=True)

    v = ev[ev["type"] == "HeartRate"].assign(_day=lambda d: d["local_start"].dt.floor("D"))
    v = v.drop_duplicates(["user_id", "_day", "local_start", "value_num"])
    v = v.assign(_hb=(v["local_start"] - pd.Timestamp(0)) // pd.Timedelta(hours=1))
    bins = v.groupby(["user_id", "_day", "_hb"])["value_num"].median().reset_index()
    rows = []
    for (user, day), g in bins.groupby(["user_id", "_day"]):
        x = (g["_hb"] - g["_hb"].min()).to_numpy(float)
        y = g["value_num"].to_numpy(float)
        slope, intercept = np.polyfit(x, y, 1) if len(g) >= 3 else (np.nan, np.nan)
        rows.append(dict(user_id=user, _day=day, mean=y.mean(), median=np.median(y),
                         std=g["value_num"].std(), slope=slope, intercept=intercept))
    ref = pd.DataFrame(rows)

    hk = _to_spark(spark, ev).withColumn("_day", F.date_trunc("DAY", "local_start"))
    got = aggregate_vital(
        hk, "HeartRate", group_cols=["user_id", "_day"],
        standard_aggregations=["mean", "median", "std"], column_suffix="_day",
    ).toPandas()
    got = got.rename(columns={
        f"HeartRate_{c}_day": c for c in ["mean", "median", "std", "slope", "intercept"]
    })
    m = ref.merge(got, on=["user_id", "_day"], how="outer", suffixes=("", "_got"),
                  indicator=True)
    assert (m["_merge"] == "both").all() and len(m) == 12
    for c in ["mean", "median", "std", "slope", "intercept"]:
        np.testing.assert_allclose(m[f"{c}_got"], m[c], rtol=1e-9, atol=1e-9, err_msg=c)


# --- reference test_audio_exposure (+ daily variant) ----------------------
def test_audio_exposure(spark):
    df = _to_spark(spark, fixtures.audio_exposure())
    out = aggregate_audio_exposure(df).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["audioExposure_mean"] == 65
    assert r["audioExposure_count"] == 101
    assert r["audioExposure_entries"] == 2
    assert round(r["audioExposure_hours"] * 60) == 31


def test_audio_exposure_daily(spark):
    df = _to_spark(spark, fixtures.audio_exposure()).withColumn(
        "_day", F.date_trunc("DAY", "local_start")
    )
    out = aggregate_audio_exposure(df, group_cols=["user_id", "_day"]).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["audioExposure_mean"] == 65
    assert r["audioExposure_count"] == 101
    assert r["audioExposure_entries"] == 2
    assert round(r["audioExposure_hours"] * 60) == 31


# --- reference test_aggregateActiveDaily ----------------------------------
def test_aggregate_active_daily(spark):
    df = _to_spark(spark, fixtures.activity_overlap()).withColumn(
        "_day", F.date_trunc("DAY", "local_start")
    )
    out = aggregate_active_duration(
        df, "ActiveEnergyBurned", group_cols=["user_id", "_day"], resample_hours=1.0
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert np.isclose(r["ActiveEnergyBurned_sum"], 150 / 4184)
    assert r["ActiveEnergyBurned_count"] == 1
    assert r["ActiveEnergyBurned_duration"] == 1.5


# --- reference test_processWatchOnPercent ---------------------------------
def test_watch_on_percent(spark):
    rows = [
        dict(
            user_id="test",
            local_start=f"2022-01-01 0{h}:00:01",
            local_end=f"2022-01-01 0{h}:00:01",
            type="HeartRate",
            value=str(v),
            device_name="Apple Watch",
        )
        for h, v in zip(range(1, 6), [70, 80, 90, 100, 110])
    ]
    pdf = fixtures._frame(rows)
    df = _to_spark(spark, pdf).withColumn(
        "_o", F.lit("2022-01-01 00:00:00").cast("timestamp_ntz")
    ).withColumn("_e", F.lit("2022-01-01 06:00:00").cast("timestamp_ntz"))
    out = watch_on_stats(df, "_o", "_e").toPandas()
    np.testing.assert_almost_equal(
        out["watch_on_percent"].iloc[0], 100 * (5 / 7)
    )
    assert out["watch_on_hours"].iloc[0] == 5


# --- reference test_aggregateVitalsDaily (shape) --------------------------
def test_vitals_daily_shape(spark):
    from mhealth_spark.features import _daily_vitals

    df = _to_spark(spark, fixtures.heart_rate_2_days())
    out = _daily_vitals(df, "HeartRate", with_models=True).toPandas()
    assert len(out) == 2
    assert "HeartRate_mean_day" in out.columns
    assert "HeartRate_circadian_mesor_day" in out.columns


# --- sleep categories batch (A2) ------------------------------------------
def test_sleep_categories(spark):
    df = _to_spark(spark, fixtures.sleep_period_2_days())
    out = aggregate_sleep_categories(df).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["sleep_Asleep_count"] == 2
    assert r["sleep_Asleep_sum"] == 8
    assert r["sleep_Asleep_mean"] == 4
    assert r["sleep_InBed_count"] == 2
    assert r["sleep_InBed_sum"] == 2


def test_watch_on_hours_daily(spark):
    df = _to_spark(spark, fixtures.heart_rate_2_days())
    out = watch_on_hours_daily(df).toPandas().sort_values("date")
    assert len(out) == 2
    assert list(out["watchOnHours_sum_day"]) == [1.0, 1.0]


# --- training-data pipeline verification tiers ------------------------------
SF001 = "/root/testdata/sf0.01"


def test_ann_multiprobe_recall_vs_bruteforce(spark):
    """Measured recall@5 of the multi-table LSH path vs the exact
    brute-force tier on the real embeddings table: >= 0.9 (the data's true
    neighbors sit at cosine ~0.4 — the hardest regime for LSH)."""
    from mhealth_spark.pipelines.similarity import (
        ann_lsh_multiprobe,
        ann_topk_bruteforce,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = ann_topk_bruteforce(emb, queries, k=5).toPandas()
    approx = ann_lsh_multiprobe(
        emb, queries, k=5, band_bits=4, n_tables=16, probe_hamming=0
    ).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(e[q] & a.get(q, set())) / len(e[q]) for q in e.index
    ]
    assert np.mean(recalls) >= 0.9, f"recall={np.mean(recalls):.3f}"


def test_embedding_neardup_scale_banding_planted_pairs(spark):
    """The scale-regime banding (8x8, threshold 0.85) on PLANTED near-dup
    pairs over random unit vectors: no false positives (exact refine),
    recall >= 0.9 on pairs at cosine >= 0.92, and the max_bucket cap
    drops degenerate buckets without changing surviving pairs here
    (buckets are uniform on random data)."""
    import math

    from mhealth_spark.pipelines.dedup import embedding_neardup_pairs

    rs = np.random.RandomState(99)
    n, d = 1500, 64
    v = rs.randn(n, d)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    planted = []
    for i in range(9, n, 10):
        c = 0.92 + 0.06 * ((i * 37) % 100) / 100.0
        noise = rs.randn(d)
        noise -= noise.dot(v[i - 1]) * v[i - 1]
        noise /= np.linalg.norm(noise)
        v[i] = c * v[i - 1] + math.sqrt(1 - c * c) * noise
        planted.append((i - 1, i))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = embedding_neardup_pairs(
        emb, threshold=0.85, band_bits=8, n_bands=8
    ).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    # float32 storage: recompute truth on the stored precision
    vf = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    vf /= np.linalg.norm(vf, axis=1, keepdims=True)
    true_pairs = {
        (a, b) for a, b in planted if vf[a].dot(vf[b]) >= 0.85
    }
    for a, b in got_pairs:
        assert vf[a].dot(vf[b]) >= 0.85 - 1e-9
    recall = len(got_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"recall={recall:.3f} over {len(true_pairs)} planted"

    capped = embedding_neardup_pairs(
        emb, threshold=0.85, band_bits=8, n_bands=8, max_bucket=50
    ).toPandas()
    assert set(zip(capped.id_a, capped.id_b)) == got_pairs


def test_exact_dedup_xxh_tier_matches_md5_tier(spark):
    """The xxhash64 scale tier must induce the SAME dedup structure as the
    md5 oracle tier: identical (group_size, keep_id) per doc."""
    from mhealth_spark.pipelines.dedup import (
        exact_dedup_groups,
        exact_dedup_groups_xxh,
    )
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    a = exact_dedup_groups(docs).toPandas().sort_values("doc_id")
    b = exact_dedup_groups_xxh(docs).toPandas().sort_values("doc_id")
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True), check_dtype=False
    )


def test_ann_multiprobe_probes_improve_recall(spark):
    """The 1-bit probe expansion must actually matter: with a SHRUNK table
    count (4 instead of 16) probe_hamming=1 strictly widens the candidate
    set and recovers recall vs probe_hamming=0 on the same tables."""
    from mhealth_spark.pipelines.similarity import (
        ann_lsh_multiprobe,
        ann_topk_bruteforce,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    queries = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_topk_bruteforce(emb, queries, k=5).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)

    def recall(probe: int) -> tuple[float, int]:
        approx = ann_lsh_multiprobe(
            emb, queries, k=5, band_bits=4, n_tables=4, probe_hamming=probe
        ).toPandas()
        a = approx.groupby("query_id")["neighbor_id"].apply(set)
        r = float(
            np.mean(
                [len(e[q] & a.get(q, set())) / len(e[q]) for q in e.index]
            )
        )
        return r, len(approx)

    r0, n0 = recall(0)
    r1, n1 = recall(1)
    assert r1 >= r0, f"probe recall regressed: {r1:.3f} < {r0:.3f}"
    assert r1 > 0.0 and n1 >= n0
    # at 4 tables the probes must add real candidates, not be a no-op
    assert r1 > r0 or n1 > n0, (r0, r1, n0, n1)


def test_embedding_neardup_lsh_recall_vs_bruteforce(spark):
    """The banded near-dup path vs the exact all-pairs tier: measured pair
    recall >= 0.9 at threshold 0.4 with the 4x16 default bands."""
    from mhealth_spark.pipelines.dedup import (
        embedding_neardup_bruteforce,
        embedding_neardup_pairs,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    exact = embedding_neardup_bruteforce(emb, threshold=0.4).toPandas()
    lsh = embedding_neardup_pairs(emb, threshold=0.4).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    lsh_pairs = set(zip(lsh.id_a, lsh.id_b))
    assert lsh_pairs <= exact_pairs  # exact refine: no false positives
    assert len(lsh_pairs & exact_pairs) / len(exact_pairs) >= 0.9


def test_simhash64_bruteforce_values(spark):
    """Value check for the xxhash64 simhash (no DuckDB twin): recompute the
    signature in pandas from Spark-computed per-word hashes and compare
    exactly — validates the explode/groupBy bit-aggregation logic."""
    from mhealth_spark.pipelines.dedup import simhash64
    from mhealth_spark.pipelines.text import words_col
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).limit(120).cache()
    got = simhash64(docs).toPandas().set_index("doc_id")["simhash64"]
    wh = (
        docs.select(F.col("doc_id"), F.explode(words_col("text")).alias("w"))
        .select("doc_id", F.xxhash64("w").alias("h"))
        .toPandas()
    )
    all_ids = docs.select("doc_id").toPandas()["doc_id"]
    for doc_id in all_ids:
        hs = wh[wh.doc_id == doc_id]["h"].to_numpy()
        sig = 0
        for j in range(64):  # j=0 is the MSB (hash bit 63)
            contrib = sum(1 if (int(h) >> (63 - j)) & 1 else -1 for h in hs)
            sig = (sig << 1) | (1 if contrib > 0 else 0)
        # numpy/python int is unbounded; Spark long wraps at 2^63
        if sig >= 2 ** 63:
            sig -= 2 ** 64
        assert got[doc_id] == sig, doc_id


def test_simhash_hamming_candidates_recall_guarantee(spark):
    """Pigeonhole property: with 4 blocks, EVERY pair within Hamming<=3 of
    each other is found (compare against a brute-force pair scan)."""
    from mhealth_spark.pipelines.dedup import simhash16, simhash_neardup_candidates
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).limit(150)
    sigs = simhash16(docs).cache()
    got = simhash_neardup_candidates(
        sigs, sig_col="simhash16", sig_bits=16, n_blocks=4, max_hamming=3
    ).toPandas()
    pdf = sigs.toPandas()
    want = set()
    vals = list(zip(pdf.doc_id, pdf.simhash16))
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, b = sorted([vals[i], vals[j]], key=lambda t: t[0])
            if bin(int(a[1]) ^ int(b[1])).count("1") <= 3:
                want.add((a[0], b[0], bin(int(a[1]) ^ int(b[1])).count("1")))
    assert set(zip(got.id_a, got.id_b, got.hamming)) == want


def test_simhash64_hamming_scale_tier_matches_bruteforce(spark):
    """The 64-bit xxh scale tier (library default; the registered driver
    query is the md5 twin dedup_simhash64_hamming_md5) vs an
    exhaustive pandas pair scan: exact pair-set equality (pigeonhole
    guarantees full recall at hamming<=3 with 4 blocks)."""
    from mhealth_spark.pipelines.dedup import (
        simhash64,
        simhash_neardup_candidates,
    )
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    sigs = simhash64(docs).cache()
    got = simhash_neardup_candidates(
        sigs, sig_col="simhash64", sig_bits=64, n_blocks=4, max_hamming=3
    ).toPandas()
    pdf = sigs.toPandas()
    vals = list(zip(pdf.doc_id, pdf.simhash64))
    want = set()
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, b = sorted([vals[i], vals[j]], key=lambda t: t[0])
            h = bin((int(a[1]) ^ int(b[1])) & (2**64 - 1)).count("1")
            if h <= 3:
                want.add((a[0], b[0], h))
    assert set(zip(got.id_a, got.id_b, got.hamming)) == want


def test_multimodal_decode_values_exact(spark):
    """Value check for the fake-decode path: recompute the feature vector
    independently in numpy from the same utf-8 bytes and compare exactly
    (validates batch shapes, ordering, and the byte->feature contract)."""
    from mhealth_spark.pipelines.multimodal import decode_features, wrap_as_media
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).limit(100)
    media = wrap_as_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
    got = (
        decode_features(media, strict=False, dim=8)
        .toPandas()
        .set_index("media_id")
    )
    texts = docs.toPandas().set_index("doc_id")["text"]
    for doc_id, text in texts.items():
        payload = text.encode("utf-8")
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
        exp = np.array(
            [c.mean() / 255.0 if len(c) else 0.0 for c in np.array_split(arr, 8)],
            dtype=np.float32,
        )
        np.testing.assert_array_equal(
            np.array(got.loc[str(doc_id), "feature"], dtype=np.float32), exp
        )
        assert got.loc[str(doc_id), "n_bytes"] == len(payload)


def test_rolling_fingerprint64_properties(spark):
    """Value-level characterization for the xxhash64 rolling fingerprint
    (no DuckDB twin): per-step chain parity against Spark's own xxhash64,
    plus the dedup-key contract — equal iff normalized word sequences are
    equal, order-sensitive, whitespace-invariant, partitioning-invariant."""
    from mhealth_spark.pipelines.text import rolling_fingerprint_xxh

    rows = [
        ("a", "the quick brown fox"),
        ("b", "the  quick   brown fox"),     # whitespace → same as a
        ("c", "quick the brown fox"),        # order → different
        ("d", "the quick brown"),            # prefix → different
        ("e", "the quick brown fox"),        # duplicate of a
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = rolling_fingerprint_xxh(df).toPandas().set_index("doc_id")["fingerprint64"]
    assert fp["a"] == fp["b"] == fp["e"]
    assert len({fp["a"], fp["c"], fp["d"]}) == 3

    # chain parity: fold recomputed step-by-step with Spark's xxhash64
    seed = 1469598103934665603
    acc = spark.createDataFrame([(seed,)], ["acc"])
    for w in ["the", "quick", "brown", "fox"]:
        acc = acc.select(F.xxhash64(F.col("acc"), F.lit(w)).alias("acc"))
    assert int(acc.collect()[0][0]) == int(fp["a"])

    # partitioning must not change values
    fp8 = (
        rolling_fingerprint_xxh(df.repartition(8))
        .toPandas().set_index("doc_id")["fingerprint64"]
    )
    assert (fp8.sort_index() == fp.sort_index()).all()


def test_neardup_components_chain_and_survivors(spark):
    """Transitive closure property: a 5-hop chain collapses to ONE cluster
    even though only adjacent pairs were emitted; disjoint pair → its own
    cluster; survivors = cluster minima + untouched singletons."""
    from mhealth_spark.pipelines.dedup import dedup_survivors, neardup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        ["id_a", "id_b"],
    )
    comp = {r.doc_id: r.cluster_id for r in neardup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}

    docs = spark.range(1, 15).withColumnRenamed("id", "doc_id")
    kept = sorted(
        r.doc_id
        for r in dedup_survivors(docs, neardup_components(pairs)).collect()
    )
    # chain keeps 1, pair keeps 10, singletons 7,8,9,12,13,14 untouched
    assert kept == [1, 7, 8, 9, 10, 12, 13, 14]


def test_decontaminate_drops_exactly_the_flagged_docs(spark):
    """decontaminate = corpus minus contamination_hits ids; the benchmark
    side must broadcast (a shuffle join on shingles would move the whole
    corpus at scale)."""
    from mhealth_spark.pipelines.corpus import contamination_hits, decontaminate
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    corpus_side = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0)

    hits = contamination_hits(corpus_side, bench)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan

    flagged = {r.doc_id for r in hits.collect()}
    kept = {r.doc_id for r in decontaminate(corpus_side, bench).select("doc_id").collect()}
    assert flagged and flagged.isdisjoint(kept)
    assert len(kept) == corpus_side.count() - len(flagged)


def test_split_corpus_proportions_and_determinism(spark):
    """Hash split: labels partition the corpus, proportions land near the
    weights, and the assignment is a pure function of doc_id (stable
    under repartitioning — the resume/versioning property)."""
    from mhealth_spark.pipelines.corpus import split_corpus
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).select("doc_id")
    out = split_corpus(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert abs(counts["train"] / n - 0.8) < 0.1
    again = split_corpus(docs.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1})
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in again.collect()}
    assert a == b


def test_temperature_rates_properties(spark):
    """alpha=1 reproduces natural proportions (all rates equal); alpha<1
    orders rates inversely to source size (small sources upsampled)."""
    from mhealth_spark.pipelines.corpus import temperature_rates
    from mhealth_spark.synth import synth_tokens

    tk = synth_tokens(spark, 2000, seed=7)
    flat = temperature_rates(tk, alpha=1.0)
    assert max(flat.values()) - min(flat.values()) <= 2e-6
    skew = temperature_rates(tk, alpha=0.5)
    totals = {r[0]: r[1] for r in tk.groupBy("source").agg(F.sum("n_tok")).collect()}
    order_by_size = sorted(totals, key=totals.get)
    rates_in_size_order = [skew[s] for s in order_by_size]
    assert rates_in_size_order == sorted(rates_in_size_order, reverse=True)


def test_mix_by_budget_prefix_property(spark):
    """Kept docs per source form a prefix of the hash order, every kept
    row starts below budget, and the first excluded doc would not."""
    from mhealth_spark.pipelines.corpus import mix_by_budget
    from mhealth_spark.synth import synth_tokens

    tk = synth_tokens(spark, 1500, seed=9).select("doc_id", "source", "n_tok")
    budget = 20000
    out = mix_by_budget(tk, budgets={}, default_budget=budget)
    pdf = out.toPandas()
    assert (pdf["mix_tokens_before"] < budget).all()
    import hashlib

    def hx(d):
        return hashlib.md5((d + "#mix0").encode()).hexdigest()[:8]

    all_pdf = tk.toPandas()
    for src, grp in all_pdf.groupby("source"):
        grp = grp.assign(h=[hx(d) for d in grp.doc_id])
        grp = grp.sort_values(["h", "doc_id"])
        cum = 0
        expect = []
        for _, row in grp.iterrows():
            if cum < budget:
                expect.append(row.doc_id)
            cum += row.n_tok
        got = sorted(pdf[pdf.source == src].doc_id)
        assert got == sorted(expect), src


def test_shard_assign_uniform_and_contiguous(spark):
    """16 shards: sizes within 3x of each other (md5 uniformity at n=500),
    positions are 0..k-1 dense per shard, assignment repartition-stable."""
    from mhealth_spark.pipelines.corpus import shard_assign
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).select("doc_id")
    out = shard_assign(docs, n_shards=16).cache()
    pdf = out.toPandas()
    sizes = pdf.groupby("shard_id").size()
    assert len(sizes) == 16 and sizes.max() <= 3 * max(sizes.min(), 1)
    for sid, grp in pdf.groupby("shard_id"):
        assert sorted(grp.shard_pos) == list(range(len(grp)))
    out.unpersist()


def test_quality_filter_reasons_consistent(spark):
    """keep is exactly 'no failed rules'; every reason string is drawn
    from the rule vocabulary; relaxing every threshold keeps everything."""
    from mhealth_spark.pipelines.text import quality_filter
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    out = quality_filter(docs).toPandas()
    assert (out.keep == (out.reasons == "")).all()
    vocab = {
        "words_lt_min", "words_gt_max", "mean_word_len_out",
        "punct_ratio_high", "alpha_ratio_low", "stopword_ratio_low",
        "dup_2gram_high", "dup_5gram_high",
    }
    for rs in out[~out.keep].reasons:
        assert set(rs.split(",")) <= vocab, rs
    lax = quality_filter(
        docs, min_words=0, max_words=10**9, min_mean_word_len=0.0,
        max_mean_word_len=1e9, max_punct_ratio=1.0, min_alpha_ratio=0.0,
        min_stopword_ratio=0.0, max_dup_frac_2=1.0, max_dup_frac_5=1.0,
    ).toPandas()
    assert lax.keep.all()


def test_ann_ivf_recall_vs_bruteforce(spark):
    """One-shot IVF (16 lists, probe 4): candidates touch ~1/4 of the
    corpus per query yet measured recall@5 stays useful; with probe 16
    (scan all lists) IVF must equal brute force exactly."""
    from mhealth_spark.pipelines.similarity import (
        ann_ivf_oneshot,
        ann_topk_bruteforce,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_topk_bruteforce(emb, queries, k=5).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)

    approx = ann_ivf_oneshot(
        emb, queries, k=5, n_centroids=16, n_probe=4
    ).toPandas()
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e.index]
    assert np.mean(recalls) >= 0.5, f"probe-4 recall={np.mean(recalls):.3f}"

    full = ann_ivf_oneshot(
        emb, queries, k=5, n_centroids=16, n_probe=16
    ).toPandas()
    f = full.groupby("query_id")["neighbor_id"].apply(set)
    assert all(e[q] == f[q] for q in e.index), "probe-all must equal exact"


def test_redact_pii_crafted_values(spark):
    """Value check on crafted strings: each PII family is replaced with
    its typed token, counts add up, clean text passes through unchanged,
    and email digit runs never re-match as phones."""
    from mhealth_spark.pipelines.text import redact_pii

    rows = [
        ("a", "contact bob99@example.com or +1 555-123-4567 now"),
        ("b", "server at 192.168.0.1 rebooted"),
        ("c", "clean text with no identifiers"),
        ("d", "x12345678@mail.co end"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out["a"].text_redacted == "contact <EMAIL> or <PHONE> now"
    assert out["a"].n_pii_redacted == 2
    assert out["b"].text_redacted == "server at <IP> rebooted"
    assert out["b"].n_pii_redacted == 1
    assert out["c"].text_redacted == rows[2][1]
    assert out["c"].n_pii_redacted == 0
    assert out["d"].text_redacted == "<EMAIL> end"
    assert out["d"].n_pii_redacted == 1


def test_batch_by_length_padding_bound(spark):
    """Within any emitted batch, max(n_tok) - min(n_tok) < length_bucket,
    batches fill densely (positions 0..k-1), and only the last batch of a
    bucket may be partial."""
    from mhealth_spark.pipelines.corpus import batch_by_length
    from mhealth_spark.synth import synth_tokens

    tk = synth_tokens(spark, 1200, seed=13).select("doc_id", "n_tok")
    pdf = batch_by_length(tk, batch_size=16, length_bucket=64).toPandas()
    for bid, grp in pdf.groupby("batch_id"):
        assert grp.n_tok.max() - grp.n_tok.min() < 64, bid
        assert sorted(grp.batch_pos) == list(range(len(grp))), bid
    for bucket, grp in pdf.groupby("len_bucket"):
        sizes = grp.groupby("batch_id").size()
        assert (sizes == 16).sum() >= len(sizes) - 1, bucket


def test_minhash_lsh_single_signature_pass(spark):
    """Regression guard: the LSH candidate plan must scan the corpus ONCE
    (pair generation is groupBy-bucket expansion, not a self-join that
    recomputes the signature fold per side; bands explode from one
    signature row, not a per-band union)."""
    from mhealth_spark.pipelines.dedup import minhash_lsh_candidates
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    df = minhash_lsh_candidates(docs, hash_fn="xxh")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    scan_nodes = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scan_nodes) == 1, plan[:2000]


def test_simhash_hamming_single_signature_pass(spark):
    """Regression guard: the expensive signature fold (explode + per-bit
    contribution agg) must run exactly ONCE — the candidate self-join
    reads a materialized (localCheckpoint) signature table, so its plan
    contains NO text scan at all (the fold already ran) and both join
    sides are the checkpointed RDD."""
    from mhealth_spark.pipelines.dedup import (
        simhash64,
        simhash_neardup_candidates,
    )
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    df = simhash_neardup_candidates(simhash64(docs))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("text:string") == 0, plan[:2000]
    assert "ExistingRDD" in plan, plan[:2000]


def test_minhash_fold_matches_naive_construction(spark):
    """The single-pass struct-fold signatures must equal the naive
    per-column array_min(transform(...)) form for BOTH hash tiers — a
    differential for the xxh tier, which has no DuckDB twin."""
    from mhealth_spark.pipelines.dedup import minhash_signatures
    from mhealth_spark.pipelines.text import shingles_col
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).limit(200)
    for hash_fn in ("xxh", "md5"):
        fast = minhash_signatures(docs, hash_fn=hash_fn).toPandas()

        sh = shingles_col("text", 5)
        base = docs.select(F.col("doc_id"), sh.alias("sh")).filter(
            F.size("sh") > 0
        )
        # factories, not default-arg lambdas: a 2-parameter lambda is read
        # by PySpark as the (element, index) form and i would bind to the
        # array index (the same trap minhash_signatures documents)
        def mk(i):
            if hash_fn == "md5":
                return lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))
            return lambda s: F.xxhash64(s, F.lit(i))

        cols = [
            F.array_min(F.transform("sh", mk(i))).alias(f"mh{i}")
            for i in range(8)
        ]
        naive = base.select("doc_id", *cols).toPandas()

        f = fast.sort_values("doc_id").reset_index(drop=True)
        n = naive.sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(f, n, check_dtype=False)


def test_unigram_logprob_properties(spark):
    """Scores are finite negatives, every token is scored, and a doc of
    corpus-frequent tokens outranks a doc of rare ones."""
    from mhealth_spark.pipelines.corpus import unigram_logprob_scores

    rows = [
        ("common", [1, 1, 1, 2, 2]),
        ("alsocommon", [1, 2, 1, 2]),
        ("rare", [99991, 99992, 99993]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    out = {r.doc_id: r for r in unigram_logprob_scores(df).collect()}
    for d, toks in rows:
        assert out[d].n_scored == len(toks)
        assert out[d].mean_logprob < 0
    assert out["common"].mean_logprob > out["rare"].mean_logprob


def test_pack_token_arrays_conservation(spark):
    """Packing conserves content: per entity, sum(pack_len) equals the
    entity's total n_tok, pack n_docs sum to the doc count, and every
    pack except possibly the last stays within budget + one doc."""
    from mhealth_spark.pipelines.corpus import pack_token_arrays
    from mhealth_spark.synth import synth_tokens

    tk = synth_tokens(spark, 800, seed=21)
    out = pack_token_arrays(tk, budget=2048).toPandas()
    totals = {
        r["source"]: (r["s"], r["c"])
        for r in tk.groupBy("source")
        .agg(F.sum("n_tok").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    for src, grp in out.groupby("source"):
        assert grp.pack_len.sum() == totals[src][0], src
        assert grp.n_docs.sum() == totals[src][1], src


def test_frame_sample_bytes_exact(spark):
    """Value check for the frame-sampling plumbing: sample bytes equal
    python-side slicing of the same UTF-8 payloads."""
    from mhealth_spark.pipelines.multimodal import frame_sample_stub, wrap_as_media
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).limit(50)
    media = wrap_as_media(docs, "doc_id", F.encode(F.col("text"), "UTF-8"))
    frames = frame_sample_stub(media, every_n_bytes=64, max_frames=4).toPandas()
    texts = {str(r["doc_id"]): r["text"] for r in docs.collect()}
    assert len(frames) > 0
    for _, r in frames.iterrows():
        payload = texts[r.media_id].encode("utf-8")
        off = int(r.byte_offset)
        assert bytes(r["sample"]) == payload[off:off + 16], r.media_id


def test_build_corpus_end_to_end(spark):
    """The one-call corpus build: stage counts are monotone non-increasing,
    audit keys are complete, the final frame carries split labels, and a
    re-run produces the identical document set (determinism)."""
    from mhealth_spark.pipelines.corpus import build_corpus
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    corpus = docs.filter(F.col("doc_id") % 17 != 0)

    out, audit = build_corpus(
        corpus,
        benchmark=bench,
        sample_alpha=0.5,
        split_weights={"train": 0.9, "val": 0.1},
    )
    stages = ["input", "after_quality", "after_decontaminate",
              "after_exact_dedup", "after_fuzzy_dedup", "after_sampling"]
    assert list(audit) == stages
    counts = [audit[s] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0
    pdf = out.toPandas()
    assert set(pdf["split"]) <= {"train", "val"}
    assert len(pdf) == audit["after_sampling"]

    out2, audit2 = build_corpus(
        corpus,
        benchmark=bench,
        sample_alpha=0.5,
        split_weights={"train": 0.9, "val": 0.1},
    )
    assert audit2 == audit
    assert set(out2.toPandas()["doc_id"]) == set(pdf["doc_id"])


def test_jaccard_verify_pairs_properties(spark):
    """The exact-Jaccard verify pass: (a) output is a subset of the
    candidate pairs, (b) at threshold 0 every candidate survives with a
    jaccard in [0, 1], (c) thresholds are monotone, and (d) each
    surviving pair's jaccard equals a pandas set-Jaccard recomputation."""
    from mhealth_spark.pipelines.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    pairs = minhash_lsh_candidates(docs, hash_fn="md5")
    all_pairs = set(map(tuple, pairs.toPandas()[["id_a", "id_b"]].values))

    v0 = jaccard_verify_pairs(docs, pairs, threshold=0.0).toPandas()
    assert set(map(tuple, v0[["id_a", "id_b"]].values)) == all_pairs
    assert ((v0.jaccard >= 0) & (v0.jaccard <= 1)).all()

    v4 = jaccard_verify_pairs(docs, pairs, threshold=0.95).toPandas()
    assert len(v4) < len(v0)
    assert set(map(tuple, v4[["id_a", "id_b"]].values)) == set(
        map(tuple, v0[v0.jaccard >= 0.95][["id_a", "id_b"]].values)
    )

    texts = dict(docs.select("doc_id", "text").toPandas().values)

    def sets_jac(a, b):
        def sh(t):
            w = [x for x in t.split() if x]
            return {
                " ".join(w[i : i + 5]) for i in range(max(len(w) - 4, 1))
            } if w else set()

        sa, sb = sh(texts[a]), sh(texts[b])
        return len(sa & sb) / len(sa | sb)

    for r in v4.itertuples():
        assert abs(sets_jac(r.id_a, r.id_b) - r.jaccard) < 1e-9


def test_build_corpus_non_default_id_col(spark):
    """Regression (ADVICE r2): build_corpus must work end-to-end with a
    renamed id column — the fuzzy-dedup component frame is renamed to the
    caller's id_col — and produce the identical document set."""
    from mhealth_spark.pipelines.corpus import build_corpus
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    default, audit_a = build_corpus(docs)
    renamed, audit_b = build_corpus(
        docs.withColumnRenamed("doc_id", "item_id"), id_col="item_id"
    )
    assert audit_a == audit_b
    assert set(renamed.toPandas()["item_id"]) == set(
        default.toPandas()["doc_id"]
    )


def test_build_corpus_verify_threshold_keeps_more_docs(spark):
    """The exact-Jaccard verify stage can only REMOVE candidate pairs, so
    clusters shrink and more documents survive fuzzy dedup."""
    from mhealth_spark.pipelines.corpus import build_corpus
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    plain, audit_plain = build_corpus(docs)
    verified, audit_ver = build_corpus(docs, fuzzy_verify_threshold=0.4)
    assert audit_ver["after_fuzzy_dedup"] >= audit_plain["after_fuzzy_dedup"]
    assert set(plain.toPandas()["doc_id"]) <= set(
        verified.toPandas()["doc_id"]
    )


def test_build_corpus_sampling_requires_source(spark):
    """Temperature sampling without a source column fails fast with a
    clear error instead of a deep AnalysisException."""
    import pytest

    from mhealth_spark.pipelines.corpus import build_corpus
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001).drop("source")
    with pytest.raises(ValueError, match="source"):
        build_corpus(docs, sample_alpha=0.5)


def test_span_dedup_crafted_and_fallback_parity(spark):
    """Crafted corpus: two docs share a 12-word block, a third is unique,
    a fourth is shorter than the span (whole-doc gram) and duplicated.
    Checks exact per-doc counts and that the shuffled-join fallback
    (broadcast_dups=False) returns the identical frame."""
    from mhealth_spark.pipelines.dedup import span_dedup_stats

    block = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, block + " alpha beta gamma"),   # spans: 4, block at pos 0 dup
        (2, "x y z " + block),              # spans: 4, block at pos 3 dup
        (3, " ".join(f"u{i}" for i in range(15))),  # 4 spans, none dup
        (4, "short doc"),                   # 1 whole-doc gram, dup w/ 5
        (5, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in span_dedup_stats(docs, span=12, min_docs=2).collect()
    }
    # doc 1: 15 words -> 4 spans; exactly ONE (the block, pos 0) also in doc 2
    assert (got[1]["n_spans"], got[1]["n_dup_spans"]) == (4, 1)
    assert (got[2]["n_spans"], got[2]["n_dup_spans"]) == (4, 1)
    assert (got[3]["n_spans"], got[3]["n_dup_spans"]) == (4, 0)
    assert (got[4]["n_spans"], got[4]["n_dup_spans"]) == (1, 1)
    assert (got[5]["n_spans"], got[5]["n_dup_spans"]) == (1, 1)
    assert abs(got[1]["dup_frac"] - 0.25) < 1e-12

    fb = {
        r["doc_id"]: r
        for r in span_dedup_stats(
            docs, span=12, min_docs=2, broadcast_dups=False
        ).collect()
    }
    assert {k: (v["n_spans"], v["n_dup_spans"]) for k, v in got.items()} == {
        k: (v["n_spans"], v["n_dup_spans"]) for k, v in fb.items()
    }

    from mhealth_spark.pipelines.dedup import span_dedup_mask

    mask = {
        r["doc_id"]: r["dup_positions"]
        for r in span_dedup_mask(docs, span=12, min_docs=2).collect()
    }
    assert mask == {1: [0], 2: [3], 4: [0], 5: [0]}  # doc 3 has no dups


def test_incremental_minhash_split_parity(spark):
    """Full-batch LSH pairs == pairs(old half) ∪ incremental(new half vs
    index(old half)), on the xxh production tier — the incremental probe
    loses nothing and invents nothing. Also checks the shuffled-probe
    fallback agrees with the broadcast path."""
    from mhealth_spark.pipelines.dedup import (
        minhash_index,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old, new = docs.filter("doc_id < 250"), docs.filter("doc_id >= 250")

    full = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(docs).collect()}
    old_pairs = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(old).collect()}
    idx = minhash_index(old)
    inc = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates_incremental(new, idx).collect()
    }
    assert old_pairs | inc == full
    assert all(a >= 250 or b >= 250 for a, b in inc)

    inc_shuffled = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates_incremental(
            new, idx, broadcast_new=False
        ).collect()
    }
    assert inc_shuffled == inc


def test_incremental_probe_broadcasts_batch_not_index(spark):
    """Scale-posture plan assertion for the incremental dedup probe: the
    new batch's buckets are what broadcasts; the candidate join is a
    BroadcastHashJoin whose build side is the batch, so the index scan
    reaches the join with NO index-side Exchange."""
    from mhealth_spark.pipelines.dedup import (
        minhash_index,
        minhash_lsh_candidates_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    idx = minhash_index(docs.filter("doc_id < 250"))
    out = minhash_lsh_candidates_incremental(docs.filter("doc_id >= 250"), idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    # the only Exchanges allowed are the in-batch expansion's groupBy,
    # the final distinct, and broadcast distribution — never a hash
    # repartition of the index side. The index feeds the probe join
    # straight from its scan: strip the broadcast-build subtree (the
    # batch) and assert the remaining probe side is exchange-free by
    # checking no ShuffleExchange appears between the scan and the BHJ.
    import re

    bhj_pos = plan.find("BroadcastHashJoin")
    probe_section = plan[bhj_pos:]
    first_agg = probe_section.find("HashAggregate")
    probe_join_subtree = (
        probe_section[:first_agg] if first_agg != -1 else probe_section
    )
    assert not re.search(
        r"Exchange hashpartitioning", probe_join_subtree
    ), probe_join_subtree


def test_build_corpus_span_dedup_stage_drops_template_tail(spark):
    """span_dup_threshold drops surviving docs whose cross-doc duplicated-
    span fraction exceeds the threshold; threshold=1.0 drops nothing
    (dup_frac can never exceed 1) and the audit records the stage."""
    from mhealth_spark.pipelines.corpus import build_corpus
    from mhealth_spark.pipelines.dedup import span_dedup_stats
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", SF001)
    base, audit_base = build_corpus(docs)
    trimmed, audit = build_corpus(docs, span_dup_threshold=0.2)
    assert "after_span_dedup" in audit
    assert audit["after_span_dedup"] <= audit["after_fuzzy_dedup"]
    base_ids = set(base.toPandas()["doc_id"])
    kept_ids = set(trimmed.toPandas()["doc_id"])
    assert kept_ids <= base_ids
    # exactly the heavy-dup survivors were removed
    survivors = docs.join(base.select("doc_id"), "doc_id", "left_semi")
    heavy = {
        r["doc_id"]
        for r in span_dedup_stats(survivors).filter("dup_frac > 0.2").collect()
    }
    assert base_ids - kept_ids == heavy

    noop, audit_noop = build_corpus(docs, span_dup_threshold=1.0)
    assert audit_noop["after_span_dedup"] == audit_noop["after_fuzzy_dedup"]


def test_ivf_persisted_index_probe_matches_oneshot(spark, tmp_path):
    """Serving split: ivf_assign written partitioned by cid, read back,
    probed with ann_ivf_probe — identical results to the fused
    ann_ivf_oneshot, and the probed scan carries a cid partition filter
    (dynamic partition pruning from the selective probe side)."""
    from mhealth_spark.pipelines.similarity import (
        ann_ivf_oneshot,
        ann_ivf_probe,
        ivf_assign,
        pick_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    fused = ann_ivf_oneshot(emb, queries, k=5, n_centroids=16, n_probe=4)

    cents = pick_centroids(emb, 16)
    path = str(tmp_path / "ivf_index")
    ivf_assign(emb, cents).write.partitionBy("cid").parquet(path)
    index = spark.read.parquet(path)
    probed = ann_ivf_probe(index, cents, queries, k=5, n_probe=4)

    key = ["query_id", "neighbor_id", "rank"]
    a = fused.toPandas().sort_values(key).reset_index(drop=True)
    b = probed.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])
    np.testing.assert_allclose(
        a["cosine"].to_numpy(), b["cosine"].to_numpy(), rtol=1e-9
    )

    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the probe's selective cid set must reach the index scan as a
    # DYNAMIC partition filter — only probed inverted lists are read
    assert "dynamicpruningexpression(cid" in plan, plan


def test_semantic_keep_planted_duplicates_numpy_differential(spark):
    """SemDeDup end-to-end on crafted vectors with planted semantic
    duplicates: full independent numpy recomputation (hash-seeded
    centroids -> argmax assignment -> within-cluster pairs -> union-find
    components -> farthest-from-centroid keep rule) must agree exactly."""
    import hashlib

    from mhealth_spark.pipelines.dedup import semantic_keep
    from mhealth_spark.pipelines.similarity import pick_centroids

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    vecs = list(base)
    # plant near-duplicates of every 5th vector (cosine ~0.999)
    for i in range(0, 60, 5):
        d = base[i] + 0.02 * rng.randn(16)
        vecs.append(d / np.linalg.norm(d))
    pdf = pd.DataFrame(
        {"vec_id": range(len(vecs)), "embedding": [list(v) for v in vecs]}
    )
    emb = spark.createDataFrame(pdf)
    thr, n_clusters = 0.95, 8
    out = (
        semantic_keep(emb, n_clusters, thr)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )

    # --- independent numpy recomputation ---
    V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    cents = np.array(pick_centroids(emb, n_clusters, salt="sem0"))
    # sanity: centroid pick really is the md5 draw order
    hx = sorted(
        range(len(vecs)),
        key=lambda i: (hashlib.md5(f"{i}#sem0".encode()).hexdigest()[:8], i),
    )[:n_clusters]
    np.testing.assert_allclose(cents, V[hx])
    cs = np.round(
        (V @ cents.T)
        / (np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(cents, axis=1)),
        9,
    )
    cid = np.argmax(cs, axis=1)  # argmax takes the first (lowest) index on ties
    ccos = cs[np.arange(len(vecs)), cid]
    parent = list(range(len(vecs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if cid[i] == cid[j]:
                c = V[i] @ V[j] / (np.linalg.norm(V[i]) * np.linalg.norm(V[j]))
                if np.round(c, 9) >= thr:
                    n_pairs += 1
                    a, b = find(i), find(j)
                    parent[max(a, b)] = min(a, b)
    assert n_pairs >= 10  # the planted dups actually form pairs
    group = np.array([find(i) for i in range(len(vecs))])
    keep = np.zeros(len(vecs), dtype=bool)
    for g in np.unique(group):
        members = np.where(group == g)[0]
        best = members[np.lexsort((members, ccos[members]))][0]
        keep[best] = True

    np.testing.assert_array_equal(out["cid"].to_numpy(), cid)
    np.testing.assert_allclose(out["ccos"].to_numpy(), ccos, atol=1e-9)
    np.testing.assert_array_equal(out["group_id"].to_numpy(), group)
    np.testing.assert_array_equal(out["keep"].to_numpy(), keep)
    # exactly one survivor per group; dropped docs are all near a survivor
    assert out.groupby("group_id")["keep"].sum().eq(1).all()


def test_curriculum_buckets_order_and_balance(spark):
    """bucket 1 holds the highest scores; per-group bucket sizes differ by
    at most 1 (ntile contract); bucketing is per-group, not global."""
    import pandas as pd

    from mhealth_spark.pipelines.corpus import curriculum_buckets

    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(20)],
            "source": ["a"] * 10 + ["b"] * 10,
            "mean_logprob": [-float(i) for i in range(10)] * 2,
        }
    )
    out = curriculum_buckets(spark.createDataFrame(pdf), n_buckets=4).toPandas()
    for src, g in out.groupby("source"):
        sizes = g.curriculum_bucket.value_counts()
        assert sizes.max() - sizes.min() <= 1
        # scores within bucket k are all >= scores within bucket k+1
        by_bucket = g.groupby("curriculum_bucket").mean_logprob
        mins, maxs = by_bucket.min(), by_bucket.max()
        for k in range(1, 4):
            assert mins[k] >= maxs[k + 1]


def test_pq_encode_and_adc_match_numpy(spark):
    """Exact numpy differential for the PQ family: re-derive the
    hash-seeded codebooks, the per-subspace argmin codes, and the ADC
    top-k in pure numpy from the collected embeddings, and require the
    Spark results to match code-for-code and rank-for-rank."""
    import hashlib

    from mhealth_spark.pipelines.similarity import (
        pick_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    d = len(next(iter(vecs.values())))
    M, Ks = 8, 16
    ds = d // M

    # numpy codebooks via the same md5 draw
    def draw(vid):
        return hashlib.md5(f"{vid}#pq0".encode()).hexdigest()[:8]

    seed_ids = sorted(vecs, key=lambda v: (draw(v), v))[:Ks]
    cb = np.stack([vecs[v] for v in seed_ids])  # Ks x d

    spark_cb = pick_pq_codebooks(emb, n_subspaces=M, n_codes=Ks)
    for m in range(M):
        np.testing.assert_allclose(
            np.asarray(spark_cb[m]), cb[:, m * ds:(m + 1) * ds]
        )

    # numpy encode: per-subspace argmin of round(L2^2, 9), ties -> low id
    def np_codes(v):
        out = []
        for m in range(M):
            dist = np.round(
                ((cb[:, m * ds:(m + 1) * ds] - v[m * ds:(m + 1) * ds]) ** 2
                 ).sum(axis=1), 9)
            out.append(int(np.argmin(dist)))  # argmin takes first = low id
        return out

    enc = pq_encode(emb, spark_cb).toPandas()
    got = {int(r.vec_id): list(r.codes) for r in enc.itertuples()}
    assert set(got) == set(vecs)
    for vid, v in vecs.items():
        assert got[vid] == np_codes(v), f"codes mismatch for {vid}"

    # numpy ADC top-k for a handful of queries
    qids = sorted(vecs)[:10]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = pq_adc_topk(
        pq_encode(emb, spark_cb), spark_cb, queries, k=5
    ).toPandas()
    for q in qids:
        qv = vecs[q]
        lut = np.stack([
            np.round(((cb[:, m * ds:(m + 1) * ds]
                       - qv[m * ds:(m + 1) * ds]) ** 2).sum(axis=1), 9)
            for m in range(M)
        ])  # M x Ks
        scored = sorted(
            (round(sum(lut[m][c] for m, c in enumerate(np_codes(v))), 9), vid)
            for vid, v in vecs.items() if vid != q
        )[:5]
        g = adc[adc.query_id == q].sort_values("rank")
        assert list(g.neighbor_id) == [vid for _, vid in scored]
        np.testing.assert_allclose(
            g.adc_dist.values, [s for s, _ in scored], atol=1e-6
        )


def test_ivfpq_adc_matches_numpy(spark):
    """Exact numpy differential for the composed IVF-PQ path: re-derive
    coarse assignment, residuals, residual codebooks, codes, per-probe
    LUTs, and the ADC top-k in pure numpy and require rank-for-rank
    agreement with the Spark plan."""
    import hashlib

    from mhealth_spark.pipelines.similarity import (
        ann_ivfpq_adc,
        ivfpq_encode,
        ivfpq_residuals,
        pick_centroids,
        pick_pq_codebooks,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    d = len(next(iter(vecs.values())))
    NC, M, Ks, NP = 16, 8, 16, 4
    ds = d // M

    def draw(vid, salt):
        return hashlib.md5(f"{vid}#{salt}".encode()).hexdigest()[:8]

    cent_ids = sorted(vecs, key=lambda v: (draw(v, "ivf0"), v))[:NC]
    cents = np.stack([vecs[v] for v in cent_ids])

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def assign(v):
        scores = [round(cos(v, c), 9) for c in cents]
        return max(range(NC), key=lambda i: (scores[i], -i))

    cid = {vid: assign(v) for vid, v in vecs.items()}
    resid = {vid: v - cents[cid[vid]] for vid, v in vecs.items()}

    seed_ids = sorted(vecs, key=lambda v: (draw(v, "pqr0"), v))[:Ks]
    cb = np.stack([resid[v] for v in seed_ids])  # Ks x d

    def np_codes(r):
        return [
            int(np.argmin(np.round(
                ((cb[:, m * ds:(m + 1) * ds] - r[m * ds:(m + 1) * ds]) ** 2
                 ).sum(axis=1), 9)))
            for m in range(M)
        ]

    spark_cents = pick_centroids(emb, NC)
    np.testing.assert_allclose(np.asarray(spark_cents), cents)
    res_df = ivfpq_residuals(emb, spark_cents)
    spark_cb = pick_pq_codebooks(res_df, vec_col="r", salt="pqr0")
    for m in range(M):
        np.testing.assert_allclose(
            np.asarray(spark_cb[m]), cb[:, m * ds:(m + 1) * ds]
        )

    enc = ivfpq_encode(res_df, spark_cb).toPandas()
    got = {int(r.vec_id): (int(r.cid), list(r.codes))
           for r in enc.itertuples()}
    assert set(got) == set(vecs)
    for vid in vecs:
        assert got[vid] == (cid[vid], np_codes(resid[vid])), vid

    qids = sorted(vecs)[:8]
    queries = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = ann_ivfpq_adc(
        ivfpq_encode(res_df, spark_cb), spark_cents, spark_cb,
        queries, k=5, n_probe=NP,
    ).toPandas()
    for qid in qids:
        qv = vecs[qid]
        scores = [round(cos(qv, c), 9) for c in cents]
        probed = sorted(range(NC), key=lambda i: (-scores[i], i))[:NP]
        cands = []
        for vid, v in vecs.items():
            if vid == qid or cid[vid] not in probed:
                continue
            qr = qv - cents[cid[vid]]
            lut = np.stack([
                np.round(((cb[:, m * ds:(m + 1) * ds]
                           - qr[m * ds:(m + 1) * ds]) ** 2).sum(axis=1), 9)
                for m in range(M)
            ])
            a = round(sum(lut[m][c] for m, c in enumerate(np_codes(resid[vid]))), 9)
            cands.append((a, vid))
        expect = sorted(cands)[:5]
        g = adc[adc.query_id == qid].sort_values("rank")
        assert list(g.neighbor_id) == [vid for _, vid in expect], qid
        np.testing.assert_allclose(
            g.adc_dist.values, [s for s, _ in expect], atol=1e-6
        )


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Semantics check on a crafted corpus: raw docs written in the
    TARGET domain's vocabulary must out-weight raw docs written in a
    disjoint vocabulary, and weights must be finite for every doc."""
    from mhealth_spark.pipelines.corpus import dsir_weights

    target_text = "alpha beta gamma delta epsilon zeta " * 5
    offdomain = "zork quux blarg wibble frotz grue " * 5
    rows = (
        [(i, target_text, "tgt") for i in range(20)]
        + [(100 + i, target_text, "raw") for i in range(5)]
        + [(200 + i, offdomain, "raw") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dsir_weights(docs, "source = 'tgt'").toPandas()
    assert len(out) == 30 and out.dsir_weight.notna().all()
    raw = out[~out.is_target]
    like = raw[raw.doc_id < 200].dsir_weight
    unlike = raw[raw.doc_id >= 200].dsir_weight
    assert like.min() > unlike.max(), (like.min(), unlike.max())
    # target-vocab docs carry positive evidence, off-domain negative
    assert (like > 0).all() and (unlike < 0).all()


def test_line_dedup_crafted_modes(spark):
    """Crafted-corpus value check for CCNet line dedup: drop-all removes
    every occurrence of a cross-doc duplicated line; keep_first retains
    it only in the lowest doc_id; reconstruction preserves original line
    order and text; normalization (trim+lower) drives the hash but not
    the rebuilt text."""
    from mhealth_spark.pipelines.text import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "Shared Footer\nunique one\nmore one"),
            (2, "unique two\n  shared footer  \nmore two"),
            (3, "all alone"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert out[1].n_lines == 3 and out[1].n_kept == 2
    assert out[1].text_clean == "unique one\nmore one"
    assert out[2].n_lines == 3 and out[2].n_kept == 2
    assert out[2].text_clean == "unique two\nmore two"
    assert out[3].n_kept == 1 and out[3].text_clean == "all alone"

    kf = {r.doc_id: r for r in line_dedup(docs, keep_first=True).collect()}
    assert kf[1].n_kept == 3
    assert kf[1].text_clean == "Shared Footer\nunique one\nmore one"
    assert kf[2].n_kept == 2 and kf[2].text_clean == "unique two\nmore two"

    # a doc that is ALL boilerplate survives with empty text
    docs2 = spark.createDataFrame(
        [(1, "dup line"), (2, "dup line"), (3, "dup line\nextra")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r for r in line_dedup(docs2).collect()}
    assert out2[1].n_kept == 0 and out2[1].text_clean == ""
    assert out2[3].n_kept == 1 and out2[3].text_clean == "extra"


def test_pretokenize_crafted_units(spark):
    """Value check of the GPT-2-style pretoken units on crafted text:
    contractions split as suffix tokens, words keep their leading space,
    digit and punctuation runs separate, space runs dropped."""
    from mhealth_spark.pipelines.text import pretokenize

    docs = spark.createDataFrame(
        [(1, "Hello world, it's 42 spark-fast!"), (2, "a  b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pretokenize(docs).collect()}
    assert list(out[1].pretokens) == [
        "Hello", " world", ",", " it", "'s", " 42", " spark", "-", "fast", "!",
    ]
    assert out[1].n_pretokens == 10
    # a multi-space run is ONE whitespace token (greedy \s+), so the
    # following word carries no leading space
    assert list(out[2].pretokens) == ["a", "b"] and out[2].n_pretokens == 2

    kept = pretokenize(docs, drop_space_runs=False).collect()
    r2 = {r.doc_id: r for r in kept}[2]
    assert list(r2.pretokens) == ["a", "  ", "b"]


def test_lloyd_refine_matches_numpy_and_improves_objective(spark):
    """One Lloyd iteration: centroids must equal the numpy per-dim means
    of the cosine-argmax members (empty clusters keep their seed), and
    the mean assigned cosine must not decrease."""
    import hashlib

    from mhealth_spark.pipelines.similarity import (
        ivf_assign,
        lloyd_refine,
        pick_centroids,
    )
    from mhealth_spark.source import read_table

    emb = read_table(spark, "embeddings", SF001)
    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in pdf.itertuples()}
    NC = 16
    seed_ids = sorted(
        vecs, key=lambda v: (hashlib.md5(f"{v}#ivf0".encode()).hexdigest()[:8], v)
    )[:NC]
    cents0 = np.stack([vecs[v] for v in seed_ids])

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def assign(v, cents):
        scores = [round(cos(v, c), 9) for c in cents]
        return max(range(len(cents)), key=lambda i: (scores[i], -i))

    cid0 = {vid: assign(v, cents0) for vid, v in vecs.items()}
    cents1 = cents0.copy()
    for c in range(NC):
        members = [v for vid, v in vecs.items() if cid0[vid] == c]
        if members:
            cents1[c] = np.mean(members, axis=0)

    got = np.asarray(lloyd_refine(emb, pick_centroids(emb, NC), n_iters=1))
    np.testing.assert_allclose(got, cents1, rtol=1e-9, atol=1e-12)

    obj0 = np.mean([cos(v, cents0[cid0[vid]]) for vid, v in vecs.items()])
    cid1 = {vid: assign(v, cents1) for vid, v in vecs.items()}
    obj1 = np.mean([cos(v, cents1[cid1[vid]]) for vid, v in vecs.items()])
    assert obj1 >= obj0, (obj0, obj1)

    # empty-cluster retention: 1 far-away seed among tight points
    rows = [(i, [1.0, 0.0] if i < 5 else [0.0, 1.0]) for i in range(10)]
    tiny = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    ref = lloyd_refine(tiny, seeds, n_iters=1)
    assert ref[2] == [-1.0, 0.0]  # nobody assigns to it; seed kept


def test_build_corpus_dsir_stage(spark):
    """build_corpus with the DSIR stage: target docs always survive it,
    kept raw docs are exactly those whose weight clears the threshold at
    the post-quality population, and the audit records the stage."""
    from mhealth_spark.pipelines.corpus import build_corpus, dsir_weights
    from mhealth_spark.pipelines.text import quality_filter
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    target = "source IN ('src0', 'src1')"
    out, audit = build_corpus(
        docs, dsir_target_expr=target, dsir_min_weight=0.0
    )
    assert "after_dsir" in audit
    assert audit["after_dsir"] <= audit["after_quality"]

    q = quality_filter(docs).filter("keep").select("doc_id")
    base = docs.join(q, "doc_id", "left_semi")
    w = dsir_weights(base, target).toPandas()
    expected_pass = set(
        w[(w.is_target) | (w.dsir_weight >= 0.0)].doc_id
    )
    surv = set(r.doc_id for r in out.select("doc_id").collect())
    # later dedup stages only REMOVE docs; the dsir stage's audit count
    # must match the expected pass set exactly
    assert audit["after_dsir"] == len(expected_pass)
    assert surv <= expected_pass
    tgt = {r.doc_id for r in base.filter(target).select("doc_id").collect()}
    assert tgt & expected_pass == tgt  # every target doc cleared the stage


def test_chunk_windows_coverage_and_overlap(spark):
    """Chunking invariants on crafted docs: every word is covered, chunks
    overlap by window-stride, the tail chunk is the remainder, short docs
    yield exactly one chunk, and word order is preserved."""
    from mhealth_spark.pipelines.corpus import chunk_windows

    text_long = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame(
        [(1, text_long), (2, "a b c"), (3, " ".join(f"x{i}" for i in range(64)))],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, window=64, stride=48).toPandas()
    g1 = out[out.doc_id == 1].sort_values("chunk_id")
    # ceil((150-64)/48)+1 = 3 chunks at starts 0, 48, 96
    assert list(g1.start_word) == [0, 48, 96]
    assert list(g1.n_words) == [64, 64, 54]
    covered = set()
    for r in g1.itertuples():
        words = r.chunk_text.split()
        assert words == [f"w{i}" for i in range(r.start_word, r.start_word + r.n_words)]
        covered.update(range(r.start_word, r.start_word + r.n_words))
    assert covered == set(range(150))
    assert list(out[out.doc_id == 2].n_words) == [3]
    assert list(out[out.doc_id == 3].n_words) == [64]  # exactly-window doc: 1 chunk


def test_ivfpq_persisted_probe_matches_oneshot(spark, tmp_path):
    """IVF-PQ serving split: the PQ-encoded inverted file written
    partitioned by cid and probed from disk returns exactly the fused
    result, and the probed scan carries a dynamic cid partition filter."""
    from mhealth_spark.pipelines.similarity import (
        ann_ivfpq_adc,
        ivfpq_encode,
        ivfpq_residuals,
        pick_centroids,
        pick_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = pick_centroids(emb, 16)
    res = ivfpq_residuals(emb, cents)
    cb = pick_pq_codebooks(res, vec_col="r", salt="pqr0")
    fused = ann_ivfpq_adc(ivfpq_encode(res, cb), cents, cb, queries, k=5, n_probe=4)

    path = str(tmp_path / "ivfpq_index")
    ivfpq_encode(res, cb).write.partitionBy("cid").parquet(path)
    enc = spark.read.parquet(path)
    probed = ann_ivfpq_adc(enc, cents, cb, queries, k=5, n_probe=4)

    key = ["query_id", "neighbor_id", "rank"]
    a = fused.toPandas().sort_values(key).reset_index(drop=True)
    b = probed.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])
    np.testing.assert_allclose(
        a["adc_dist"].to_numpy(), b["adc_dist"].to_numpy(), rtol=1e-9
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression(cid" in plan, plan


def test_embedding_outliers_planted(spark):
    """A planted far-away vector inside one source must be flagged: its
    affinity z-score is far below the bulk, and clean tight clusters
    produce no flags."""
    from mhealth_spark.pipelines.similarity import embedding_outliers

    rng = np.random.default_rng(7)
    rows = []
    base = rng.normal(0, 0.05, 64) + np.eye(64)[0] * 5  # tight around e0
    for i in range(40):
        rows.append((i, (base + rng.normal(0, 0.05, 64)).tolist()))
    rows.append((99, (-np.eye(64)[0] * 5).tolist()))  # planted opposite
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(
        [(i, "s0") for i, _ in rows], "doc_id long, source string"
    )
    out = embedding_outliers(emb, docs).toPandas().set_index("vec_id")
    assert bool(out.loc[99].is_outlier)
    assert out.loc[99].affinity_z < -3
    clean = out.drop(99)
    assert not clean.is_outlier.any()


def test_bigram_logprob_semantics(spark):
    """Crafted-corpus semantics: a doc whose transitions repeat the
    corpus's dominant pattern outscores a doc with unique transitions;
    single-token docs emit no row; shuffled-join tier equals broadcast."""
    from mhealth_spark.pipelines.corpus import bigram_logprob_scores

    rows = (
        [(i, [1, 2, 1, 2, 1, 2]) for i in range(10)]  # dominant pattern
        + [(100, [7, 8, 9, 10, 11, 12])]              # unique transitions
        + [(200, [5])]                                # no bigrams
    )
    toks = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = bigram_logprob_scores(toks).toPandas().set_index("doc_id")
    assert 200 not in out.index
    assert out.loc[0].mean_bigram_logprob > out.loc[100].mean_bigram_logprob
    assert out.loc[0].n_bigrams == 5

    shuffled = (
        bigram_logprob_scores(toks, broadcast_probs=False)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(out.sort_index(), shuffled)


def test_winnow_guarantee_and_density(spark):
    """Winnowing guarantees: two docs sharing a >= w+k-1 word run share
    at least one fingerprint HASH (even when an insertion shifts all
    positions), and selection density is ~2/(w+1) on random text."""
    from mhealth_spark.pipelines.text import winnow_fingerprints

    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(500)]

    def rand_words(n):
        return [vocab[i] for i in rng.integers(0, len(vocab), n)]

    shared = rand_words(40)  # >= w+k-1 = 8 guaranteed-detection run
    doc_a = rand_words(60) + shared + rand_words(60)
    doc_b = rand_words(31) + shared + rand_words(44)  # different offset
    docs = spark.createDataFrame(
        [
            (1, " ".join(doc_a)),
            (2, " ".join(doc_b)),
            (3, " ".join(rand_words(160))),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=5, w=4).toPandas()
    h1 = set(fp[fp.doc_id == 1].h)
    h2 = set(fp[fp.doc_id == 2].h)
    h3 = set(fp[fp.doc_id == 3].h)
    assert h1 & h2, "planted shared run must share a fingerprint"
    assert not (h1 & h3) or len(h1 & h3) < len(h1 & h2)

    # density on the unrelated doc: ~2/(w+1)=0.4 of its 156 grams,
    # generous band for randomness
    n_grams3 = 160 - 4
    density = len(fp[fp.doc_id == 3]) / n_grams3
    assert 0.2 < density < 0.6, density


def test_line_dedup_shuffled_fallback_identical(spark):
    """line_dedup's shuffled-join fallback (broadcast_dups=False) must
    return the identical frame in both modes."""
    from mhealth_spark.pipelines.text import line_dedup
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    w = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    wrapped = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.ceil(F.size(w) / 10.0).cast("int"), F.lit(1)),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(w, (i - F.lit(1)) * 10 + F.lit(1), F.lit(10))
                ),
            ),
        ).alias("text"),
    )
    for kf in (False, True):
        a = (
            line_dedup(wrapped, keep_first=kf, broadcast_dups=True)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        b = (
            line_dedup(wrapped, keep_first=kf, broadcast_dups=False)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)


def test_source_overlap_matrix(spark):
    from mhealth_spark.pipelines.corpus import source_overlap

    rows = [
        (0, "alpha beta", "web"),
        (1, "alpha beta", "books"),   # shared web<->books
        (2, "alpha beta", "code"),    # three-way: each pair counts once
        (3, "gamma", "web"),
        (4, "gamma", "books"),        # second web<->books text
        (5, "delta", "web"),          # unshared
        (6, "alpha beta", "web"),     # same text twice in web: still 1
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    got = {
        (r["src_a"], r["src_b"]): r["n_shared"]
        for r in source_overlap(df).collect()
    }
    assert got == {
        ("books", "web"): 2,
        ("books", "code"): 1,
        ("code", "web"): 1,
    }


def test_tokens_ngram_diversity_values(spark):
    from mhealth_spark.pipelines.corpus import ngram_diversity

    rows = [
        ("d0", [1, 2, 3, 1, 2, 3], "rep"),   # trigrams: 123,231,312,123 -> 4 total, 3 distinct
        ("d1", [1, 2, 3, 4, 5], "div"),      # 3 total, all distinct
        ("d2", [7, 7], "div"),               # too short: no trigrams
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")
    got = {r["source"]: r for r in ngram_diversity(df).collect()}
    assert got["rep"]["n_ngrams"] == 4 and got["rep"]["n_distinct"] == 3
    assert got["rep"]["distinct_ppm"] == 750000
    assert got["div"]["n_ngrams"] == 3 and got["div"]["n_distinct"] == 3
    assert got["div"]["distinct_ppm"] == 1000000


def test_bm25_matches_python_reference(spark):
    import math

    from mhealth_spark.pipelines.text import bm25_scores, inverted_postings

    corpus = {
        0: "join hash join join",
        1: "hash scan scan",
        2: "scan scan scan scan",
        3: "vector join",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id int, text string"
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["join", "hash", "vector"]).collect()}

    # plain-python BM25 with the same formula
    k1, b = 1.2, 0.75
    docs = {i: t.split() for i, t in corpus.items()}
    N = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / N
    dfreq = {
        t: sum(1 for w in docs.values() if t in w)
        for t in ["join", "hash", "vector"]
    }
    for i, w in docs.items():
        s = 0.0
        for t in sorted(dfreq):
            tf = w.count(t)
            if tf:
                idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
                s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        if s:
            assert abs(got[i] - round(s, 6)) < 1e-9, (i, got[i], s)
        else:
            assert i not in got  # docs with no query term don't score
    # doc 0 (two query terms, high tf) must outrank doc 1
    assert got[0] > got[1]

    post = {r["term"]: r for r in inverted_postings(df).collect()}
    assert post["join"]["postings"] == [0, 3] and post["join"]["df"] == 2
    assert post["scan"]["postings"] == [1, 2]


def test_contrastive_negatives_invariants(spark):
    """contrastive_negatives: never a same-source pair, neg_rank dense
    from 1 per doc, at most k per doc, deterministic across runs, and
    the ring gives most docs full fan-out."""
    from mhealth_spark.pipelines.corpus import contrastive_negatives
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    k = 3
    # buckets sized to the corpus (~60 docs per bucket) so lookahead
    # tail truncation stays a per-bucket edge, not the common case
    got = contrastive_negatives(docs, k=k, buckets=8).toPandas()
    assert len(got) > 0
    assert (got.source != got.neg_source).all()
    assert got.neg_rank.between(1, k).all()
    by = got.groupby("doc_id").neg_rank.agg(["count", "min", "max"])
    assert (by["min"] == 1).all()
    assert (by["max"] == by["count"]).all()  # dense ranks
    n_docs = docs.count()
    # ring + margin should give nearly every doc its full k negatives
    assert (by["count"] == k).sum() >= 0.8 * n_docs
    again = contrastive_negatives(docs, k=k, buckets=8).toPandas()
    key = ["doc_id", "neg_rank"]
    assert got.sort_values(key).neg_id.tolist() == again.sort_values(key).neg_id.tolist()
    # pairs reference real docs
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert set(got.neg_id) <= ids


def test_split_leakage_crafted_groups(spark):
    """split_leakage on a crafted corpus: duplicate content planted
    across doc_ids that hash to different splits must surface as leak
    groups with the right membership; unique docs and same-split dups
    must not."""
    from mhealth_spark.pipelines.corpus import split_corpus, split_leakage

    # find doc ids landing in different 50/25/25 splits
    ids = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    lab = {
        r["doc_id"]: r["split"]
        for r in split_corpus(
            ids, {"train": 0.5, "val": 0.25, "test": 0.25}
        ).collect()
    }
    by = {}
    for d, sp in lab.items():
        by.setdefault(sp, []).append(d)
    a_train, b_train = by["train"][:2]
    a_val = by["val"][0]
    a_test = by["test"][0]

    rows = [
        (a_train, "leaky duplicate content here"),
        (a_val, "leaky duplicate content here"),      # cross-split dup
        (b_train, "same split duplicate body"),
        (by["train"][2], "same split duplicate body"),  # same-split dup
        (a_test, "a unique document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = split_leakage(
        docs, weights={"train": 0.5, "val": 0.25, "test": 0.25}
    ).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert sorted(r.doc_ids) == sorted([a_train, a_val])
    assert list(r.splits) == ["train", "val"]
    assert (r.n_docs, r.n_splits) == (2, 2)


def test_ivf_append_probe_equals_rebuild(spark, tmp_path):
    """Incremental index growth: building the IVF index from a base
    corpus then ivf_append-ing two more batches must leave the persisted
    store probe-identical to a one-shot rebuild over the full corpus,
    and the append must only add files (never rewrite existing
    partition contents)."""
    import os

    from mhealth_spark.pipelines.similarity import (
        ann_ivf_probe,
        ivf_append,
        ivf_assign,
        pick_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.filter("vec_id % 3 = 0")
    b1 = emb.filter("vec_id % 3 = 1")
    b2 = emb.filter("vec_id % 3 = 2")
    queries = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the quantizer is FIXED at base-build time (the invariant)
    cents = pick_centroids(base, 16)

    inc_path = str(tmp_path / "inc")
    ivf_assign(base, cents).write.partitionBy("cid").parquet(inc_path)
    files_before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(inc_path)
        for f in fs
        if f.endswith(".parquet")
    }
    ivf_append(b1, cents, inc_path)
    ivf_append(b2, cents, inc_path)
    files_after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(inc_path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert files_before <= files_after and len(files_after) > len(files_before)

    full_path = str(tmp_path / "full")
    ivf_assign(emb, cents).write.partitionBy("cid").parquet(full_path)

    key = ["query_id", "neighbor_id", "rank"]
    a = (
        ann_ivf_probe(spark.read.parquet(inc_path), cents, queries, k=5, n_probe=4)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    b = (
        ann_ivf_probe(spark.read.parquet(full_path), cents, queries, k=5, n_probe=4)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a[key], b[key])
    np.testing.assert_allclose(
        a["cosine"].to_numpy(), b["cosine"].to_numpy(), rtol=1e-12
    )


def test_stream_ivf_ingest_probe_equals_rebuild(spark, tmp_path):
    """Streaming IVF maintenance: ingesting the corpus as 3 micro-batches
    must leave a store that probes identically to a one-shot rebuild,
    dynamic partition pruning must still reach the nested cid level, and
    a replayed run (fresh checkpoint, same store) must leave the row set
    unchanged (exactly-once)."""
    import os

    from mhealth_spark.pipelines.similarity import (
        ann_ivf_probe,
        ivf_assign,
        pick_centroids,
    )
    from mhealth_spark.streaming import stream_ivf_ingest

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter("vec_id < 20").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = pick_centroids(emb.filter("vec_id % 3 = 0"), 16)

    src = str(tmp_path / "src")
    for bi in range(3):
        emb.filter(f"vec_id % 3 = {bi}").coalesce(1).write.parquet(
            f"{src}/b{bi}"
        )
        os.utime(f"{src}/b{bi}", (1700000000 + bi * 100,) * 2)

    idx = str(tmp_path / "idx")

    def run(tag):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            stream_ivf_ingest(stream, cents, idx)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run("a")
    rows_a = sorted(
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(idx).select("vec_id", "cid").collect()
    )
    run("b")  # replay with fresh checkpoint: same batch ids, same files
    rows_b = sorted(
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(idx).select("vec_id", "cid").collect()
    )
    assert rows_a == rows_b and len(rows_a) == emb.count()

    full_path = str(tmp_path / "full")
    ivf_assign(emb, cents).write.partitionBy("cid").parquet(full_path)
    key = ["query_id", "neighbor_id", "rank"]
    a = (
        ann_ivf_probe(
            spark.read.parquet(idx).drop("batch"), cents, queries, k=5, n_probe=4
        )
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    b = (
        ann_ivf_probe(
            spark.read.parquet(full_path), cents, queries, k=5, n_probe=4
        )
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a[key], b[key])
    np.testing.assert_allclose(
        a["cosine"].to_numpy(), b["cosine"].to_numpy(), rtol=1e-12
    )
    plan = (
        ann_ivf_probe(
            spark.read.parquet(idx).drop("batch"), cents, queries, k=5, n_probe=4
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruningexpression(cid" in plan, plan
