"""Pipeline assembly (SURVEY §2.14 E1/E2).

E1 ``generate_hk_features``: the reference loops Python per request
(``generate_features.py:49-161`` driven from a notebook loop); here ALL
requests run as one distributed job:

    requests ⋈(F3 slice join) events → per-(request, domain) conditional
    aggregations + Arrow kernels → full-outer assembly → one wide feature
    row per request.

Temporal leakage is structurally impossible: the slice join's window end
is the request timestamp, so no event after it ever reaches an aggregate
(modulo the reference's own F3 quirk of admitting intervals that *start*
before the window but end inside it — semantics preserved).

The "entity" for every domain op inside E1 is the REQUEST id (each
request re-derives its own 3pm sleep origin etc., exactly like the
reference's per-call slices): the tagged frame carries request_id in the
user_id slot and the real user is restored at assembly.

E2 ``collect_all_daily_features``: the reference's 9-way outer-join daily
table (``simple_features_daily.py:18-86``).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from mhealth_spark import kernels
from mhealth_spark.activity import aggregate_active_duration
from mhealth_spark.audio import aggregate_audio_exposure
from mhealth_spark.schema import VITAL_RANGES
from mhealth_spark.sleep import (
    aggregate_daily_sleep,
    aggregate_sleep_categories,
    daily_sleep_features,
)
from mhealth_spark.vitals import aggregate_vital
from mhealth_spark.watch import watch_on_hours_daily, watch_on_stats

E1_SLEEP_AGGREGATIONS = [
    "sleep_sleepDuration_day",
    "sleep_bedrestDuration_day",
    "sleep_sleepHR_day",
    "sleep_sleepHRV_day",
    "sleep_wakeAfterSleepOnset_day",
    "sleep_sleepEfficiency_day",
    "sleep_sleepOnsetLatency_day",
    "sleep_bedrestOnsetHours_day",
    "sleep_bedrestOffsetHours_day",
    "sleep_sleepOnsetHours_day",
    "sleep_sleepOffsetHours_day",
    "sleep_bedrestNoise_day",
]

ACTIVITY_TYPES_E1 = [
    "ActiveEnergyBurned",
    "BasalEnergyBurned",
    "AppleExerciseTime",
    "StepCount",
]


def calc_start_stop(ts, duration):
    """F2 window bounds (simple_features.py:102-142 ``calcStartStop``),
    as a pair of Columns from a request-timestamp Column.

    ``duration`` may be:
    - a number → hours of lookback: [ts − duration, ts];
    - a pandas-Timedelta string ("1d", "36h") → same, parsed driver-side;
    - ``"today"`` → the calendar day of ts, [midnight, midnight+1d),
      EXCEPT before 4am, where it shifts back to the previous day
      (EMA responses shortly after midnight refer to the prior day);
    - ``"yesterday"`` → the previous calendar day. (Before 4am this
      coincides with "today" — reference quirk preserved: its hour<4
      branch overwrites start with the same previous-day value.)

    Note the calendar windows may END AFTER ts (end = day start + 1d):
    events later the same day are included, exactly like the reference.
    """
    t = F.col(ts) if isinstance(ts, str) else ts
    t = t.cast("timestamp")
    if duration in ("today", "yesterday"):
        day = F.to_date(t)
        if duration == "today":
            day = F.when(F.hour(t) < 4, F.date_sub(F.to_date(t), 1)).otherwise(day)
        else:
            day = F.date_sub(F.to_date(t), 1)
        start = day.cast("timestamp").cast("timestamp_ntz")
        end = F.date_add(day, 1).cast("timestamp").cast("timestamp_ntz")
        return start, end
    if isinstance(duration, str):
        import pandas as pd

        hours = pd.Timedelta(duration).total_seconds() / 3600.0
    else:
        hours = float(duration)
    start = F.timestamp_micros(
        F.unix_micros(t) - int(hours * 3.6e9)
    ).cast("timestamp_ntz")
    return start, t.cast("timestamp_ntz")


def slice_requests(
    hk: DataFrame,
    requests: DataFrame,
    request_id: str = "request_id",
    entity_col: str = "user_id",
    ts_col: str = "ts",
    lookback_col: str = "lookback_hours",
    duration=None,
) -> DataFrame:
    """F3 slice join (simple_features.py:145-168): per request, keep events
    whose start OR end lies in [window start, window end]. Result = the HK
    frame with the request id in the user_id slot plus window-bound columns.

    The window is [ts − lookback_hours, ts] from ``lookback_col`` by
    default; passing ``duration`` ("today"/"yesterday"/Timedelta string/
    hours, applied to every request) routes through ``calc_start_stop``
    instead — F2's duration-literal semantics incl. the before-4am
    shift-back."""
    if duration is not None:
        wstart, wend = calc_start_stop(F.col(ts_col), duration)
    else:
        wstart = F.timestamp_micros(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - (F.col(lookback_col) * 3.6e9).cast("long")
        ).cast("timestamp_ntz")
        wend = F.col(ts_col)
    r = requests.select(
        F.col(request_id).cast("string").alias("_rid"),
        F.col(entity_col).alias("_ruid"),
        wend.alias("_wend"),
        wstart.alias("_wstart"),
    )
    e = hk.alias("e")
    cond = (F.col(f"e.{entity_col}") == F.col("_ruid")) & (
        F.col("e.local_end").between(F.col("_wstart"), F.col("_wend"))
        | F.col("e.local_start").between(F.col("_wstart"), F.col("_wend"))
    )
    tagged = r.join(e, cond, "inner")
    cols = [c for c in hk.columns if c != "user_id"]
    return tagged.select(
        F.col("_rid").alias("user_id"),
        F.col("_ruid").alias("orig_user_id"),
        "_wstart",
        "_wend",
        *[F.col(f"e.{c}") for c in cols],
    )


# ---------------------------------------------------------------------------
# Arrow kernel wrappers (K1/K9)
# ---------------------------------------------------------------------------

def lomb_scargle_vital_features(
    hk: DataFrame,
    vital_type: str,
    vital_range: tuple[float, float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """K9 per group: 4 spectral features from the raw (not binned) vital
    series (generate_features.py:102-125)."""
    keys = group_cols or ["user_id"]
    vital = (
        hk.filter(F.col("type") == vital_type)
        .select(*keys, "local_start", F.col("value_num").alias("v"))
        .filter(F.col("v").between(*vital_range))
        .dropna(subset=["v", "local_start"])
        # the one exchange: serves the dedup and the grouped kernel below
        .repartition(*keys)
        .dropDuplicates([*keys, "v", "local_start"])
    )
    prefix = f"{vital_type}_"
    schema = T.StructType(
        [vital.schema[k] for k in keys]
        + [
            T.StructField(f"{prefix}{c}", T.DoubleType(), True)
            for c in ["spectral_entropy", "peak_period", "max_autocorr_lag", "decay_rate"]
        ]
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = pdf["local_start"].min()
        hours = (
            (pdf["local_start"] - t0) / pd.Timedelta(hours=1)
        ).astype(float)
        order = np.argsort(hours.to_numpy(), kind="stable")
        feats = kernels.lomb_scargle_features(
            hours.to_numpy()[order], pdf["v"].to_numpy()[order]
        )
        if feats is None:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row.update({f"{prefix}{k}": [v] for k, v in feats.items()})
        return pd.DataFrame(row)

    return vital.groupBy(*keys).applyInPandas(kern, schema)


def circadian_vital_features(
    hk: DataFrame,
    vital_type: str,
    group_cols: list[str] | None = None,
    resample_hours: float = 1.0,
    column_suffix: str = "",
) -> DataFrame:
    """K1 per group: cosinor fit over hourly-median bins (>=3 bins),
    feature names {vital}_circadian_{param} (simple_features.py:904-922)."""
    keys = group_cols or ["user_id"]
    bucket_s = int(resample_hours * 3600)
    hourly = (
        hk.filter(F.col("type") == vital_type)
        .select(*keys, "local_start", F.col("value_num").alias("v"))
        # the one exchange: serves the dedup, the hourly bins and the fit
        .repartition(*keys)
        .dropDuplicates([*keys, "local_start", "v"])
        .groupBy(
            *keys,
            F.floor(
                F.unix_micros(F.col("local_start").cast("timestamp")) / (bucket_s * 1e6)
            ).alias("_hb"),
        )
        .agg(F.median("v").alias("m"))
    )
    prefix = f"{vital_type}_circadian_"
    names = [f"{prefix}{p}{column_suffix}" for p in
             ["mesor", "amplitude", "acrophase", "period"]]
    schema = T.StructType(
        [hourly.schema[k] for k in keys]
        + [T.StructField(n, T.DoubleType(), True) for n in names]
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_hb")
        if len(pdf) < 3:
            return pd.DataFrame(columns=[f.name for f in schema.fields])
        t = (pdf["_hb"].to_numpy() - pdf["_hb"].iloc[0]) * resample_hours
        params = kernels.fit_cosinor(t.astype(float), pdf["m"].to_numpy(float))
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row.update({n: [float(p)] for n, p in zip(names, params)})
        return pd.DataFrame(row)

    return hourly.groupBy(*keys).applyInPandas(kern, schema)


# ---------------------------------------------------------------------------
# E1: point-in-time feature generation over a requests table
# ---------------------------------------------------------------------------

def generate_hk_features(
    hk: DataFrame,
    requests: DataFrame,
    request_id: str = "request_id",
    with_lomb_scargle: bool = True,
) -> DataFrame:
    """E1 (generate_features.py:49-161) for ALL requests in one job.

    Requests whose window holds no events emit nothing (reference returns
    an empty frame for them). Output: one wide row per request, keyed by
    (request_id, user_id, survey_start).
    """
    tagged = slice_requests(hk, requests, request_id=request_id).cache()
    keys = ["user_id"]  # request id in the user_id slot

    frames: list[DataFrame] = [
        aggregate_daily_sleep(tagged, sleep_features=E1_SLEEP_AGGREGATIONS),
        aggregate_sleep_categories(tagged),
    ]
    for t in ACTIVITY_TYPES_E1:
        frames.append(
            aggregate_active_duration(tagged, t, resample_hours=24.0, qc=True)
        )
    for ctx in ["all", "bedrest"]:
        frames.append(aggregate_audio_exposure(tagged, context=ctx))
    for vital_type, rng in VITAL_RANGES.items():
        for ctx in ["all", "bedrest"]:
            frames.append(
                aggregate_vital(
                    tagged, vital_type, vital_range=rng, context=ctx,
                    linear_time_aggregations=True,
                )
            )
    if with_lomb_scargle:
        for vital_type, rng in VITAL_RANGES.items():
            frames.append(lomb_scargle_vital_features(tagged, vital_type, rng))

    # QC block (generate_features.py:139-152)
    watch = watch_on_stats(tagged, "_wstart", "_wend", group_cols=keys).select(
        "user_id",
        F.col("watch_on_percent").alias("QC_watch_on_percent"),
        F.col("watch_on_hours").alias("QC_watch_on_hours"),
    )
    qc_scalars = tagged.groupBy(*keys).agg(
        F.first("orig_user_id").alias("_orig_user_id"),
        F.first("_wend").alias("survey_start"),
        (
            (
                F.unix_micros(F.max("local_start").cast("timestamp"))
                - F.unix_micros(F.min("local_start").cast("timestamp"))
            ) / 8.64e10
        ).alias("QC_duration_days"),
        F.count_distinct(F.to_date("local_start")).cast("double").alias("QC_ndates"),
        (
            (
                F.unix_micros(F.max("_wend").cast("timestamp"))
                - F.unix_micros(F.max("_wstart").cast("timestamp"))
            ) / 8.64e10
        ).alias("QC_expected_duration_days"),
    )

    wide = functools.reduce(
        lambda a, b: a.join(b, keys, "full_outer"), frames, qc_scalars
    )
    wide = wide.join(watch, keys, "left").fillna(
        {"QC_watch_on_percent": 0.0, "QC_watch_on_hours": 0.0}
    )
    return (
        wide.withColumnRenamed("user_id", request_id)
        .withColumnRenamed("_orig_user_id", "user_id")
    )


# ---------------------------------------------------------------------------
# E2: daily feature table
# ---------------------------------------------------------------------------

def _daily_vitals(hk: DataFrame, vital_type: str, with_models: bool) -> DataFrame:
    day = F.date_trunc("DAY", "local_start").alias("_day")
    hk_day = hk.withColumn("_day", F.date_trunc("DAY", "local_start"))
    out = aggregate_vital(
        hk_day,
        vital_type,
        group_cols=["user_id", "_day"],
        standard_aggregations=["mean", "median", "std", "min", "max"],
        linear_time_aggregations=with_models,
        column_suffix="_day",
    )
    if with_models:
        circ = circadian_vital_features(
            hk_day, vital_type, group_cols=["user_id", "_day"], column_suffix="_day"
        )
        out = out.join(circ, ["user_id", "_day"], "full_outer")
    return out.withColumn("date", F.to_date("_day")).drop("_day")


def _dense_daily(
    per_day: DataFrame, zero_cols: list[str], keys=("user_id",)
) -> DataFrame:
    """Dense day spine between each entity's first/last active day with
    zero-fill (pandas resample emits zero rows for empty days)."""
    spine = (
        per_day.groupBy(*keys)
        .agg(F.min("date").alias("_d0"), F.max("date").alias("_d1"))
        .select(*keys, F.explode(F.sequence("_d0", "_d1")).alias("date"))
    )
    dense = spine.join(per_day, [*keys, "date"], "left")
    return dense.fillna({c: 0.0 for c in zero_cols if c in dense.columns})


def _daily_sleep_categories(hk: DataFrame) -> DataFrame:
    """aggregateSleepCategoriesDaily (simple_features_daily.py:198-247):
    3pm-anchored per-user day bins, overlap-combine WITHIN each bin, then
    per-stage stats; date = bin + 1 day."""
    from pyspark.sql import Window

    from mhealth_spark.intervals import combine_overlaps_sleep
    from mhealth_spark.sleep import _noon_bin

    sleep_binned = (
        hk.filter(F.col("type") == "SleepAnalysis")
        .select("user_id", "local_start", "local_end", "value", "type")
        .withColumn(
            "value", F.regexp_replace("value", "HKCategoryValueSleepAnalysis", "")
        )
    )
    w = Window.partitionBy("user_id")
    origin = F.date_trunc("DAY", F.min("local_start").over(w)) + F.expr(
        "INTERVAL 15 HOURS"
    )
    sleep_binned = (
        sleep_binned.withColumn("_origin", origin)
        .withColumn("bin", _noon_bin("local_start", "_origin"))
        .drop("_origin")
    )
    sleep_binned = combine_overlaps_sleep(
        sleep_binned, value_col="value", group_cols=("user_id", "bin")
    )
    sleep_cats = aggregate_sleep_categories(
        sleep_binned, group_cols=["user_id", "bin"], pre_bucketed=True
    )
    return sleep_cats.withColumn(
        "date", F.to_date(F.col("bin") + F.expr("INTERVAL 1 DAY"))
    ).drop("bin")


def collect_all_daily_features(hk: DataFrame) -> DataFrame:
    """E2 (simple_features_daily.py:18-86): 9-way outer-join daily table
    keyed (user_id, date)."""
    keys = ["user_id", "date"]

    hr = _daily_vitals(hk, "HeartRate", with_models=True)
    hrv = _daily_vitals(hk, "HeartRateVariabilitySDNN", with_models=True)
    rr = _daily_vitals(hk, "RespiratoryRate", with_models=False)
    o2 = _daily_vitals(hk, "OxygenSaturation", with_models=False)
    watch = watch_on_hours_daily(hk)

    hk_day = hk.withColumn("_day", F.date_trunc("DAY", "local_start"))

    def daily_activity(t):
        per_day = aggregate_active_duration(
            hk_day, t, group_cols=["user_id", "_day"], resample_hours=1.0
        ).withColumn("date", F.to_date("_day")).drop("_day")
        zero = [f"{t}_sum", f"{t}_count", f"{t}_duration"]
        return _dense_daily(per_day, zero)

    active_energy = daily_activity("ActiveEnergyBurned")
    steps = daily_activity("StepCount")

    audio_day = aggregate_audio_exposure(
        hk_day, group_cols=["user_id", "_day"]
    ).withColumn("date", F.to_date("_day")).drop("_day")
    audio_day = _dense_daily(
        audio_day,
        ["audioExposure_hours", "audioExposure_count", "audioExposure_entries"],
    )

    sleep_cats = _daily_sleep_categories(hk)
    sleep_annot = daily_sleep_features(hk)

    frames = [hrv, rr, o2, watch, sleep_cats, active_energy, sleep_annot,
              audio_day, steps]
    return functools.reduce(
        lambda a, b: a.join(b, keys, "full_outer"), frames, hr
    )
