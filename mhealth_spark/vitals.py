"""Vital-sign aggregation (SURVEY §2.6 A1/A10, reference
``simple_features.py:790-924``) as native two-level aggregation:
context gate → hourly median bins → corrected stats + closed-form OLS.

The vital rows are hash-partitioned on the group keys once, up front:
that one exchange also serves the dedup, the ``(keys, hour)`` median and
the final per-group aggregate, whose keys are all supersets of it.

One ``group_cols`` parameter serves all three reference entry points:
``["user_id"]`` (batch/per-request slice), ``["user_id", "day"]``
(``aggregateVitalsDaily``), ``["request_id", ...]`` (point-in-time E1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mhealth_spark.aggregates import corrected_kurtosis, corrected_skewness
from mhealth_spark.schema import (
    ASLEEP_CATEGORIES,
    IN_BED_CATEGORIES,
    VITAL_RANGES,
)

VITAL_TYPES = [
    "HeartRate",
    "HeartRateVariabilitySDNN",
    "RespiratoryRate",
    "OxygenSaturation",
]

STANDARD_AGGREGATIONS = [
    "mean",
    "std",
    "min",
    "max",
    "count",
    "median",
    "skew",
    "kurtosis",
]


def context_periods(hk: DataFrame, context: str, keys: list[str]) -> DataFrame:
    """Period intervals for a gating context (simple_features.py:827-839).

    sleep == bedrest == SleepAnalysis rows with stage in ASLEEP ∪ IN_BED;
    active == AppleExerciseTime rows.
    """
    if context in ("sleep", "bedrest", "non-sleep rest:sleep"):
        cond = (F.col("type") == "SleepAnalysis") & (
            F.col("value").isin(ASLEEP_CATEGORIES)
            | F.col("value").isin(IN_BED_CATEGORIES)
        )
    elif context == "active":
        cond = F.col("type") == "AppleExerciseTime"
    else:
        raise ValueError(f"unknown context {context!r}")
    return (
        hk.filter(cond)
        .select(
            *keys,
            F.col("local_start").alias("period_start"),
            F.col("local_end").alias("period_end"),
        )
        .dropDuplicates()
    )


def _gate(vital: DataFrame, periods: DataFrame, keys: list[str], anti: bool) -> DataFrame:
    """Keep (or drop) vital rows whose start lies inside any period.

    Inner/anti join on the group keys plus the range predicate. The
    reference CONCATENATES per-period matches (duplicates when periods
    overlap, simple_features.py:862-873) — preserved via a unique period
    identity in the dedup key; identical period rows were already deduped.
    """
    v = vital.alias("v")
    p = periods.withColumn("_pid", F.monotonically_increasing_id()).alias("p")
    cond = [F.col(f"v.{k}") == F.col(f"p.{k}") for k in keys] + [
        F.col("v.local_start") >= F.col("p.period_start"),
        F.col("v.local_start") <= F.col("p.period_end"),
    ]
    if anti:
        return v.join(p, cond, "left_anti")
    matched = v.join(p, cond, "inner").select("v.*", "p._pid")
    # one output row per (vital row, period row) pair — mirrors pd.concat
    return matched.drop("_pid")


def aggregate_vital(
    hk: DataFrame,
    vital_type: str,
    group_cols: list[str] | None = None,
    standard_aggregations: list[str] | None = None,
    linear_time_aggregations: bool = True,
    vital_range: tuple[float, float] | None = None,
    context: str = "all",
    resample_hours: float = 1.0,
    column_suffix: str = "",
) -> DataFrame:
    """A1: hourly-median bins → corrected stats (+ OLS slope/intercept).

    Column names: ``{vital_type}_{context_str}{stat}{column_suffix}``.
    """
    if vital_type not in VITAL_TYPES:
        raise NotImplementedError(f"Vital type {vital_type} not implemented")
    keys = group_cols or ["user_id"]
    stats = standard_aggregations or STANDARD_AGGREGATIONS

    vital = (
        hk.filter(F.col("type") == vital_type)
        .select(*keys, "local_start", F.col("value_num").alias("v"))
        .repartition(*keys)
        .dropDuplicates()
    )
    context_str = ""
    if context != "all":
        if context == "non-sleep rest":
            context_str = "nonsleep-rest_"
            sleep_p = context_periods(hk, "sleep", keys)
            active_p = context_periods(hk, "active", keys)
            excl = sleep_p.unionByName(active_p)
            vital = _gate(vital, excl, keys, anti=True)
        else:
            context_str = f"{context}_"
            periods = context_periods(hk, context, keys)
            vital = _gate(vital, periods, keys, anti=False)

    if vital_range is not None:
        vital = vital.filter(F.col("v").between(*vital_range))

    # hourly (epoch-aligned) median bins — two-level agg on the keys'
    # partitioning, no shuffle of its own
    bucket_s = int(resample_hours * 3600)
    hourly = vital.groupBy(
        *keys,
        (F.floor(F.unix_micros(F.col("local_start").cast("timestamp")) / (bucket_s * 1e6)))
        .alias("_hb"),
    ).agg(F.median("v").alias("m"))

    c = F.col("m")
    n = F.count(c)
    prefix = f"{vital_type}_{context_str}"
    exprs = {
        "mean": F.mean(c),
        "std": F.stddev_samp(c),
        "min": F.min(c),
        "max": F.max(c),
        "count": n.cast("double"),
        "median": F.median(c),
        "skew": corrected_skewness(c, n),
        "kurtosis": corrected_kurtosis(c, n),
    }
    aggs = [exprs[s].alias(f"{prefix}{s}{column_suffix}") for s in stats]

    if linear_time_aggregations:
        # OLS on x = hours since FIRST non-empty bin (pandas sets x0=0
        # there; the shift only moves the intercept) — closed form with
        # covariance algebra, n>=3 guard like the reference (:892-893).
        nb = F.count(c)
        mean_hb = F.avg(F.col("_hb").cast("double"))
        cov = F.covar_samp(F.col("_hb").cast("double"), c)
        var = F.var_samp(F.col("_hb").cast("double"))
        slope_per_bin = cov / var
        slope = slope_per_bin / resample_hours  # per hour
        # intercept at x=0 (first bin): mean(y) - slope_h * mean(x_hours)
        mean_x_hours = (mean_hb - F.min(F.col("_hb").cast("double"))) * resample_hours
        intercept = F.avg(c) - slope * mean_x_hours
        aggs += [
            F.when(nb >= 3, intercept).alias(f"{prefix}intercept{column_suffix}"),
            F.when(nb >= 3, slope).alias(f"{prefix}slope{column_suffix}"),
        ]

    return hourly.groupBy(*keys).agg(*aggs)
