"""Persisted bucketed entity layout: plan-level proof that windows over a
``write_bucketed_layout`` table run with NO Exchange (and, with
``sorted_bucket_scan``, no Sort), plus value parity with the plain path.

This is the durable form of the engine's layout contract (SURVEY §4:
one entity exchange per plan): pay the entity shuffle once at write time,
then every window / as-of / sessionize pass over 10^12 rows is
exchange-free. Reference analogue: the reference re-sorts per call
(``simple_features.py:257,663,740``); here the sort lives in the table.
"""

from __future__ import annotations

import re

import pytest

from mhealth_spark.source import (
    register_bucketed_layout,
    sorted_bucket_scan,
    write_bucketed_layout,
)
from mhealth_spark.synth import synth_tokens
from mhealth_spark.tokens_engine import feature_vectors

SCHEMA_DDL = "doc_id STRING, writer_id STRING, ts TIMESTAMP_NTZ, n_tok INT"


@pytest.fixture(scope="module")
def layout_table(spark):
    tk = synth_tokens(spark, 20_000, seed=7).select(
        "doc_id", "writer_id", "ts", "n_tok"
    )
    write_bucketed_layout(tk, "tk_layout_test", buckets=8)
    yield "tk_layout_test"
    spark.sql("DROP TABLE IF EXISTS tk_layout_test")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_window_elides_exchange_and_sort(spark, layout_table):
    sorted_bucket_scan(spark, True)
    try:
        out = feature_vectors(spark.table(layout_table))
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        assert not re.search(r"\bSort\b", plan), plan
        assert "Bucketed: true" in plan
    finally:
        sorted_bucket_scan(spark, False)


def test_bucketed_window_value_parity(spark, layout_table):
    tk = synth_tokens(spark, 20_000, seed=7).select(
        "doc_id", "writer_id", "ts", "n_tok"
    )
    plain = sorted(map(tuple, feature_vectors(tk).collect()))
    sorted_bucket_scan(spark, True)
    try:
        bucketed = sorted(
            map(tuple, feature_vectors(spark.table(layout_table)).collect())
        )
    finally:
        sorted_bucket_scan(spark, False)
    assert plain == bucketed
    assert len(plain) == 20_000


def test_plain_window_pays_the_exchange_bucketed_does_not(spark, layout_table):
    # the control: same query off plain parquet-shaped input carries one
    # hash exchange; the bucketed layout carries zero
    tk = synth_tokens(spark, 20_000, seed=7).select(
        "doc_id", "writer_id", "ts", "n_tok"
    )
    assert "Exchange" in _plan(feature_vectors(tk))
    assert "Exchange" not in _plan(feature_vectors(spark.table(layout_table)))


def test_bucketed_sessionize_whole_plan_exchange_free(spark, layout_table):
    # window (clustering on entity) AND session rollup groupBy
    # (clustering on (entity, session_id) ⊇ entity) both ride the layout
    from mhealth_spark.tokens_engine import sessionized

    out = sessionized(spark.table(layout_table))
    assert "Exchange" not in _plan(out), _plan(out)
    # value parity with the plain-input path
    tk = synth_tokens(spark, 20_000, seed=7).select(
        "doc_id", "writer_id", "ts", "n_tok"
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, sessionized(tk).collect()))
    assert a == b


def test_plain_sessionize_single_hash_exchange(spark, tmp_path):
    # plain parquet input: the session window's hash exchange feeds the
    # rollup too — exactly one Exchange, and no range partitioning (so
    # no sampling job)
    from mhealth_spark.tokens_engine import sessionized

    path = str(tmp_path / "tk.parquet")
    synth_tokens(spark, 2_000, seed=7).select(
        "doc_id", "writer_id", "ts", "n_tok"
    ).write.parquet(path)
    plan = _plan(sessionized(spark.read.parquet(path)))
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "hashpartitioning(writer_id" in plan, plan
    assert not re.search("rangepartitioning", plan, re.I), plan


def test_trailing_time_features_bucketed_exchange_free(spark, layout_table):
    from mhealth_spark.tokens_engine import trailing_time_features

    assert "Exchange" not in _plan(
        trailing_time_features(spark.table(layout_table))
    )


def test_colocated_join_of_two_bucketed_tables_exchange_free(spark, layout_table):
    # the co-partitioned join pattern: feature output written back into
    # the SAME bucketing joins against the corpus with zero exchange
    import pyspark.sql.functions as F

    # per-writer rollup off the bucketed table (groupBy rides the layout),
    # persisted in the SAME bucketing — the join key must EQUAL the bucket
    # columns for the co-located scan (a strict superset disables it)
    stats = (
        spark.table(layout_table)
        .groupBy("writer_id")
        .agg(F.sum("n_tok").alias("writer_tokens"))
    )
    write_bucketed_layout(
        stats, "tk_layout_feats", buckets=8,
        ts_col="writer_id", tiebreak_col="writer_id",
    )
    try:
        # hint MERGE: at real scale both sides are huge and SMJ is the
        # planner's choice; broadcast (picked for this tiny table) would
        # bypass — not exercise — the co-located path
        joined = spark.table(layout_table).hint("MERGE").join(
            spark.table("tk_layout_feats"), ["writer_id"]
        )
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 20_000
    finally:
        spark.sql("DROP TABLE IF EXISTS tk_layout_feats")


def test_register_existing_layout_keeps_bucketing(spark, layout_table):
    # find where the managed table lives, then register an EXTERNAL table
    # over the same files (the cross-process path: in-memory catalogs die
    # with the session, the data files do not)
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {layout_table}")
        .where("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    register_bucketed_layout(
        spark, "tk_layout_ext", loc, SCHEMA_DDL, buckets=8
    )
    try:
        plan = _plan(feature_vectors(spark.table("tk_layout_ext")))
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        n = spark.table("tk_layout_ext").count()
        assert n == 20_000
    finally:
        # external table: drop removes only the catalog entry
        spark.sql("DROP TABLE IF EXISTS tk_layout_ext")


def test_new_feature_ops_plan_shapes(spark, layout_table):
    """Scale-discipline audit for the round-3 feature ops: entity-keyed
    window ops ride the bucketed layout exchange-free; grid ops carry
    exactly their two bounded exchanges (partial rollup + grid window);
    purged_folds is a pure map after its 2-value collect."""
    from mhealth_spark.tokens_engine import (
        contrastive_positives,
        expanding_entity_stats,
        purged_folds,
        trailing_correlation,
        trailing_quantiles,
    )

    sorted_bucket_scan(spark, True)
    try:
        for op in (trailing_quantiles, expanding_entity_stats,
                   contrastive_positives):
            plan = _plan(op(spark.table(layout_table)))
            assert "Exchange" not in plan, (op.__name__, plan)
    finally:
        sorted_bucket_scan(spark, False)

    tk = synth_tokens(spark, 5_000, seed=7)
    plan = _plan(trailing_correlation(tk))
    assert plan.count("Exchange") == 2, plan  # rollup + grid window
    assert plan.count("Scan parquet") <= 1, plan

    plan = _plan(purged_folds(tk))
    assert "Exchange" not in plan, plan  # literals + pure map


def test_multilabel_grid_adds_no_exchange(spark):
    """Every extra label horizon is one more leading window over the
    SAME grid partitioning — the exchange count must not grow."""
    from mhealth_spark.tokens_engine import training_set_grid

    tk = synth_tokens(spark, 5_000, seed=7)
    base = _plan(training_set_grid(tk)).count("Exchange")
    multi = _plan(
        training_set_grid(tk, extra_label_horizons=(1, 6))
    ).count("Exchange")
    assert multi == base, (base, multi)


@pytest.mark.parametrize("op", ["aggregate_vital", "circadian", "lomb_scargle"])
def test_vital_aggregate_single_hash_exchange(spark, op):
    # the up-front repartition on the group keys serves the dedup, the
    # (keys, hour) median, the per-group aggregate and the Arrow kernel:
    # one hash exchange per plan
    import pyspark.sql.functions as F

    from mhealth_spark.features import (
        circadian_vital_features,
        lomb_scargle_vital_features,
    )
    from mhealth_spark.schema import VITAL_RANGES
    from mhealth_spark.synth import hk_to_spark, synth_healthkit
    from mhealth_spark.vitals import aggregate_vital

    hk = hk_to_spark(spark, synth_healthkit(n_users=2, days=2, seed=3))
    hk_day = hk.withColumn("_day", F.date_trunc("DAY", "local_start"))
    keys = ["user_id", "_day"]
    out = {
        "aggregate_vital": lambda: aggregate_vital(hk_day, "HeartRate", group_cols=keys),
        "circadian": lambda: circadian_vital_features(hk_day, "HeartRate", group_cols=keys),
        "lomb_scargle": lambda: lomb_scargle_vital_features(
            hk, "HeartRate", VITAL_RANGES["HeartRate"]
        ),
    }[op]()
    plan = _plan(out)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
