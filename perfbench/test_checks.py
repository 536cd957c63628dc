"""Each output check passes on a correct output and fails on a perturbed one;
the event-log folder attributes tasks to job groups; BENCHMARK.json names
exactly the metrics the benchmark prints.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
from mhealth_spark import kernels, synth  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def test_oracle_check_rejects_changed_value_and_missing_row():
    a = pd.DataFrame({"k": ["x", "y"], "v": [1.5, 2.0], "n": [1, 2]})
    shuffled = a.iloc[::-1].reset_index(drop=True)
    assert checks.oracle_problems(a, shuffled) == []
    b = a.copy()
    b.loc[1, "v"] = 2.001
    assert checks.oracle_problems(a, b)
    c = a.copy()
    c.loc[0, "n"] = 7
    assert checks.oracle_problems(a, c)
    assert checks.oracle_problems(a.iloc[:1], a)
    assert checks.oracle_problems(a.rename(columns={"v": "w"}), a)


def test_row_hash_check_rejects_changed_dropped_and_duplicated_rows():
    exp = pd.DataFrame({"doc_id": ["d1", "d2", "d3"], "h": [11, 22, 33]})
    assert checks.row_hash_problems(exp.sample(frac=1, random_state=0), exp) == []
    changed = exp.assign(h=[11, 22, 34])
    assert checks.row_hash_problems(changed, exp)
    assert checks.row_hash_problems(exp.iloc[:2], exp)
    dup = pd.concat([exp.iloc[:2], exp.iloc[:1]])
    assert checks.row_hash_problems(dup, exp)


def test_resume_check_rejects_rewrites_and_short_writes():
    first = {"written": 16, "skipped": 0, "rows": 100, "bytes": 5}
    second = {"written": 0, "skipped": 16, "rows": 0, "bytes": 0}
    assert checks.resume_problems(first, second, 100, 16) == []
    assert checks.resume_problems(first, {**second, "written": 1, "skipped": 15}, 100, 16)
    assert checks.resume_problems({**first, "rows": 99}, second, 100, 16)


def _events():
    t0 = dt.datetime(2024, 1, 1)
    rows = [("u0", t0 + dt.timedelta(hours=h), "HeartRate", 60.0 + h) for h in range(3)]
    rows += [("u0", t0 + dt.timedelta(days=1, hours=h), "HeartRate", 70.0 - h) for h in range(2)]
    return pd.DataFrame(rows, columns=["user_id", "local_start", "type", "value_num"])


def test_daily_vital_check_rejects_wrong_extreme_and_duplicate_day():
    daily = pd.DataFrame({
        "user_id": ["u0", "u0"],
        "date": [dt.date(2024, 1, 1), dt.date(2024, 1, 2)],
        "HeartRate_min_day": [60.0, 69.0],
        "HeartRate_max_day": [62.0, 70.0],
    })
    assert checks.daily_vital_problems(daily, _events(), "HeartRate") == []
    wrong = daily.assign(HeartRate_max_day=[62.0, 70.5])
    assert checks.daily_vital_problems(wrong, _events(), "HeartRate")
    assert checks.daily_vital_problems(daily.iloc[:1], _events(), "HeartRate")
    assert checks.daily_vital_problems(pd.concat([daily, daily]), _events(), "HeartRate")


def test_eventlog_fold_attributes_tasks_to_job_groups():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 3_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 500_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor CPU Time": 7}},
    ]
    out = eventlog.fold(json.dumps(x) for x in lines)
    assert out["a"] == {"n_jobs": 1, "task_cpu_s": 2.0, "shuffle_mb": 1.0, "spill_mb": 3.0}
    assert out["b"]["n_jobs"] == 1 and out["b"]["task_cpu_s"] == pytest.approx(0.5)
    assert set(out) == {"a", "b"}


def test_generated_inputs_are_seeded():
    a, b = inputs.documents_table(120, 3), inputs.documents_table(120, 3)
    assert a.equals(b) and not a.equals(inputs.documents_table(120, 4))
    texts = a.column("text").to_pylist()
    assert texts[49] == texts[48]  # planted exact duplicate
    e = inputs.embeddings_table(40, 3)
    assert e.equals(inputs.embeddings_table(40, 3)) and e.num_rows == 40


def test_benchmark_json_names_what_run_prints():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert len(spec["per_layer"]) == len(set(run.per_layer_names()))
    res = {"setup_s": 1.0, "setup_cpu_s": 1.5, "passes": [2.0], "cpu": [3.0],
           "n_rows": 10, "attempted": 2, "failed": 0}
    assert [m["name"] for m in spec["end_to_end"]] == list(run.end_to_end(res))


def test_session_check_rejects_lost_docs_tokens_and_inverted_session():
    t = pd.Timestamp("2024-01-01")
    s = pd.DataFrame({"writer_id": ["w1", "w1", "w2"], "session_id": [0, 1, 0],
                      "n_docs": [2, 1, 3], "session_tokens": [10, 5, 7],
                      "session_start": [t] * 3, "session_end": [t + pd.Timedelta(hours=1)] * 3})
    assert checks.session_problems(s, 6, 22) == []
    assert checks.session_problems(s.iloc[1:], 6, 22)
    assert checks.session_problems(s.assign(session_tokens=[10, 5, 8]), 6, 22)
    assert checks.session_problems(s.assign(session_end=[t - pd.Timedelta(1, "s")] * 3), 6, 22)
    assert checks.session_problems(pd.concat([s.iloc[:1], s.iloc[:1]]).assign(
        n_docs=[3, 3], session_tokens=[11, 11]), 6, 22)


def _hk(days=3, seed=0):
    events = synth.synth_healthkit(2, days, seed)
    requests = inputs.requests_frame(6, 2, days, seed, synth.EPOCH)
    return events, requests


def test_slice_reference_and_check():
    t = pd.Timestamp("2024-01-03 12:00")
    ev = pd.DataFrame({
        "user_id": ["u0"] * 4 + ["u1"],
        "local_start": [t - pd.Timedelta(hours=h) for h in (2, 30, 1, -1)] + [t],
        "local_end": [t - pd.Timedelta(hours=h) for h in (1, 23, 0, -2)] + [t],
    })
    req = pd.DataFrame({"request_id": [7], "user_id": ["u0"], "ts": [t],
                        "lookback_hours": [24.0]})
    ref = checks.slice_events(ev, req)
    # inside, ends inside the window, ends at ts; not: after ts, other user
    assert len(ref) == 3 and set(ref["request_id"]) == {7}
    got = ref[["local_start", "_wend"]]
    assert checks.slice_problems(got, ref) == []
    assert checks.slice_problems(got.iloc[1:], ref)
    leak = got.assign(local_start=got["local_start"] + pd.Timedelta(hours=5))
    assert checks.slice_problems(leak, ref)


def test_lomb_scargle_reference_matches_kernel_and_check_rejects_changes():
    events, requests = _hk()
    sliced = checks.slice_events(events, requests)
    ref = checks.lomb_scargle_reference(sliced, "HeartRate", (30.0, 200.0))
    assert len(ref) > 0
    g = sliced[(sliced["request_id"] == int(ref["user_id"].iloc[0]))
               & (sliced["type"] == "HeartRate")].sort_values("local_start")
    t = ((g["local_start"] - g["local_start"].iloc[0]) / pd.Timedelta(hours=1)).to_numpy()
    feats = kernels.lomb_scargle_features(t, g["value_num"].to_numpy())
    assert feats["spectral_entropy"] == pytest.approx(ref["HeartRate_spectral_entropy"].iloc[0])
    assert feats["peak_period"] == pytest.approx(ref["HeartRate_peak_period"].iloc[0])
    assert feats["max_autocorr_lag"] == ref["HeartRate_max_autocorr_lag"].iloc[0]
    out = ref.assign(HeartRate_decay_rate=1.0)
    assert checks.lomb_scargle_problems(out, sliced, "HeartRate", (30.0, 200.0)) == []
    bad = out.copy()
    bad.loc[0, "HeartRate_spectral_entropy"] *= 1.001
    assert checks.lomb_scargle_problems(bad, sliced, "HeartRate", (30.0, 200.0))
    assert checks.lomb_scargle_problems(out.iloc[1:], sliced, "HeartRate", (30.0, 200.0))


def test_circadian_check_rejects_changed_fit_and_missing_day():
    events, _ = _hk()
    out = checks.circadian_reference(events, "HeartRate", "_day")
    assert len(out) == 6
    assert checks.circadian_problems(out, events, "HeartRate", "_day") == []
    bad = out.copy()
    bad.iloc[0, 2] += 0.01
    assert checks.circadian_problems(bad, events, "HeartRate", "_day")
    assert checks.circadian_problems(out.iloc[1:], events, "HeartRate", "_day")


def test_activity_check_rejects_changed_totals():
    d1, d2 = pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")
    h = pd.Timedelta(hours=1)
    ev = pd.DataFrame({
        "user_id": ["u0"] * 4, "type": ["StepCount"] * 4,
        "device_name": ["Apple Watch"] * 4, "quantity_count": [1] * 4,
        # day 1: disjoint intervals in two hours; day 2: overlapping pair
        "local_start": [d1 + 9 * h, d1 + 11 * h, d2 + 10 * h, d2 + 10.25 * h],
        "local_end": [d1 + 9.5 * h, d1 + 11.5 * h, d2 + 10.5 * h, d2 + 10.75 * h],
        "value_num": [100.0, 200.0, 100.0, 200.0],
    })
    out = pd.DataFrame({
        "user_id": ["u0", "u0"], "_day": [d1, d2],
        "StepCount_sum": [300.0, 225.0], "StepCount_mean": [150.0, 225.0],
        "StepCount_count": [2.0, 1.0], "StepCount_duration": [1.0, 0.75],
    })
    assert checks.activity_problems(out, ev, "StepCount") == []
    assert checks.activity_problems(out.assign(StepCount_sum=[301.0, 225.0]), ev, "StepCount")
    assert checks.activity_problems(out.assign(StepCount_count=[1.0, 1.0]), ev, "StepCount")
    assert checks.activity_problems(out.assign(StepCount_sum=[300.0, 400.0]), ev, "StepCount")
    assert checks.activity_problems(out.iloc[:1], ev, "StepCount")


def test_e1_check_rejects_changed_value_user_and_missing_request():
    events, requests = _hk()
    sliced = checks.slice_events(events, requests)
    ref = checks.e1_reference(sliced, requests)
    out = ref.rename(columns={"ts": "survey_start"}).assign(StepCount_sum=1.0)
    assert checks.e1_problems(out, ref) == []
    bad = out.copy()
    bad.loc[0, "HeartRate_max"] += 1.0
    assert checks.e1_problems(bad, ref)
    assert checks.e1_problems(out.assign(user_id="u9"), ref)
    assert checks.e1_problems(out.iloc[1:], ref)


def test_per_layer_reports_other_workloads_phases_as_zero_and_needs_its_own():
    worker = run._worker_module()
    res = {"wall": {p: 1.0 for p in worker.PHASES["hk_cohort"]},
           "build": {p: 0.5 for p in worker.PHASES["hk_cohort"]},
           "groups": {}, "setup_s": 30.0, "warmup_s": 5.0, "passes": [2.0],
           "peak_rss_mb": 900.0, "extra": {}}
    m = run.per_layer(res, "hk_cohort")
    assert list(m) == run.per_layer_names()
    assert m["features.slice_requests.wall_s"][0] == 1.0
    assert m["tokens_engine.training_set.wall_s"][0] == 0
    del res["wall"]["features.slice_requests"]
    with pytest.raises(SystemExit):
        run.per_layer(res, "hk_cohort")
