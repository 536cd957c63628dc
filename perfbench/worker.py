"""One benchmark run in a fresh process; ``run.py`` starts it.

Usage (normally only through run.py, which prepares the environment):

    python3 perfbench/worker.py --workload hk_cohort --seed 1 --seconds 20 \
        --trace 0 --work <dir> --result <file>

The process imports ``mhealth_spark`` from the checkout this file sits in
and refuses to run on any other copy. It builds the engine's session
(``setup_s``: CPU seconds of the process tree when ``get_spark`` returns,
wall seconds logged beside them), generates and caches the inputs before the clock, runs the
workload's clocked passes, checks every output outside the clock, reads
the process tree's peak RSS and writes one JSON result file.

With ``--trace 1`` it additionally runs each layer's public function on
its own under a Spark job group named after the phase (``PHASES``); the
event log is folded into per-phase counters by ``eventlog.py``.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402

MASTER = "local[4]"
PASS_S = 6.0  # about one clocked pass's wall time on a 4-vCPU host
HK_USERS, HK_DAYS, HK_REQUESTS = 5, 14, 100
HK_E1_REQUESTS = 20  # E1 runs on the first 20 requests
TOKENS_DOCS, BUCKETS = 20_000, 16
REGISTRY_DOCS, REGISTRY_VECS = 500, 500

PHASES = {
    "hk_cohort": [
        "features.generate_hk_features",
        "features.slice_requests",
        "vitals.aggregate_vital",
        "features.lomb_scargle_vital_features",
        "features.circadian_vital_features",
        "activity.aggregate_active_duration",
        "features.collect_all_daily_features",
    ],
    "tokens_pit": [
        "source.read_table",
        "tokens_engine.training_set",
        "tokens_engine.sessionized",
        "tokens_engine.row_features",
        "checkpoint.checkpointed_write",
        "checkpoint.checkpointed_write_resume",
    ],
    # no workload of its own (the run budget fits two workloads); the
    # pinned queries run inside the tokens_pit traced run
    "pipelines_registry": [
        "pipelines.dedup",
        "pipelines.similarity",
        "pipelines.corpus",
        "pipelines.bpe",
        "pipelines.text",
        "pipelines.multimodal",
    ],
}
# what each workload's traced run measures; it reports the rest as 0
OWNED = {
    "hk_cohort": set(PHASES["hk_cohort"]),
    "tokens_pit": set(PHASES["tokens_pit"] + PHASES["pipelines_registry"])
    | {"checkpoint.written_mb", "tokens_engine.scaling_eff_1to4"},
}
# one registry query per pipelines module
PINNED_QUERIES = [
    "dedup_minhash_lsh", "ann_kmeans_refine", "corpus_pack_greedy",
    "corpus_bpe_learn", "text_bm25_topk", "multimodal_decode_checksum",
]
_FAMILY = [("dedup_", "dedup"), ("ann_", "similarity"), ("corpus_bpe_", "bpe"),
           ("corpus_", "corpus"), ("text_", "text"), ("multimodal_", "multimodal")]


def query_phase(query: str) -> str:
    return "pipelines." + next(f for p, f in _FAMILY if query.startswith(p))


def log(msg: str) -> None:
    t = time.time() - float(os.environ["PERFBENCH_T0"])
    print(f"perfbench: [{t:6.1f} s] {msg}", file=sys.stderr, flush=True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.toPandas()


def _tree(pid: int) -> dict[int, str]:
    """``{pid: /proc/<pid>/stat}`` for ``pid`` and all its descendants (the
    driver Python, the JVM and the Python workers it forks)."""
    stats: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stats[int(name)] = fh.read()
            except OSError:
                continue
    parent = {p: int(st.rsplit(")", 1)[1].split()[1]) for p, st in stats.items()}
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return {p: stats[p] for p in tree if p in stats}


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds used so far by the process tree: each live
    process's own time plus that of its children it has reaped, so a
    process that exits (an idle Python worker, a launcher) keeps counting."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(
        sum(int(x) for x in f[11:15]) / tick
        for f in (st.rsplit(")", 1)[1].split() for st in _tree(pid).values())
    )


def steal_s() -> float:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK")


def tree_hwm_mb(pid: int) -> float:
    """Sum of ``VmHWM`` over the process tree of ``pid``."""
    kb = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                kb += next(
                    (int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return kb * 1024 / 1e6


class Run:
    """Clock, phases and check results of one run."""

    def __init__(self, spark, args):
        self.spark, self.args = spark, args
        self.trace = bool(args.trace)
        self.work = args.work
        self.wall: dict[str, float] = {}
        self.build: dict[str, float] = {}
        self.passes: list[float] = []
        self.cpu: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, float] = {}
        self.scaling: tuple[float, str] | None = None  # (local[4] seconds, table)

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def phase(self, name: str, build, force):
        """Time ``build()`` (the public call returning a DataFrame, eager
        jobs included) and ``force(df)``; accumulate both under ``name``."""
        self.group(name)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        out = force(df)
        t2 = time.perf_counter()
        self.group("perfbench.harness")
        self.build[name] = self.build.get(name, 0.0) + t1 - t0
        self.wall[name] = self.wall.get(name, 0.0) + t2 - t0
        log(f"{name} build {t1 - t0:.2f} s, wall {t2 - t0:.2f} s")
        return out

    def passes_for(self, one_pass):
        """Run one clocked pass per ``PASS_S`` of ``--seconds`` (one in a
        traced run); return the last pass's outputs. The count does not
        depend on how fast the host runs, so a slow stretch cannot change
        how many passes the median is taken over: the first pass is cold
        (JIT, codegen) and costs about twice the CPU of the next ones."""
        n = 1 if self.trace else max(1, round(self.args.seconds / PASS_S))
        for _ in range(n):
            t0 = time.perf_counter()
            c0, s0 = tree_cpu_s(os.getpid()), steal_s()
            out = one_pass()
            self.passes.append(time.perf_counter() - t0)
            self.cpu.append(tree_cpu_s(os.getpid()) - c0)
            log(f"pass {self.passes[-1]:.2f} s wall, {self.cpu[-1]:.2f} s cpu, "
                f"{steal_s() - s0:.2f} s steal")
        return out

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"check {name} FAILED: {problems}")


# --------------------------------------------------------------------------
# hk_cohort: the paper's HealthKit pipeline. The clock covers E1's per-request
# slice and Lomb-Scargle kernel and E2's daily vital statistics; the traced
# run adds E1 and E2 whole and two more E2 building blocks.
# --------------------------------------------------------------------------
def hk_cohort(run: Run) -> float:
    from pyspark.sql import functions as F

    from mhealth_spark import activity, features, synth, vitals
    from mhealth_spark.schema import REQUEST_SCHEMA, VITAL_RANGES

    spark, seed = run.spark, run.args.seed
    events = synth.synth_healthkit(HK_USERS, HK_DAYS, seed)
    requests = inputs.requests_frame(HK_REQUESTS, HK_USERS, HK_DAYS, seed, synth.EPOCH)
    hk = synth.hk_to_spark(spark, events).cache()
    hk.count()
    req = spark.createDataFrame(requests, REQUEST_SCHEMA).cache()
    req.count()
    # the arguments E2 (daily, per user-day) and E1 (per request) pass
    hk_day = hk.withColumn("_day", F.date_trunc("DAY", "local_start"))
    day_keys = ["user_id", "_day"]
    log("inputs ready")

    def one_pass() -> dict:
        run.phase("features.slice_requests",
                  lambda: features.slice_requests(hk, req), noop)
        return {
            "vitals": run.phase("vitals.aggregate_vital", lambda: vitals.aggregate_vital(
                hk_day, "HeartRate", group_cols=day_keys,
                standard_aggregations=["mean", "median", "std", "min", "max"],
                linear_time_aggregations=True, column_suffix="_day"), collect),
            "lomb": run.phase(
                "features.lomb_scargle_vital_features",
                lambda: features.lomb_scargle_vital_features(
                    features.slice_requests(hk, req), "HeartRate",
                    VITAL_RANGES["HeartRate"]),
                collect),
        }

    out = run.passes_for(one_pass)
    if run.trace:
        # the Lomb-Scargle kernel is timed on its own above
        e1_req = req.filter(F.col("request_id") < HK_E1_REQUESTS)
        out["e1"] = run.phase(
            "features.generate_hk_features",
            lambda: features.generate_hk_features(hk, e1_req, with_lomb_scargle=False),
            collect)
        out["daily"] = run.phase("features.collect_all_daily_features",
                                 lambda: features.collect_all_daily_features(hk), collect)
        out["circadian"] = run.phase(
            "features.circadian_vital_features",
            lambda: features.circadian_vital_features(
                hk_day, "HeartRate", group_cols=day_keys, column_suffix="_day"),
            collect)
        out["steps"] = run.phase(
            "activity.aggregate_active_duration",
            lambda: activity.aggregate_active_duration(
                hk_day, "StepCount", group_cols=day_keys, resample_hours=1.0),
            collect)

    run.group("perfbench.check")
    sliced_ref = checks.slice_events(events, requests)
    sliced = features.slice_requests(hk, req).select("local_start", "_wend").toPandas()
    run.check("slice_requests vs pandas slice", checks.slice_problems(sliced, sliced_ref))
    vit = out["vitals"]
    vit = vit.assign(date=vit["_day"].dt.date).drop(columns="_day")
    run.check("aggregate_vital daily min/max vs pandas reference",
              checks.daily_vital_problems(vit, events, "HeartRate"))
    run.check("lomb_scargle_vital_features vs numpy periodogram",
              checks.lomb_scargle_problems(out["lomb"], sliced_ref, "HeartRate",
                                           VITAL_RANGES["HeartRate"]))
    if run.trace:
        first = requests["request_id"] < HK_E1_REQUESTS
        run.check("generate_hk_features vs pandas reference", checks.e1_problems(
            out["e1"], checks.e1_reference(
                sliced_ref[sliced_ref["request_id"] < HK_E1_REQUESTS], requests[first])))
        for vital in ("HeartRate", "HeartRateVariabilitySDNN"):
            run.check(f"E2 {vital} daily min/max vs pandas reference",
                      checks.daily_vital_problems(out["daily"], events, vital))
        run.check("circadian_vital_features vs pandas bins",
                  checks.circadian_problems(out["circadian"], events, "HeartRate", "_day"))
        run.check("aggregate_active_duration vs raw StepCount totals",
                  checks.activity_problems(out["steps"], events, "StepCount"))
    return float(len(events))


# --------------------------------------------------------------------------
# tokens_pit: the north-rule point-in-time engine over the tokens table
# --------------------------------------------------------------------------
def _materialize(path: str, df) -> str:
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, path)
    return path


def _training_grid(df):
    """The registered ``tokens_training_set`` projection of the output."""
    from pyspark.sql import functions as F

    return df.select(
        "source", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("req_ts"),
        "docs_1h", "tokens_1h", F.round("mean_len_1h", 6).alias("mean_len_1h"),
        "max_len_1h", "docs_24h", "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"), "max_len_24h",
        "docs_next", "tokens_next", "first_gap_s",
    )


def _duck_oracle(sql: str, cache: str | None = None, views: dict | None = None):
    import duckdb
    import pandas as pd

    if cache and os.path.exists(cache):
        return pd.read_parquet(cache)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}/duckdb'")
        for name, path in (views or {}).items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        pdf = con.execute(sql).df()
    finally:
        con.close()
    if cache:
        tmp = f"{cache}.tmp-{os.getpid()}"
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, cache)
    return pdf


def _repoint(sql: str, new_path) -> str:
    """Replace each synthetic-tokens parquet path in an oracle with
    ``new_path(file_name)``."""
    return re.sub(
        r"'[^']*/(tokens_n\d+_seed\d+(?:_v\d+)?\.parquet)",
        lambda m: "'" + new_path(m.group(1)), sql,
    )


def tokens_pit(run: Run) -> float:
    from pyspark.sql import functions as F

    from mhealth_spark import checkpoint, source, synth, tokens_engine
    from mhealth_spark.queries import ORACLES

    spark, seed = run.spark, run.args.seed
    base = os.path.join(run.work, "tokens")
    os.makedirs(base, exist_ok=True)
    path = _materialize(
        os.path.join(base, f"tokens_n{TOKENS_DOCS}_seed{seed}.parquet"),
        synth.synth_tokens(spark, TOKENS_DOCS, seed=seed),
    )
    tok = source.read_table(spark, path)
    n_tokens = tok.agg(F.sum("n_tok")).collect()[0][0]
    oracle = _duck_oracle(
        _repoint(ORACLES["tokens_training_set"], lambda _name: path),
        cache=os.path.join(base, f"training_oracle_n{TOKENS_DOCS}_seed{seed}.parquet"),
    )
    log("inputs ready")

    def one_pass():
        grid = run.phase("tokens_engine.training_set",
                         lambda: tokens_engine.training_set(tok),
                         lambda df: collect(_training_grid(df)))
        sessions = run.phase("tokens_engine.sessionized",
                             lambda: tokens_engine.sessionized(tok), collect)
        return grid, sessions

    grid, sessions = run.passes_for(one_pass)
    run.group("perfbench.check")
    run.check("training_set vs DuckDB oracle", checks.oracle_problems(grid, oracle))
    run.check("sessionized totals", checks.session_problems(sessions, TOKENS_DOCS, n_tokens))

    if run.trace:
        row_hash = F.xxhash64("doc_id", "tokens").alias("h")
        expected = tok.select("doc_id", row_hash).toPandas()
        out_dir = os.path.join(os.environ["TMPDIR"], "checkpoint")
        write = functools.partial(
            checkpoint.checkpointed_write, out_dir=out_dir,
            entity_col="writer_id", num_partitions=BUCKETS)
        first = run.phase("checkpoint.checkpointed_write",
                          lambda: tokens_engine.row_features(tok), write)
        second = run.phase("checkpoint.checkpointed_write_resume",
                           lambda: tokens_engine.row_features(tok), write)
        run.extra["checkpoint.written_mb"] = first["bytes"] / 1e6
        run.group("perfbench.check")
        run.check("checkpointed_write resume", checks.resume_problems(
            first, second, TOKENS_DOCS, BUCKETS))
        written = checkpoint.read_checkpointed(spark, out_dir).select("doc_id", row_hash)
        run.check("checkpointed (doc_id, tokens) vs input",
                  checks.row_hash_problems(written.toPandas(), expected))
        shutil.rmtree(out_dir, ignore_errors=True)
        run.phase("tokens_engine.row_features",
                  lambda: tokens_engine.row_features(tok), noop)
        run.phase("source.read_table", lambda: source.read_table(spark, path),
                  lambda df: noop(df.select("doc_id", "n_tok")))
        registry(run)
        run.group("perfbench.scaling")
        run.scaling = (pit_seconds(spark, path), path)
        log("warm local[4] pass done")
    return float(TOKENS_DOCS)


def registry_tokens(spark, work: str) -> str:
    """Point the registry queries' synthetic-tokens tables at the work
    directory (they materialise them through this function) and write
    them there once; return that directory."""
    from mhealth_spark import synth

    synth_dir = os.path.join(work, "synth_cache")
    synth.materialize_synth_tokens = functools.partial(
        synth.materialize_synth_tokens, cache_dir=synth_dir)
    synth.materialize_synth_tokens(spark, 3000, seed=42)
    synth.materialize_synth_tokens(spark, 3000, seed=42, vocab=256)
    return synth_dir


def registry_oracle(q: str, work: str, synth_dir: str, views: dict):
    """The query's DuckDB answer. Queries over the fixed synthetic tokens
    tables (not the seeded documents/embeddings) are cached for good."""
    from mhealth_spark.queries import ORACLES

    sql = _repoint(ORACLES[q], lambda name: os.path.join(synth_dir, name))
    cache = None if _seeded(q) else os.path.join(work, f"oracle_{q}.parquet")
    return _duck_oracle(sql, cache=cache, views=views)


def _seeded(q: str) -> bool:
    from mhealth_spark.queries import ORACLES

    return re.search(r"\b(documents|embeddings)\b", ORACLES[q]) is not None


def registry(run: Run) -> None:
    """The pinned registry queries, each forced once and compared with its
    DuckDB oracle; time and jobs accumulate per pipelines family."""
    from mhealth_spark.queries import QUERIES

    spark, seed = run.spark, run.args.seed
    synth_dir = registry_tokens(spark, run.work)
    sf_dir = inputs.write_registry_tables(
        os.path.join(run.work, f"registry_seed{seed}"), seed, REGISTRY_DOCS, REGISTRY_VECS)
    log("registry inputs ready")
    views = {t: os.path.join(sf_dir, f"{t}.parquet") for t in ("documents", "embeddings")}
    for q in PINNED_QUERIES:
        got = run.phase(query_phase(q), lambda: QUERIES[q](spark, sf_dir), collect)
        run.group("perfbench.check")
        want = registry_oracle(q, run.work, synth_dir, views)
        run.check(f"{q} vs DuckDB oracle", checks.oracle_problems(got, want))
        log(f"{q} checked")


def prepare(spark, work: str) -> None:
    """Once per checkout: the fixed registry tables and the oracle answers
    that do not depend on the seed."""
    synth_dir = registry_tokens(spark, work)
    for q in PINNED_QUERIES:
        if not _seeded(q):
            registry_oracle(q, work, synth_dir, views={})
    log("prepared")


WORKLOADS = {"hk_cohort": hk_cohort, "tokens_pit": tokens_pit}


def pit_seconds(spark, path: str) -> float:
    """One ``training_set`` pass, for the scaling ratio."""
    from mhealth_spark import source, tokens_engine

    tok = source.read_table(spark, path)
    t0 = time.perf_counter()
    collect(_training_grid(tokens_engine.training_set(tok)))
    return time.perf_counter() - t0


def scaling_eff(t4: float, path: str) -> float:
    """rows/s at local[4] over 4x rows/s at local[1] for ``training_set``:
    ``t4`` is a warm local[4] pass; the local[1] session reuses the warm
    JVM."""
    from mhealth_spark import session

    os.environ["SPARK_GRAFT_SKIP_WARMUP"] = "1"
    spark = session.get_spark(master="local[1]")
    try:
        t1 = pit_seconds(spark, path)
    finally:
        spark.stop()
    return t1 / (4.0 * t4)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--prepare", action="store_true")
    args = ap.parse_args()
    t_start = float(os.environ["PERFBENCH_T0"])

    import mhealth_spark
    from mhealth_spark import session

    pkg = os.path.dirname(os.path.abspath(mhealth_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        print(f"perfbench: mhealth_spark imported from {pkg}, not {ROOT}", file=sys.stderr)
        return 3
    if args.prepare:
        os.environ["SPARK_GRAFT_SKIP_WARMUP"] = "1"
        spark = session.get_spark(master=MASTER)
        prepare(spark, args.work)
        spark.stop()
        with open(args.result, "w") as fh:
            json.dump({"prepared": True}, fh)
        return 0
    extra_conf = None
    if args.trace:
        log_dir = os.path.join(os.environ["TMPDIR"], "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
        # get_spark without warmup first; the second call only warms the
        # session, so its duration is what warmup adds to set-up time
        os.environ["SPARK_GRAFT_SKIP_WARMUP"] = "1"
        session.get_spark(master=MASTER, extra_conf=extra_conf)
        nowarm_s = time.time() - t_start
        del os.environ["SPARK_GRAFT_SKIP_WARMUP"]
    spark = session.get_spark(master=MASTER, extra_conf=extra_conf)
    setup_s = time.time() - t_start
    setup_cpu_s = tree_cpu_s(os.getpid())
    log(f"session ready: {setup_s:.2f} s wall, {setup_cpu_s:.2f} s cpu")
    result = {"setup_s": setup_s, "setup_cpu_s": setup_cpu_s,
              "module_file": mhealth_spark.__file__}
    if args.trace:
        result["warmup_s"] = setup_s - nowarm_s
    zip_path = os.path.join(os.environ["TMPDIR"], "mhealth_spark_pkg.zip")
    if os.path.exists(zip_path):
        result["executor_zip"] = zip_path
        result["executor_zip_fresh"] = os.path.getmtime(zip_path) >= t_start
    run = Run(spark, args)
    n_rows = WORKLOADS[args.workload](run)
    result["peak_rss_mb"] = tree_hwm_mb(os.getpid())
    spark.stop()
    log("session stopped")
    if args.trace:
        result["groups"] = eventlog.fold_dir(log_dir)
        if run.scaling:
            run.extra["tokens_engine.scaling_eff_1to4"] = scaling_eff(*run.scaling)
    log("done")
    result.update(
        passes=run.passes, cpu=run.cpu, n_rows=n_rows, attempted=run.attempted,
        failed=run.failed, wall=run.wall, build=run.build, extra=run.extra,
    )
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
