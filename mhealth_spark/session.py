"""SparkSession factory with the engine's standard configuration.

Scale posture (tuned for a multi-executor cluster, exercised on
``local[N]`` in the sandbox):

- AQE on (coalescing, skew-join splitting) — runtime re-planning is the
  first line of defense against shuffle skew at 100 TB.
- Arrow on — every Python kernel crosses the JVM<->Python boundary in
  columnar batches, never row-at-a-time.
- Session timezone pinned to UTC and parquet timestamps read as NTZ so
  local-time semantics are explicit in the data, not the session.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "mhealth_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) in the sandbox; on a real cluster, leave it unset and
    let ``spark-submit`` provide it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / parity ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # --- Arrow: all Python kernels are vectorized ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- AQE: runtime re-planning, skew-join splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # 128 MB input splits: at 100 TB this yields ~800k tasks, the
        # right granularity for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # bucketed-layout tables (write_bucketed_layout) land here in the
        # sandbox; a real cluster's Hive/Glue catalog supplies its own.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "mhealth_spark_warehouse"),
            ),
        )
        .config("spark.ui.enabled", "false")
        # \r progress bars interleave with stdout lines and mangle every
        # log consumer (bench JSON tail, oracle-check greps)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    _warm_jvm(spark)
    return spark


_WARMED: set[str] = set()


def _warm_jvm(spark: SparkSession) -> None:
    """One-time generic JVM warmup per SparkContext (guide §1: measure the
    computation, not cold-start): exercises the scan → whole-stage-codegen
    → shuffle → noop-sink path, the parquet writer/reader, higher-order
    functions, a window and a broadcast join on SYNTHETIC range data, so
    JIT/classloading/codegen warmup is paid at session build instead of
    inside the first real query. Touches no input data and computes no
    query result — infrastructure-only, the moral equivalent of a serving
    container's readiness probe. Skipped when SPARK_GRAFT_SKIP_WARMUP=1
    (the test suite builds many short-lived sessions and times nothing)."""
    if os.environ.get("SPARK_GRAFT_SKIP_WARMUP") == "1":
        return
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - dead context
        return
    if app_id in _WARMED:
        return
    _WARMED.add(app_id)
    try:
        from pyspark.sql import Window, functions as F

        df = spark.range(0, 200_000, 1, 8).selectExpr(
            "id", "id % 97 AS k", "CAST(id AS DOUBLE) AS d",
            "array(CAST(id AS DOUBLE), 1.0d) AS a",
        )
        small = spark.range(0, 97).selectExpr("id AS k", "id * 2 AS w")
        w = Window.partitionBy("k").orderBy("id")
        (
            df.join(F.broadcast(small), "k")
            .withColumn("r", F.row_number().over(w))
            .withColumn(
                "s",
                F.aggregate("a", F.lit(0.0), lambda acc, x: acc + x),
            )
            .groupBy("k")
            .agg(F.sum("d"), F.max("r"), F.avg("s"))
            .write.format("noop").mode("overwrite").save()
        )
        import shutil
        import tempfile

        p = os.path.join(
            tempfile.gettempdir(), f"mhealth_spark_warm_{os.getpid()}"
        )
        try:
            spark.range(0, 1000).selectExpr(
                "id", "CAST(id AS STRING) AS s"
            ).write.mode("overwrite").parquet(p)
            spark.read.parquet(p).write.format("noop").mode("overwrite").save()
        finally:
            shutil.rmtree(p, ignore_errors=True)

        # spawn + warm the Arrow Python workers (pandas/pyarrow imports,
        # worker reuse pool) so the first real mapInPandas stage doesn't
        # pay interpreter startup per core
        def _identity(batches):
            for b in batches:
                yield b

        par = spark.sparkContext.defaultParallelism
        spark.range(0, 8 * par, 1, par).mapInPandas(
            _identity, "id long"
        ).write.format("noop").mode("overwrite").save()

        # text-shaped pass: split → explode → hash → two-phase distinct
        # aggregate (the codegen family the corpus/text/dedup operators
        # compile on first use)
        (
            spark.range(0, 20_000, 1, 8)
            .selectExpr(
                "id",
                "concat('w', id % 97, ' w', id % 31, ' w', id % 13) AS t",
            )
            .selectExpr(
                "id",
                "t",
                "regexp_replace(t, '[0-9]+', '#') AS r",
                "size(regexp_extract_all(t, '[0-9]+', 0)) AS nr",
                "slice(split(t, ' '), 1, 2) AS s2",
            )
            .select(
                "id", "nr", F.explode(F.split("r", " ")).alias("w"),
            )
            .select("id", "nr", F.md5("w").alias("h"))
            .groupBy("h")
            .agg(F.count_distinct("id"), F.count("*"), F.sum("nr"))
            .write.format("noop").mode("overwrite").save()
        )
    except Exception:  # pragma: no cover - warmup must never break callers
        pass


def _ship_package(spark: SparkSession) -> None:
    """Make ``mhealth_spark`` importable on executors.

    Arrow kernels (applyInPandas closures) reference module attributes, so
    Python workers must import the package. On a real cluster this is
    ``spark-submit --py-files mhealth_spark.zip`` (see cli.py); here we
    ship the same zip via ``addPyFile`` so any entry point — driver
    harness, bench, tests — works regardless of cwd/PYTHONPATH.
    """
    try:
        spark.sparkContext._jsc  # session alive
        zip_path = os.path.join(tempfile.gettempdir(), "mhealth_spark_pkg.zip")
        build_package_zip(zip_path)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # pragma: no cover - best effort on exotic deploys
        pass


def build_package_zip(zip_path: str) -> bool:
    """Write the package's ``.py`` files to ``zip_path`` unless the zip
    there already holds exactly them; return whether it was (re)built.

    The zip comment records a SHA-256 over every file's relative path and
    bytes, so an edited package is never served from a stale zip (two
    checkouts sharing one temp dir, or an edit between sessions). The new
    zip is written beside the target and moved into place atomically, so
    a concurrent reader sees the old or the new zip, never half of one.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    files = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(pkg_dir)
        for f in names
        if f.endswith(".py")
    )
    digest = hashlib.sha256()
    for rel in files:
        with open(os.path.join(root, rel), "rb") as fh:
            data = fh.read()
        digest.update(rel.encode() + b"\0" + len(data).to_bytes(8, "big") + data)
    tag = digest.hexdigest().encode()
    try:
        with zipfile.ZipFile(zip_path) as zf:
            if zf.comment == tag:
                return False
    except (OSError, zipfile.BadZipFile):
        pass
    fd, tmp = tempfile.mkstemp(
        prefix=".mhealth_spark_pkg.", dir=os.path.dirname(os.path.abspath(zip_path))
    )
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel in files:
                zf.write(os.path.join(root, rel), rel)
            zf.comment = tag
        os.replace(tmp, zip_path)
    except BaseException:
        os.unlink(tmp)
        raise
    return True
