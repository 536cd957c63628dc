"""End-to-end CLI job tests: `cli.main` drives read_table → operator →
write_table on tiny parquet inputs, reusing the shared test session
(`spark.stop` is neutered per-test so the fixture survives)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhealth_spark import cli  # noqa: E402
from mhealth_spark.synth import synth_tokens  # noqa: E402


@pytest.fixture()
def tokens_parquet(spark, tmp_path):
    path = str(tmp_path / "tokens.parquet")
    synth_tokens(spark, 400, seed=11).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(autouse=True)
def _keep_session(spark, monkeypatch):
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    yield


def _read(spark, path):
    return spark.read.parquet(path)


def test_cli_package(tmp_path):
    out = str(tmp_path / "pkg.zip")
    assert cli.main(["package", "--out", out]) == 0
    assert os.path.exists(out)


def test_cli_corpus_split(spark, tokens_parquet, tmp_path):
    out = str(tmp_path / "split")
    rc = cli.main(
        ["corpus-split", "--input", tokens_parquet, "--output", out,
         "--weights", "train=0.8,val=0.1,test=0.1"]
    )
    assert rc == 0
    df = _read(spark, out)
    labels = {r["split"] for r in df.select("split").distinct().collect()}
    assert labels <= {"train", "val", "test"}
    assert df.count() == 400


def test_cli_corpus_shard(spark, tokens_parquet, tmp_path):
    out = str(tmp_path / "shards")
    rc = cli.main(
        ["corpus-shard", "--input", tokens_parquet, "--output", out,
         "--shards", "8"]
    )
    assert rc == 0
    df = _read(spark, out)
    assert df.select("shard_id").distinct().count() == 8
    assert df.count() == 400


def test_cli_corpus_mix_temperature_and_budget(spark, tokens_parquet, tmp_path):
    out_t = str(tmp_path / "mix_t")
    rc = cli.main(
        ["corpus-mix", "--input", tokens_parquet, "--output", out_t,
         "--alpha", "0.5"]
    )
    assert rc == 0
    kept = _read(spark, out_t).count()
    assert 0 < kept < 400

    out_b = str(tmp_path / "mix_b")
    rc = cli.main(
        ["corpus-mix", "--input", tokens_parquet, "--output", out_b,
         "--budgets", "web=5000"]
    )
    assert rc == 0
    df = _read(spark, out_b)
    import pyspark.sql.functions as F

    web_before = df.filter(F.col("source") == "web").agg(
        F.max("mix_tokens_before")
    ).collect()[0][0]
    assert web_before is None or web_before < 5000


def test_cli_corpus_pack(spark, tokens_parquet, tmp_path):
    out = str(tmp_path / "packed")
    rc = cli.main(
        ["corpus-pack", "--input", tokens_parquet, "--output", out,
         "--budget", "4096"]
    )
    assert rc == 0
    df = _read(spark, out)
    assert "pack_id" in df.columns and df.count() == 400


def test_cli_corpus_quality(spark, tmp_path):
    docs_in = str(tmp_path / "docs.parquet")
    rows = [("d%d" % i, "the quick brown fox jumps over the lazy dog " * 3)
            for i in range(20)] + [("bad", "zz")]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(docs_in)

    flags_out = str(tmp_path / "flags")
    assert cli.main(["corpus-quality", "--input", docs_in,
                     "--output", flags_out]) == 0
    flags = _read(spark, flags_out)
    assert set(flags.columns) == {"doc_id", "keep", "reasons"}
    assert flags.filter("NOT keep").count() >= 1

    drop_out = str(tmp_path / "kept")
    assert cli.main(["corpus-quality", "--input", docs_in,
                     "--output", drop_out, "--drop"]) == 0
    kept = _read(spark, drop_out)
    assert "text" in kept.columns
    assert kept.count() == flags.filter("keep").count()


def test_cli_corpus_dedup_and_decontaminate(spark, tmp_path):
    docs_in = str(tmp_path / "docs.parquet")
    rows = [("d%d" % i,
             "alpha beta gamma delta epsilon zeta eta theta iota word%d" % (i % 3))
            for i in range(12)]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(docs_in)

    pairs_out = str(tmp_path / "pairs")
    assert cli.main(["corpus-dedup", "--input", docs_in,
                     "--output", pairs_out]) == 0
    pairs = _read(spark, pairs_out)
    assert {"id_a", "id_b"} <= set(pairs.columns)
    assert pairs.count() > 0

    bench_in = str(tmp_path / "bench.parquet")
    spark.createDataFrame(rows[:2], ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(bench_in)
    clean_out = str(tmp_path / "clean")
    assert cli.main(["corpus-decontaminate", "--input", docs_in,
                     "--output", clean_out, "--benchmark", bench_in]) == 0
    assert _read(spark, clean_out).count() < 12


def test_cli_corpus_build(spark, tmp_path):
    from mhealth_spark.source import read_table

    docs_in = str(tmp_path / "docs.parquet")
    read_table(spark, "documents", "/root/testdata/sf0.001").write.mode(
        "overwrite"
    ).parquet(docs_in)
    out = str(tmp_path / "built")
    rc = cli.main(["corpus-build", "--input", docs_in, "--output", out,
                   "--weights", "train=0.9,val=0.1"])
    assert rc == 0
    built = _read(spark, out)
    assert "split" in built.columns
    assert 0 < built.count() <= 500


def test_cli_tokens_training_set(spark, tokens_parquet, tmp_path):
    """The training-set job runs end-to-end and agrees exactly with the
    generic as-of path over the explicit hourly grid."""
    from mhealth_spark.tokens_engine import hourly_requests, training_set

    out = str(tmp_path / "ts")
    assert cli.main(
        ["tokens-training-set", "--input", tokens_parquet, "--output", out]
    ) == 0
    df = spark.read.parquet(tokens_parquet)
    a = _read(spark, out).toPandas().sort_values(["source", "ts"]).reset_index(drop=True)
    b = (
        training_set(df, hourly_requests(df))
        .toPandas()
        .sort_values(["source", "ts"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert set(a.columns) == set(b.columns)
    for col in a.columns:
        x, y = a[col], b[col]
        both_null = x.isna() & y.isna()
        assert (both_null | (x == y)).all(), col
