"""spark-submit --py-files smoke test (north rule: jobs are submitted via
spark-submit to multi-executor clusters). Runs the real binary with the
packaged zip in a fresh JVM — proves the CLI entry, the zip layout, and
executor-side imports work outside any test harness session."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_cli_job(spark, tmp_path):
    from mhealth_spark import cli
    from mhealth_spark.synth import synth_tokens

    inp = str(tmp_path / "tokens.parquet")
    synth_tokens(spark, 200, seed=3).write.mode("overwrite").parquet(inp)

    zip_path = str(tmp_path / "pkg.zip")
    assert cli.main(["package", "--out", zip_path]) == 0

    out = str(tmp_path / "split_out")
    cli_file = os.path.abspath(cli.__file__)
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            cli_file,
            "corpus-split",
            "--input", inp,
            "--output", out,
            "--master", "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert "split" in got.columns


def test_package_zip_tracks_package_content(tmp_path, monkeypatch):
    # build the zip from a copy of the package, so the test can edit it
    import shutil
    import zipfile

    from mhealth_spark import session

    pkg = tmp_path / "src" / "mhealth_spark"
    shutil.copytree(
        os.path.dirname(session.__file__), pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    monkeypatch.setattr(session, "__file__", str(pkg / "session.py"))
    zip_path = str(tmp_path / "pkg.zip")

    def shipped(name):
        with zipfile.ZipFile(zip_path) as zf:
            return zf.read(f"mhealth_spark/{name}")

    # a zip that records no content hash (an older build) is replaced
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("mhealth_spark/kernels.py", b"stale")
    assert session.build_package_zip(zip_path)
    assert shipped("kernels.py") == (pkg / "kernels.py").read_bytes()
    assert shipped("pipelines/__init__.py") == (pkg / "pipelines" / "__init__.py").read_bytes()

    # unchanged package: the zip is left alone
    before = os.stat(zip_path)
    assert not session.build_package_zip(zip_path)
    after = os.stat(zip_path)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)

    # edited package: the zip is rebuilt with the new bytes
    (pkg / "kernels.py").write_bytes((pkg / "kernels.py").read_bytes() + b"# edited\n")
    assert session.build_package_zip(zip_path)
    assert shipped("kernels.py").endswith(b"# edited\n")
    assert not any(p.name.startswith(".mhealth_spark_pkg.") for p in tmp_path.iterdir())
