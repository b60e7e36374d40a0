"""The package import wires the Python workers' import path before any
session exists, so a driver launched outside the repository still runs
the entries whose Python workers import the package."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as m
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
try:
    rows = m.queries()["cdc_ddl_translate"](spark, {sf!r}).collect()
    print("ROWS", len(rows))
finally:
    spark.stop()
"""


def test_entry_runs_from_foreign_working_directory(tmp_path, sf_dir):
    """`cdc_ddl_translate` runs a Python UDF: its worker must import
    `greenplum_cdc_spark` although the driver's working directory is
    not the repository and PYTHONPATH names nothing of it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ModuleNotFoundError" not in out.stderr, out.stderr[-3000:]
    assert out.returncode == 0, out.stderr[-3000:]
    assert any(
        ln.startswith("ROWS ") and int(ln.split()[1]) > 0
        for ln in out.stdout.splitlines()
    ), out.stdout
