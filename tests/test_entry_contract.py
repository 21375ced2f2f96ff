"""The driver contract must hold from ANY cwd: __spark_entry__ imports via
its own path bootstrap, and UDF-bearing ops work because the queries()
wrapper ships bpspark to executor Python workers (addPyFile). Repo-cwd
tests can't catch a regression there (workers then import bpspark from
the cwd by accident), so this test runs the sim in a subprocess from a
temp directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
q = e.queries()
# one UDF-bearing op (worker-side bpspark import) + one plain op
assert q["udf_scalar_pandas"](spark, "/root/testdata/sf0.001").count() > 0
assert q["scan_parquet"](spark, "/root/testdata/sf0.001").count() > 0
print("ENTRY_CONTRACT_OK")
"""


def test_entry_runs_from_foreign_cwd():
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tempfile.mkdtemp(prefix="bpspark_cwd_"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ENTRY_CONTRACT_OK" in res.stdout, res.stderr[-2000:]
