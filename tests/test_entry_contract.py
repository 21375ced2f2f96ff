"""The driver contract must hold from ANY cwd: __spark_entry__ imports via
its own path bootstrap, and UDF-bearing ops work because the queries()
wrapper ships bpspark to executor Python workers (addPyFile). Repo-cwd
tests can't catch a regression there (workers then import bpspark from
the cwd by accident), so this test runs the sim in a subprocess from a
temp directory.

The same subprocess pins the scratch lifecycle: every file an op writes
(per-call scratch, per-process state, the shipped package zip) lives
under ONE ``bpspark_*`` directory under ``TMPDIR``, removed at exit."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = f"""
import glob, json, os, sys, tempfile
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
q = e.queries()
# one UDF-bearing op (worker-side bpspark import) + one plain op, then one
# op from each way an op once placed its files: a per-call stage, a state
# dir, a stage it deleted after collecting, and a per-process format memo
for name in ["udf_scalar_pandas", "scan_parquet", "stream_tumbling_count",
             "sink_merge_scd1", "stream_heavy_hitters", "scan_jsonlines"]:
    assert q[name](spark, "/root/testdata/sf0.001").count() > 0, name
print("SCRATCH_ENTRIES", json.dumps(glob.glob(os.path.join(tempfile.gettempdir(), "bpspark_*"))))
print("ENTRY_CONTRACT_OK")
"""


def test_entry_runs_from_foreign_cwd(tmp_path):
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        cwd=tmp_path,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ENTRY_CONTRACT_OK" in res.stdout, res.stderr[-2000:]
    live = [ln for ln in res.stdout.splitlines() if ln.startswith("SCRATCH_ENTRIES")]
    assert len(json.loads(live[0].split(" ", 1)[1])) == 1, live
    assert sorted(p.name for p in tmp_path.glob("bpspark_*")) == []
