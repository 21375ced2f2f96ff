"""``bpspark.io.build_once``: a state dir exists only once it is fully
built, and only ``io`` publishes one."""

from __future__ import annotations

import ast
import collections
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from bpspark import io, search
from bpspark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "bpspark")


def _rows(df) -> collections.Counter:
    return collections.Counter(map(tuple, df.collect()))


def _private_sf(tmp_path, *tables: str) -> str:
    """Copies of SF_SMALL's ``tables`` in a fresh directory of the same
    name. The copies' new mtimes give the dataset a new fingerprint, so
    its state dirs are built by this test, not found from an earlier one."""
    d = tmp_path / os.path.basename(SF_SMALL.rstrip("/"))
    d.mkdir()
    for t in tables:
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), d)
    return str(d)


def _assert_cut_short_leaves_nothing(spark, name: str, tag: str, sf: str, before: set) -> None:
    """After the cut: no state dir and no staging copy under the scratch
    root; the next call builds the dir and returns an uninterrupted
    call's rows."""
    assert not os.path.exists(io.state_dir(tag, sf))
    assert set(os.listdir(io._root())) == before
    assert _rows(OPS[name].fn(spark, sf)) == _rows(OPS[name].fn(spark, SF_SMALL))
    assert os.path.isdir(io.state_dir(tag, sf))


def test_cut_short_cow_build_publishes_nothing(spark, tmp_path, monkeypatch):
    """A clustering write whose tasks fail after the first two leaves no
    ``cowdel`` state behind, so the next call clusters again instead of
    finding a directory with no files to carry."""
    sf = _private_sf(tmp_path, "lineitem")
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        df = self._df.withColumn(
            "l_quantity",
            F.when(F.spark_partition_id() >= 2, F.raise_error(F.lit("cut short")))
            .otherwise(F.col("l_quantity")),
        )
        return real_parquet(df.write, path, *args, **kwargs)

    before = set(os.listdir(io._root()))
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception, match="cut short"):
        OPS["maintenance_delete_where_cow"].fn(spark, sf)
    monkeypatch.undo()
    _assert_cut_short_leaves_nothing(spark, "maintenance_delete_where_cow", "cowdel", sf, before)


def test_cut_short_segment_build_publishes_nothing(spark, tmp_path, monkeypatch):
    """A two-segment index build cut after segment 0 is written publishes
    neither segment; the next call builds both."""
    sf = _private_sf(tmp_path, "documents")
    real_build = search._bm25_build_segment
    written = []

    def fail_after_first(df, seg_dir):
        if written:
            raise RuntimeError("cut short after segment 0")
        real_build(df, seg_dir)
        written.append(seg_dir)

    before = set(os.listdir(io._root()))
    monkeypatch.setattr(search, "_bm25_build_segment", fail_after_first)
    with pytest.raises(RuntimeError, match="cut short"):
        OPS["search_bm25_incremental"].fn(spark, sf)
    monkeypatch.undo()
    assert written, "segment 0 was not written before the cut"
    _assert_cut_short_leaves_nothing(spark, "search_bm25_incremental", "bm25seg", sf, before)


def test_build_once_keeps_the_first_publish(tmp_path):
    """A build whose rename loses to another publish of the same state dir
    drops its own copy and returns the published one; once published,
    the dir is returned without building."""
    sf = _private_sf(tmp_path, "region")

    def another_publish_wins(staging: str) -> None:
        open(os.path.join(staging, "mine"), "w").close()
        os.makedirs(io.state_dir("race", sf))
        open(os.path.join(io.state_dir("race", sf), "theirs"), "w").close()

    before = set(os.listdir(io._root()))
    path = io.build_once("race", sf, another_publish_wins)
    assert os.listdir(path) == ["theirs"]
    assert set(os.listdir(io._root())) == before | {os.path.basename(path)}
    assert io.build_once("race", sf, lambda d: pytest.fail("built twice")) == path
    shutil.rmtree(path)


ROOT_SCRIPT = f"""
import collections, json, os, shutil, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
from bpspark import io
from bpspark.registry import all_ops
ops = all_ops()
same = {{}}
for name in ["sink_range_partitioned", "sink_overwrite_dynamic"]:
    undisturbed = collections.Counter(map(tuple, ops[name].fn(spark, {SF_SMALL!r}).collect()))
    shutil.rmtree(io._root())
    again = collections.Counter(map(tuple, ops[name].fn(spark, {SF_SMALL!r}).collect()))
    same[name] = again == undisturbed
print("ROOT_RESULT", json.dumps(same))
"""


def test_vanished_scratch_root_is_made_again(tmp_path):
    """Removing the process's scratch root mid-run costs the state built
    so far, not the next call: ``io.scratch`` and ``io.build_once`` make
    the root again and the ops return an undisturbed run's rows. In a
    subprocess, because the shared session's fixtures live under its root."""
    res = subprocess.run(
        [sys.executable, "-c", ROOT_SCRIPT],
        cwd=tmp_path,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("ROOT_RESULT")]
    assert lines, res.stderr[-2000:]
    assert json.loads(lines[0].split(" ", 1)[1]) == {
        "sink_range_partitioned": True, "sink_overwrite_dynamic": True}


def test_build_once_is_the_only_publish():
    """No module but ``io`` marks state as built: no ``_SUCCESS`` or
    ``_built`` check and no tmp-manifest ``os.replace`` commit, except the
    vacuum swap of ``sink_vacuum_retention``, which edits published state.
    Outside ``io``, ``state_dir`` only locates a published dir for the two
    read-only helpers."""
    found = []
    readers = {"time_travel_read", "_ivf_index_query"}
    for path in sorted(glob.glob(os.path.join(PKG, "*.py"))):
        name = os.path.basename(path)
        if name == "io.py":
            continue
        with open(path) as fh:
            src = fh.read()
        found += [f"{name}: {w}" for w in ("_SUCCESS", "_built") if w in src]
        for top in ast.parse(src, path).body:
            owner = getattr(top, "name", None)
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f, call = node.func, f"{name}:{node.lineno} {ast.unparse(node)}"
                if (isinstance(f, ast.Attribute) and f.attr == "replace"
                        and isinstance(f.value, ast.Name) and f.value.id in ("os", "_os")
                        and "manifest" in call.lower() and owner != "sink_vacuum_retention"):
                    found.append(call)
                if isinstance(f, ast.Name) and f.id == "state_dir" and owner not in readers:
                    found.append(call)
    assert not found, found
