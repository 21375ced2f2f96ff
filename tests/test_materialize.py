"""``bpspark.io.materialize``: the one way the package materializes a frame."""

from __future__ import annotations

import ast
import collections
import glob
import os

import pytest
from pyspark.sql import functions as F

from bpspark import io

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bpspark")
STORAGE_CALLS = ("localCheckpoint", "checkpoint", "persist", "cache", "unpersist")


def test_materialize_is_the_only_storage_call():
    """Every ``.localCheckpoint(``, ``.checkpoint(``, ``.persist(``,
    ``.cache(`` and ``.unpersist(`` call in the package sits inside
    ``io.materialize``, which makes exactly one local and one reliable
    checkpoint call: the materialization policy is decided in one place,
    and no op holds a frame it has to release."""
    outside, inside = [], collections.Counter()
    for path in sorted(glob.glob(os.path.join(PKG, "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        allowed: set[int] = set()
        if os.path.basename(path) == "io.py":
            (fn,) = [n for n in tree.body
                     if isinstance(n, ast.FunctionDef) and n.name == "materialize"]
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr in STORAGE_CALLS):
                continue
            if id(node) in allowed:
                inside[node.func.attr] += 1
            else:
                outside.append(f"{os.path.basename(path)}:{node.lineno} .{node.func.attr}(")
    assert not outside, outside
    assert inside == {"localCheckpoint": 1, "checkpoint": 1}, inside


def _materialize_and_drop_blocks(spark, df):
    """``io.materialize(df)``, then drop the blocks of every RDD it
    persisted, as the loss of the executors holding them would. Returns
    the frame and the number of RDDs dropped."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    frame = io.materialize(df)
    new = [rdd for rid, rdd in jsc.getPersistentRDDs().items() if rid not in before]
    for rdd in new:
        rdd.unpersist(True)
    return frame, len(new)


def _clear_checkpoint_dir(sc) -> None:
    """Unset the SparkContext's checkpoint directory; Spark has no public
    call for it."""
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


def test_lost_blocks_fail_locally_and_are_survived_under_a_checkpoint_dir(spark):
    """Block loss. Without a checkpoint directory the rows live only in
    executor blocks and there is no lineage to replay: the next read of
    a frame whose blocks are gone raises Spark's "Checkpoint block …
    not found" rather than returning other rows. With a checkpoint
    directory the rows are in files, and the same loss leaves the frame
    readable with the same rows. The shared session's checkpoint
    directory is unset again afterwards."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = spark.range(0, 1000, 1, 4).select("id", (F.col("id") * 7 % 101).alias("v"))
    want = sorted(df.collect())

    frame, dropped = _materialize_and_drop_blocks(spark, df)
    assert dropped == 1
    with pytest.raises(Exception, match=r"Checkpoint block \S+ not found"):
        frame.collect()

    ckpt = io.scratch("materialize_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        frame, _ = _materialize_and_drop_blocks(spark, df)
        assert sorted(frame.collect()) == want
        assert glob.glob(f"{ckpt}/*/rdd-*/part-*"), "no checkpoint files written"
    finally:
        _clear_checkpoint_dir(sc)
    assert sc.getCheckpointDir() is None
