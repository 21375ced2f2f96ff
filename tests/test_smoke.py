"""Driver-contract smoke: entry() runs and returns rows with a stable schema."""

from __future__ import annotations


def test_entry_flagship(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_oracle_keys_subset(spark):
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert q, "no queries registered"
    assert set(o).issubset(set(q)), "oracle keys must be a subset of query keys"


def test_python_datasource_partition_parallel(spark):
    """The custom Python DataSource must expose its declared partitioning
    to Spark (8 InputPartitions → 8 tasks) and produce the full record
    range exactly once."""
    from bpspark.registry import all_ops

    df = all_ops()["scan_python_datasource"].fn(spark, "/root/testdata/sf0.001")
    assert df.rdd.getNumPartitions() == 8
    rows = df.collect()
    assert len(rows) == 1000
    assert {r.book_id for r in rows} == set(range(1000))


def test_scratch_and_state_share_one_process_root(tmp_path):
    """Every file an op writes lives under ONE per-process ``bpspark_*``
    directory under ``tempfile.gettempdir()``: per-call scratch dirs are
    fresh, state dirs are stable, and the exit hook removes a root only in
    the process that made it (a forked child must not delete it)."""
    import os
    import tempfile

    from bpspark import io as bio

    root = bio._root()
    assert os.path.dirname(root) == tempfile.gettempdir()
    assert os.path.basename(root).startswith("bpspark_")
    a, b = bio.scratch("probe"), bio.scratch("probe")
    assert a != b and os.path.dirname(a) == os.path.dirname(b) == root
    sd = bio.state_dir("probe", "/root/testdata/sf0.001")
    assert os.path.dirname(sd) == root
    assert bio.state_dir("probe", "/root/testdata/sf0.001") == sd
    os.rmdir(a)
    os.rmdir(b)

    other = tmp_path / "root"
    other.mkdir()
    bio._remove_root(os.getpid() + 1, str(other))
    assert other.is_dir()
    bio._remove_root(os.getpid(), str(other))
    assert not other.exists()


def test_engine_leaves_scratch_placement_alone(spark):
    """The engine must not choose where temp or spill files go: temp files
    follow Python's ``tempfile`` default (``TMPDIR``) and spill/shuffle
    files follow Spark's own ``spark.local.dir`` / ``SPARK_LOCAL_DIRS``.
    So ``ensure_worker_imports`` may not assign the process-global
    ``tempfile.tempdir``, and ``session.build`` may not set
    ``spark.local.dir``."""
    import tempfile

    import bpspark

    # the first call on a context zips the package via mkdtemp, which
    # caches the default in tempfile.tempdir by itself; get that done first
    bpspark.ensure_worker_imports(spark)
    saved = tempfile.tempdir
    tempfile.tempdir = None
    try:
        bpspark.ensure_worker_imports(spark)
        assert tempfile.tempdir is None
    finally:
        tempfile.tempdir = saved
    assert spark.sparkContext.getConf().get("spark.local.dir") is None
