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


def test_cleanup_stale_state_removes_only_old_versions(tmp_path, monkeypatch):
    """The state GC must remove dirs from older STATE_VERSIONs only —
    current-version state and non-bpspark dirs are untouched."""
    import os
    import tempfile as _tf

    from bpspark import io as bio

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    cur = os.path.join(str(tmp_path), f"bpspark_foo_{bio.STATE_VERSION}_sf0.001")
    old = os.path.join(str(tmp_path), "bpspark_foo_v1_sf0.001")
    other = os.path.join(str(tmp_path), "unrelated_dir")
    for d in (cur, old, other):
        os.makedirs(d)
    assert bio.cleanup_stale_state(dry_run=True) == [old]
    assert os.path.isdir(old)  # dry run touches nothing
    assert bio.cleanup_stale_state() == [old]
    assert not os.path.exists(old)
    assert os.path.isdir(cur) and os.path.isdir(other)


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
