"""``bpspark.obs.profile``: per-call Spark counters."""

from __future__ import annotations

from bpspark import obs
from bpspark.registry import all_ops


def test_profile_counts_only_stages_that_ran(spark):
    """A frame with a shuffle, collected twice: the 4 map tasks run once
    and the 2 result tasks once per collect, 8 tasks in 3 stages. Each
    result job lists the map stage again, SKIPPED, so summing the status
    tracker's task count over the jobs' stages reads 16 (AQE runs the
    map stage as a job of its own, then two result jobs; 12 without
    AQE)."""
    df = spark.range(0, 100, 1, 4).repartition(2, "id")
    rows, c = obs.profile(spark, lambda: (df.collect(), df.collect())[1])
    assert len(rows) == 100
    assert (c["stages"], c["tasks"]) == (3, 8), c
    assert c["shuffle_read_bytes"] == 2 * c["shuffle_write_bytes"] > 0, c
    assert c["result_bytes"] > 0, c


def test_bounded_model_build_does_not_grow_with_the_data(spark):
    """The build phase (the op's own collects, checkpoints and broadcasts
    before it returns its frame) of two bounded-model ops, at sf0.001 and
    sf0.01 (10x the lineitem and edge rows): the same number of jobs at
    both, and ``ml_gbdt_hist``'s driver-bound bytes (its per-round
    histograms and moments) grow < 2x. ``graph_pagerank``'s bytes are not
    pinned: AQE decides at run time whether a broadcast exchange sends
    its rows through the driver, so they vary between runs. Each call is
    profiled warm: a table's first read in the session resolves its
    schema in a job of its own."""
    ops = all_ops()

    def warm_build(name, sf):
        ops[name].fn(spark, sf)
        return obs.profile(spark, lambda: ops[name].fn(spark, sf))[1]

    for name in ("ml_gbdt_hist", "graph_pagerank"):
        small, big = (warm_build(name, f"/root/testdata/sf{sf}") for sf in ("0.001", "0.01"))
        assert small["jobs"] == big["jobs"], (name, small, big)
        if name == "ml_gbdt_hist":
            assert big["result_bytes"] < 2 * small["result_bytes"], (small, big)


def test_profile_counts_materializations(spark):
    """``materializations`` counts the ``io.materialize`` calls made
    inside ``fn``. ``graph_pagerank``'s build materializes its trade
    pairs, its edge frame, its initial ranks and the ranks after rounds
    2, 4 and 5: 6 calls."""
    op = all_ops()["graph_pagerank"]
    _, c = obs.profile(spark, lambda: op.fn(spark, "/root/testdata/sf0.001"))
    assert c["materializations"] == 6, c
    assert obs.profile(spark, lambda: None)[1]["materializations"] == 0
