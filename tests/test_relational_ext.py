"""Invariant tests for the round-2 extended relational ops: CDC snapshot
diff, Bloom-prefiltered join, data-quality expectations."""

from __future__ import annotations

import collections

import pytest

from bpspark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()

def test_cdc_diff_change_type_invariants(spark):
    """I rows carry only new values, D rows only old, U rows must differ
    on a compared column; every emitted key falls in exactly one class."""
    rows = OPS["cdc_snapshot_diff"].fn(spark, SF_SMALL).collect()
    assert rows, "cdc diff empty"
    seen = set()
    for r in rows:
        assert r.change_type in ("I", "D", "U")
        assert r.o_orderkey not in seen
        seen.add(r.o_orderkey)
        if r.change_type == "I":
            assert r.old_price is None and r.new_price is not None
            assert r.o_orderkey % 10 == 0 and r.o_orderkey % 13 != 0
        elif r.change_type == "D":
            assert r.new_price is None and r.old_price is not None
            assert r.o_orderkey % 13 == 0 and r.o_orderkey % 10 != 0
        else:
            assert r.old_price != r.new_price
            assert r.o_orderkey % 7 == 0


def test_dq_expectations_clean_on_testdata(spark):
    """The generated TPC-H-ish tables satisfy every expectation — all 7
    rules evaluate with zero violations over non-empty check sets."""
    rows = OPS["dq_expectations"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.n_checked > 0
        assert r.n_violations == 0, f"{r.rule_id}: {r.n_violations}"


def test_bloom_prefilter_exact_vs_plain_join(spark):
    """Bloom pruning must be invisible in the result: identical row set
    to the plain filtered join (no false negatives by construction)."""
    from pyspark.sql import functions as F

    from bpspark.io import table

    got = {
        (r.o_orderkey, r.o_custkey)
        for r in OPS["join_bloom_prefilter"].fn(spark, SF_SMALL).collect()
    }
    cust = table(spark, SF_SMALL, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    want = {
        (r.o_orderkey, r.o_custkey)
        for r in table(spark, SF_SMALL, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    assert got == want


def test_scd2_merge_history_invariants(spark):
    """Post-merge dimension: every business key has exactly one current
    row; closed rows exist only for changed keys, carry valid_to =
    effective date, and their count equals the changed-key count."""
    rows = OPS["sink_merge_scd2"].fn(spark, SF_SMALL).collect()
    current: dict[int, int] = {}
    closed = 0
    for r in rows:
        if r.is_current:
            assert r.valid_to is None
            current[r.c_custkey] = current.get(r.c_custkey, 0) + 1
        else:
            assert r.valid_to == "1997-01-01"
            assert r.c_custkey % 5 == 0
            closed += 1
    assert set(current.values()) == {1}
    assert closed == sum(1 for k in current if k < 1_000_000 and k % 5 == 0)
    assert any(k >= 1_000_000 for k in current)  # new keys inserted


@pytest.mark.parametrize("name", ["sink_merge_scd1", "sink_merge_scd2", "sink_training_shards"])
def test_earlier_frame_survives_a_second_call(spark, name):
    """A frame a sink op returned still reads its files after a second
    call of the op: the output directory is built once, never rewritten
    under a frame that lists it."""
    first = OPS[name].fn(spark, SF_SMALL)
    second = OPS[name].fn(spark, SF_SMALL)
    want = collections.Counter(map(tuple, second.collect()))
    assert collections.Counter(map(tuple, first.collect())) == want


def test_distribution_drift_statistic_shape(spark):
    """Drift monitor: 10 buckets, both windows populated, chi2
    contributions non-negative and finite; identical across runs."""
    r1 = OPS["profile_distribution_drift"].fn(spark, SF_SMALL).collect()
    r2 = OPS["profile_distribution_drift"].fn(spark, SF_SMALL).collect()
    assert [tuple(x) for x in r1] == [tuple(x) for x in r2]
    assert len(r1) == 10
    for r in r1:
        assert r.n_ref > 0 and r.n_cur >= 0
        assert r.chi2_contrib >= 0


def test_temporal_join_every_order_one_version(spark):
    """Point-in-time join: every order matches exactly one dimension
    version, and the version flips at the 1997 cutover for changed keys."""
    from pyspark.sql import functions as F

    from bpspark.io import table

    rows = OPS["join_temporal_validity"].fn(spark, SF_SMALL).collect()
    n_orders = table(spark, SF_SMALL, "orders").count()
    assert len(rows) == n_orders  # exactly one version per order
    flipped = [r for r in rows if r.segment_at_order.endswith("_v2")]
    assert flipped and all(r.o_custkey % 5 == 0 for r in flipped)


def test_time_travel_versions_isolated(spark):
    """Reading version 1 after version 2 exists must return the 1996
    snapshot untouched (immutability), and v1 counts must be <= v2."""
    from bpspark.layout import sink_time_travel, time_travel_read

    sink_time_travel(spark, SF_SMALL).count()  # materialize both versions
    v1 = {r["o_custkey"]: r["n_orders"] for r in time_travel_read(spark, SF_SMALL, 1).collect()}
    v2 = {r["o_custkey"]: r["n_orders"] for r in time_travel_read(spark, SF_SMALL, 2).collect()}
    assert set(v1) <= set(v2), "customers can only be added over time"
    assert all(v1[k] <= v2[k] for k in v1), "order counts are monotone"


def test_linreg_normal_least_squares_optimality(spark):
    """The fitted plane's SSE can never exceed the intercept-only model's
    (OLS optimality) — a data-independent invariant on top of the
    bit-exact oracle check. (The synthetic price is independent of
    quantity, so coefficient signs are NOT asserted.)"""
    import math

    from pyspark.sql import functions as F

    from bpspark.analytics import ml_linreg_normal
    from bpspark.io import table

    row = ml_linreg_normal(spark, SF_SMALL).collect()[0]
    assert all(
        math.isfinite(row[c]) for c in ("beta_intercept", "beta_quantity", "beta_discount")
    )
    li = table(spark, SF_SMALL, "lineitem")
    pred = (
        F.lit(row["beta_intercept"])
        + F.lit(row["beta_quantity"]) * F.col("l_quantity")
        + F.lit(row["beta_discount"]) * F.col("l_discount")
    )
    stats = li.agg(
        F.sum((F.col("l_extendedprice") - pred) ** 2).alias("sse_model"),
        F.sum(F.col("l_extendedprice") ** 2).alias("syy"),
        F.sum("l_extendedprice").alias("sy"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    sse_mean = stats["syy"] - stats["sy"] ** 2 / stats["n"]
    assert stats["sse_model"] <= sse_mean * (1 + 1e-9)


def test_fk_edge_audit_counts_orphans_and_nulls(spark):
    """Injected violations must be counted exactly: duplicate orphan
    keys count per ROW, NULLs are reported separately and never as
    orphans, and a clean edge reports zeros."""
    from bpspark.quality import _fk_edge_audit

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (99,), (99,), (99,), (None,), (None,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    row = _fk_edge_audit(child, parent, "t->p").collect()[0]
    assert row["fk_edge"] == "t->p"
    assert row["n_child_rows"] == 8
    assert row["n_null_keys"] == 2
    assert row["n_orphans"] == 3  # key 99 appears on 3 rows

    clean = _fk_edge_audit(
        spark.createDataFrame([(1,), (2,)], "k long"), parent, "c->p"
    ).collect()[0]
    assert clean["n_orphans"] == 0 and clean["n_null_keys"] == 0


def test_layout_overlap_extremes(spark):
    """The range layout must report ZERO overlaps (disjoint envelopes),
    the natural layout all-but-self; both layouts conserve rows."""
    from bpspark.registry import all_ops

    pdf = all_ops()["layout_overlap_report"].fn(spark, "/root/testdata/sf0.001").toPandas()
    rng = pdf[pdf["layout"] == "range"]
    nat = pdf[pdf["layout"] == "natural"]
    assert (rng["n_overlapping"] == 0).all()
    assert (nat["n_overlapping"] == len(nat) - 1).all()
    assert rng["n_rows"].sum() == nat["n_rows"].sum()
    # disjointness double-check: sorted range envelopes never intersect
    r = rng.sort_values("mn_day")
    assert (r["mn_day"].iloc[1:].to_numpy() > r["mx_day"].iloc[:-1].to_numpy()).all()


def test_approx_percentile_rerun_deterministic(spark):
    """GK-sketch percentiles are layout-conditional but must be stable
    across reruns in one session (the driver may sweep an op twice);
    returned values are actual dataset elements, hence exact-2dp prices."""
    r1 = sorted(map(tuple, OPS["agg_approx_percentile"].fn(spark, SF_SMALL).collect()))
    r2 = sorted(map(tuple, OPS["agg_approx_percentile"].fn(spark, SF_SMALL).collect()))
    assert r1 == r2
    for _flag, med, p99 in r1:
        assert med <= p99
        assert round(med, 2) == med and round(p99, 2) == p99  # dataset elements


def test_sample_stratified_rerun_deterministic(spark):
    """Seeded sampleBy must select the SAME row set on rerun over the
    same input layout, and respect the stratum fractions qualitatively."""
    r1 = sorted(r["c_custkey"] for r in OPS["sample_stratified"].fn(spark, SF_SMALL).collect())
    r2 = sorted(r["c_custkey"] for r in OPS["sample_stratified"].fn(spark, SF_SMALL).collect())
    assert r1 == r2 and len(r1) > 0
    segs = {r["c_mktsegment"] for r in OPS["sample_stratified"].fn(spark, SF_SMALL).collect()}
    assert "FURNITURE" not in segs  # absent stratum fully dropped
