"""Physical-plan assertions (SURVEY §4.2 "verify, don't build"): the
optimizations we rely on at 100 TB must actually appear in the plans —
filter pushdown into parquet scans, column pruning, broadcast joins for
dims, partial aggregation, window-group-limit for top-k."""

from __future__ import annotations

import contextlib
import io

import pytest

from bpspark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()


def plan_of(spark, name: str) -> str:
    df = OPS[name].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchange_args(plan: str) -> list[str]:
    """The Arguments line of every shuffle Exchange node, in plan order.

    `explain("formatted")` prints the tree line (`Exchange (3)`) and the
    partitioning on a SEPARATE `Arguments:` detail line, so substring
    checks like `plan.count("Exchange hashpartitioning")` match NOTHING —
    several pre-r5 assertions were vacuously true because of this (and
    hid a wrong single-shuffle claim in two q_* docstrings). Always count
    shuffles through this parser."""
    import re

    args = re.findall(r"\(\d+\) Exchange\s*\n(?:Input[^\n]*\n)?Arguments: ([^\n]*)", plan)
    return [re.sub(r"#\d+L?", "", a) for a in args]  # strip exprIds


def hash_exchanges(plan: str) -> list[str]:
    return [a for a in exchange_args(plan) if a.startswith("hashpartitioning")]


def test_flagship_pushdown_and_pruning(spark):
    plan = plan_of(spark, "agg_group_sums")
    # the shipdate filter must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ...and the scan must read only the 6 needed columns of 11
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_quantity" in rs and "l_returnflag" in rs
    # partial + final aggregation (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2


def test_star_join_broadcasts_all_dims(spark):
    plan = plan_of(spark, "q_nation_revenue")
    # customer, nation, region all broadcast → exactly 3 broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3
    # the only shuffle join is orders×lineitem
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_semi_anti_joins_chosen(spark):
    semi = plan_of(spark, "join_semi_validate")
    assert "LeftSemi" in semi
    anti = plan_of(spark, "join_anti_dedup")
    assert "LeftAnti" in anti


def test_asof_join_is_joinless_single_exchange(spark):
    """The as-of emulation must be the tagged-union sort shape: NO join
    node anywhere (the equi-join forms compute O(orders-per-customer²)
    pairs on a skewed entity key) and exactly one hash exchange, on the
    entity key, feeding one sort + window."""
    plan = plan_of(spark, "join_asof_latest_prior")
    assert "Join" not in plan, plan
    exchanges = [
        line for line in plan.splitlines()
        if line.startswith("(") and "Exchange" in line and "Reused" not in line
    ]
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(o_custkey" in plan
    # r12: the tagged union is an exploded [0,1] side array — ONE scan of
    # the fact table (a Generate node), not a Union of two scans
    assert "Window" in plan and "Generate" in plan
    assert "Union" not in plan
    # one scan node = two mentions in explain("formatted"): tree + details
    assert plan.count("Scan parquet") == 2, plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_window_topk_partial_limit(spark):
    plan = plan_of(spark, "win_row_number_topk")
    # Spark inserts WindowGroupLimit so only ~k rows per group shuffle
    assert "WindowGroupLimit" in plan


def test_theta_range_join_not_cartesian(spark):
    plan = plan_of(spark, "join_theta_range")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_limit_does_not_global_sort(spark):
    plan = plan_of(spark, "limit_n")
    assert "TakeOrderedAndProject" in plan


def test_union_all_no_shuffle(spark):
    plan = plan_of(spark, "set_union_all")
    assert "Exchange" not in plan


def test_partitioned_silver_prunes(spark):
    """Reading 2 years from the year-partitioned silver table must show
    partition pruning at the scan."""
    plan = plan_of(spark, "sink_partitioned_silver")
    assert "PartitionFilters" in plan
    assert "order_year IN (1996,1997)" in plan.replace(" ", "").replace("#", " #") or \
           "order_year" in plan.split("PartitionFilters")[1][:200]


def test_bucketed_join_no_shuffle(spark):
    """Both sides bucketed on the join key → the join itself needs no
    Exchange; the only exchange allowed is the post-aggregation one."""
    plan = plan_of(spark, "join_bucketed_colocated")
    join_section = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # bucketed scans: no Exchange between the scans and the join
    assert not any(
        a.startswith(("hashpartitioning(o_orderkey", "hashpartitioning(l_orderkey"))
        for a in exchange_args(plan)
    ), exchange_args(plan)
    assert "SelectedBucketsCount" in plan  # bucket pruning info proves bucketed scan


@pytest.mark.parametrize("name", ["fn_string", "fn_math", "fn_conditional"])
def test_scalar_families_stay_in_codegen(spark, name):
    plan = plan_of(spark, name)
    assert "[codegen id :" in plan  # whole-stage codegen span present
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_corr_regr_single_shuffle_partial_agg(spark):
    plan = plan_of(spark, "agg_corr_regr")
    # moments are plain SUMs: partial + final hash agg, exactly one exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("+- Exchange") == 1
    # only the 3 needed lineitem columns are read
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in rs and "l_discount" in rs and "l_tax" in rs


def test_mode_avoids_window_sort(spark):
    plan = plan_of(spark, "agg_mode")
    assert "Window" not in plan  # argmax form, not row_number
    assert plan.count("HashAggregate") >= 4  # partial+final × two stages


def test_range_joins_never_cartesian(spark):
    for name in ("join_theta_range", "join_range_bucketed"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_histogram_single_shuffle_partial_agg(spark):
    plan = plan_of(spark, "agg_histogram_fixed")
    # bucket expression folds into the scan stage: partial agg before the
    # one hash exchange, final after — no sort, no window
    assert plan.count("HashAggregate") >= 2
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1  # the single partial→final shuffle
    assert "Window" not in tree and "Sort" not in tree
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "struct<l_extendedprice:double>" in rs  # single-column scan


def test_sessionize_window_and_agg_share_user_partitioning(spark):
    plan = plan_of(spark, "sessionize_batch")
    # both lag/sum windows run under ONE user_id exchange; the final
    # groupBy(user_id, session_id) is the only other shuffle
    assert plan.count("hashpartitioning(user_id") >= 1
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") <= 2
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "props" not in rs and "event_type" not in rs  # pruned


def test_gapfill_prunes_and_joins_on_user_day(spark):
    plan = plan_of(spark, "ts_gapfill_locf")
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "props" not in line and "event_type" not in line
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tier3_q7_broadcasts_dims_one_fact_shuffle_join(spark):
    plan = plan_of(spark, "q_nation_trade_volume")
    # supplier, customer, nation×2 broadcast; only lineitem×orders shuffles
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "CartesianProduct" not in plan


def test_tier3_q8_single_agg_pass(spark):
    plan = plan_of(spark, "q_market_share")
    # conditional + total sums in ONE aggregate (no self-join / double scan):
    # 8 table scans, each listed twice in formatted output (tree + node list)
    assert plan.lower().count("scan parquet") <= 16
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_tier3_q10_pushes_returnflag_to_scan(spark):
    plan = plan_of(spark, "q_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan


def test_tier3_q15_no_second_lineitem_scan_for_max(spark):
    plan = plan_of(spark, "q_top_supplier")
    # scalar-max side must reuse the aggregate, not rescan lineitem:
    # lineitem appears at most twice in the formatted node list (AQE may
    # re-list the reused exchange's scan)
    assert plan.lower().count("lineitem.parquet") <= 2
    assert "CartesianProduct" not in plan


def test_tier3_q19_brand_in_pushed_to_part_scan(spark):
    plan = plan_of(spark, "q_disjunctive_predicates")
    # Catalyst pushes the whole brand×size disjunction into the part scan
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in plan
    assert "CartesianProduct" not in plan


def test_tier3_q21_reuses_orderkey_partitioning(spark):
    plan = plan_of(spark, "q_waiting_orders")
    assert "CartesianProduct" not in plan
    # all joins/aggs key on orderkey; the final supplier join broadcasts
    assert plan.count("BroadcastHashJoin") >= 1


def test_q2_shape_groupby_and_window_share_partkey_shuffle(spark):
    """q_min_cost_supplier: the per-(part,supplier) agg and the per-part
    window MIN must reuse one l_partkey-compatible partitioning — at most
    one fact-side Exchange — and part/supplier stay broadcast."""
    plan = plan_of(spark, "q_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    ex = hash_exchanges(plan)
    # exactly two fact-side shuffles, BOTH on reduced data: the group-by
    # exchange moves map-side partials keyed (l_partkey, l_suppkey); the
    # window MIN re-shuffles the |pairs| table on l_partkey alone. A
    # third hash exchange (or one on a non-partkey key) means the
    # reduced-shuffle shape regressed.
    assert len(ex) == 2, ex
    assert ex[0].startswith("hashpartitioning(l_partkey, l_suppkey"), ex
    assert ex[1].startswith("hashpartitioning(l_partkey,"), ex
    assert "Window" in plan


def test_q20_shape_window_reuses_grouping_partitioning(spark):
    """q_dominant_suppliers: grouped fact pass, then window SUM/COUNT and
    the final DISTINCT all run over REDUCED tables — the only exchange
    moving anything fact-sized is the first (partial-aggregated pairs)."""
    plan = plan_of(spark, "q_dominant_suppliers")
    ex = hash_exchanges(plan)
    assert len(ex) == 3, ex
    assert ex[0].startswith("hashpartitioning(l_partkey, l_suppkey"), ex
    assert ex[1].startswith("hashpartitioning(l_partkey,"), ex  # window, |pairs| rows
    assert ex[2].startswith("hashpartitioning(s_suppkey"), ex  # distinct, |suppliers| rows
    assert "CartesianProduct" not in plan


def test_ohlc_single_shuffle_for_windows_and_agg(spark):
    """ts_ohlc_hourly: both row_number windows and the final aggregate
    share the (user_id, hour-bucket) hash partitioning. (Pre-r5 the
    window partitioned by the raw date_trunc EXPRESSION — an internal _w0
    key the aggregate's `bucket` alias didn't match — costing a second
    full-panel exchange that the then-vacuous assertion missed.)"""
    plan = plan_of(spark, "ts_ohlc_hourly")
    ex = hash_exchanges(plan)
    assert len(ex) == 1, ex
    assert ex[0].startswith("hashpartitioning(user_id, bucket"), ex
    assert plan.count("Window") >= 2


def test_skew_kurt_partial_agg_no_window(spark):
    """agg_skew_kurt is plain partial-aggregatable SUMs — two
    HashAggregates (partial+final), one shuffle, no Window/Sort."""
    plan = plan_of(spark, "agg_skew_kurt")
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan


def test_fuzzy_levenshtein_aggregates_before_join(spark):
    """join_fuzzy_levenshtein: DISTINCT collapses to the value domain
    BEFORE the broadcast theta join; no cartesian product of facts."""
    plan = plan_of(spark, "join_fuzzy_levenshtein")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_bitmap_distinct_no_expand(spark):
    plan = plan_of(spark, "agg_bitmap_distinct")
    # the whole point: exact distinct WITHOUT count-distinct's Expand node
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 2  # both levels partial+final


def test_decontaminate_broadcasts_benchmark_semi_join(spark):
    plan = plan_of(spark, "doc_decontaminate")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_basket_pairs_broadcasts_dims_and_counts(spark):
    plan = plan_of(spark, "q_basket_pairs")
    # part dim + the three tiny count frames all broadcast
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 4
    assert "CartesianProduct" not in plan


def test_profile_single_scan_of_orders(spark):
    plan = plan_of(spark, "profile_summary_stats")
    # one pass: exactly one parquet scan of orders feeds all 21 aggregates
    # (formatted plans print each node twice: tree line + detail header)
    assert plan.count("Scan parquet") == 2


def test_lateral_topn_decorrelates_to_window(spark):
    plan = plan_of(spark, "join_lateral_topn")
    # no per-row subquery: Catalyst rewrites LATERAL+LIMIT into window rank
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_collation_predicate_prunes_columns(spark):
    plan = plan_of(spark, "fn_string_collation")
    rs = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "c_mktsegment" in rs and "c_acctbal" not in rs


def test_interpolate_single_user_shuffle(spark):
    plan = plan_of(spark, "ts_interpolate_linear")
    # spine agg, union, and both window passes all hash on user_id; the
    # final sort is the only extra exchange
    ex = hash_exchanges(plan)
    assert len(ex) <= 2, ex
    assert all(a.startswith("hashpartitioning(user_id") for a in ex), ex
    assert "CartesianProduct" not in plan


def test_cumulative_distinct_single_exchange(spark):
    """Both windows (partition by (user,type) and by user) must run off the
    ONE user_id repartition — a second Exchange means the subset-key
    distribution trick regressed."""
    plan = plan_of(spark, "win_cumulative_distinct")
    tree = plan.split("\n\n")[0]  # operator tree section only
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2


def test_anomaly_iqr_broadcasts_fences(spark):
    """The per-type quantile frame must broadcast back onto the events
    scan — shuffling the fact side for a |types|-row join is wrong at
    any scale."""
    plan = plan_of(spark, "ts_anomaly_iqr")
    assert "BroadcastHashJoin" in plan
    tree = plan.split("\n\n")[0]
    # the fact-side scan feeds the join without an Exchange on events
    assert plan.count("SortMergeJoin") == 0


def test_triangle_count_no_cartesian_and_windowed_topk(spark):
    """Top-8 neighbor selection must plan as WindowGroupLimit (partial
    top-k before the shuffle); the two-hop closure joins must stay
    equi-joins — a CartesianProduct means the join keys got lost."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_gini_partial_aggregation(spark):
    """Both aggs need map-side partials so shuffle volume is the distinct
    pair domain, not the event count."""
    plan = plan_of(spark, "agg_gini_impurity")
    assert plan.count("HashAggregate") >= 4  # partial+final × two aggs
    assert "Python" not in plan


def test_compaction_reduces_file_count(spark):
    """sink_compact_small_files must actually shrink the fragment shards
    (16 at small SFs, 64 above 8 MiB — see layout.py) to ≤4 parquet
    files, and coalesce (not repartition) must do it — no Exchange in
    the compaction read-back plan."""
    import glob
    import os
    import tempfile

    OPS["sink_compact_small_files"].fn(spark, SF_SMALL).count()
    from bpspark.io import state_dir

    base = state_dir("compact", SF_SMALL)
    frag = glob.glob(os.path.join(base, "frag", "part-*.parquet"))
    packed = glob.glob(os.path.join(base, "packed", "part-*.parquet"))
    assert len(frag) in (16, 64) and 1 <= len(packed) <= 4


def test_sample_hash_mod_no_shuffle(spark):
    """Hash-mod sampling is a pure scan-stage filter — any Exchange means
    the predicate stopped pipelining."""
    plan = plan_of(spark, "sample_hash_mod")
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree


def test_range_layout_files_have_narrow_disjoint_spans(spark):
    """After repartitionByRange+sort, each file's o_orderdate span must be
    a small slice of the full range (file skipping works), and a
    date-window filter must push down to the scan."""
    import glob
    import os
    import tempfile

    OPS["sink_range_partitioned"].fn(spark, SF_SMALL).count()
    from bpspark.io import state_dir

    dst = state_dir("range", SF_SMALL)
    files = glob.glob(os.path.join(dst, "part-*.parquet"))
    assert len(files) >= 8
    import duckdb

    spans = []
    full_lo, full_hi = None, None
    for f in files:
        lo, hi = duckdb.sql(f"SELECT MIN(o_orderdate), MAX(o_orderdate) FROM '{f}'").fetchone()
        spans.append((lo, hi))
        full_lo = lo if full_lo is None or lo < full_lo else full_lo
        full_hi = hi if full_hi is None or hi > full_hi else full_hi
    total_days = (full_hi - full_lo).days
    # every file covers well under a quarter of the full range
    assert all((hi - lo).days <= total_days // 4 for lo, hi in spans), spans
    plan = plan_of(spark, "sink_range_partitioned")
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan


def test_dynamic_partition_pruning_in_plan(spark):
    """The silver scan's PartitionFilters must contain a runtime
    dynamicpruning expression, not just literals."""
    plan = plan_of(spark, "scan_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_knn_graph_no_cartesian_one_cluster_shuffle(spark):
    """The corpus×corpus kNN graph must never plan an all-pairs join:
    no CartesianProduct / BroadcastNestedLoopJoin; the candidate join is
    an equi-join on cent_id (centroid assignment itself is map-side —
    the quantizer is a literal, so no join/shuffle appears before the
    cluster join)."""
    plan = plan_of(spark, "sim_knn_graph_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cent_id" in plan


def test_bloom_prefilter_on_fact_scan_before_broadcast_join(spark):
    """The Bloom membership test must sit fact-side (xxhash64 probes in a
    Filter feeding the join) and the join itself must broadcast the dim —
    so pruned fact rows die before any shuffle."""
    plan = plan_of(spark, "join_bloom_prefilter")
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan and "shiftleft" in plan
    assert "CartesianProduct" not in plan


def test_zorder_files_cluster_both_dims(spark):
    """Z-order layout: every output file's (partkey, suppkey) min/max
    rectangle must cover a small fraction of the key space IN BOTH DIMS
    (avg normalized area ≲ 0.2 vs ~1.0 for an unordered write) — the
    property that lets conjunctive 2-dim predicates skip files on
    row-group stats."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    OPS["sink_zorder_clustered"].fn(spark, SF_SMALL).count()
    from bpspark.io import state_dir

    dst = state_dir("zorder", SF_SMALL)
    z = spark.read.parquet(dst).withColumn("f", F.input_file_name())
    stats = z.groupBy("f").agg(
        F.min("l_partkey").alias("p0"), F.max("l_partkey").alias("p1"),
        F.min("l_suppkey").alias("s0"), F.max("l_suppkey").alias("s1"),
    ).collect()
    pmax = max(r.p1 for r in stats) or 1
    smax = max(r.s1 for r in stats) or 1
    areas = [((r.p1 - r.p0) / pmax) * ((r.s1 - r.s0) / smax) for r in stats]
    assert len(stats) >= 8
    assert sum(areas) / len(areas) < 0.25, areas
    assert max(areas) < 0.6, areas


def test_mv_refresh_delta_pushdown_no_base_rescan(spark):
    """Incremental MV refresh: the orders scan feeding the delta partial
    aggregate must carry the pushed cutover predicate (work ∝ delta), and
    the MV state must come from the parquet state table, not a second
    full orders aggregation."""
    from bpspark.io import state_dir

    plan = plan_of(spark, "mv_incremental_refresh")
    assert "GreaterThanOrEqual(o_orderdate,1997-01-01" in plan
    assert state_dir("mv", SF_SMALL) in plan  # state parquet feeds the merge join
    # exactly one orders scan (the delta side)
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")


def test_er_blocking_never_cartesian(spark):
    """ER candidate generation must be a block-key equi-join with the
    Levenshtein predicate as an in-block residual — no cartesian, no
    broadcast nested loop. (The registered op's final plan starts from
    checkpointed CC labels, so the pair stage is planned explicitly.)"""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from bpspark.io import table
    from bpspark.llm_ops import _er_candidate_pairs

    s = table(spark, SF_SMALL, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nat"),
        F.col("s_acctbal").alias("bal"),
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        _er_candidate_pairs(s).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    # the block key is the join key
    assert "nat" in plan and "bal" in plan


def test_rag_scoring_is_map_only_over_chunks(spark):
    """Retrieval scoring must stream the chunk corpus through an
    Arrow-batched MapInPandas (the query matrix rides the closure — no
    join, no shuffle of chunk×query pairs); the only exchange after
    scoring carries #batches×#queries best-rows."""
    plan = plan_of(spark, "rag_retrieval_eval")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100 TB skew story must actually engage: a 90%-hot-key join
    under AQE must show SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead in the FINAL adaptive plan (manual salting —
    join_skew_salted — is the explicit cousin; this proves the automatic
    path)."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("w")
        )
        df = left.join(right.hint("merge"), "k").groupBy().count()
        df.collect()  # AQE finalizes the plan only after execution
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spatial_grid_join_is_equi_not_cartesian(spark):
    """The ε-distance spatial join must execute as a broadcast HASH join
    on the grid-cell key with the distance check as a residual — never a
    cartesian/nested-loop over the two point sets."""
    plan = plan_of(spark, "join_spatial_grid")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_column_lineage_shapes(spark):
    """Lineage extraction must resolve alias chains through joins,
    scalar expressions, and window functions down to leaf table.column
    pairs (plan analysis only — nothing executes)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bpspark.io import table
    from bpspark.lineage import column_lineage

    li = table(spark, SF_SMALL, "lineitem")
    q = li.filter(F.col("l_quantity") > 10).select(
        F.col("l_orderkey").alias("ok"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
    )
    assert column_lineage(q, SF_SMALL) == [
        ("net", "lineitem", "l_discount"),
        ("net", "lineitem", "l_extendedprice"),
        ("ok", "lineitem", "l_orderkey"),
    ]
    w = li.select(
        "l_suppkey",
        F.sum("l_quantity").over(Window.partitionBy("l_suppkey")).alias("sq"),
    )
    lin = column_lineage(w, SF_SMALL)
    # the windowed sum depends on BOTH the summed column and its partition key
    assert ("sq", "lineitem", "l_quantity") in lin
    assert ("sq", "lineitem", "l_suppkey") in lin


def test_interval_overlap_join_is_equi_not_cartesian(spark):
    """Interval×interval overlap must run as an equi-join on
    (user, bucket) with the overlap residual — no cartesian/BNLJ —
    and the emit-once bucket filter makes a post-join dedup unnecessary
    (no extra Exchange after the join)."""
    plan = plan_of(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_random_projection_is_map_only(spark):
    """The JL projection must be embarrassingly parallel: literal ±1 sign
    sums + a 16-wide posexplode, all inside the scan stage — any Exchange
    (other than the final presentation sort's) means the matmul fell out
    of the map side."""
    plan = plan_of(spark, "embedding_random_projection")
    tree = plan.split("\n\n")[0]
    # one rangepartitioning exchange for the deterministic output order only
    assert tree.count("Exchange") <= 1
    assert "hashpartitioning" not in tree
    assert "Generate" in tree  # the posexplode


def test_perplexity_model_aggregates_are_partial(spark):
    """Bigram-LM training counts must partially aggregate map-side (the
    shuffle carries distinct bigrams, not corpus positions): each of the
    two count tables shows a partial+final HashAggregate pair."""
    plan = plan_of(spark, "text_perplexity_ngram")
    assert plan.count("HashAggregate") >= 4


def test_minmax_manifest_actually_skips_files(spark):
    """The manifest-pruned read must schedule a strict subset of the
    range-clustered files (planning-time skipping), and the result must
    equal the same query over ALL files (no false negatives)."""
    import glob
    import os

    from bpspark.io import state_dir
    from pyspark.sql import functions as F

    df = OPS["scan_data_skipping_minmax"].fn(spark, SF_SMALL)
    got = {r["l_returnflag"]: (r["n"], r["revenue"]) for r in df.collect()}
    dst = state_dir("skipidx", SF_SMALL)
    all_files = glob.glob(os.path.join(dst, "part-*.parquet"))
    read_files = {os.path.basename(f) for f in df.inputFiles()}
    assert len(read_files) < len(all_files), (len(read_files), len(all_files))
    full = (
        spark.read.parquet(dst)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-05-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
    )
    want = {r["l_returnflag"]: (r["n"], r["revenue"]) for r in full.collect()}
    assert got == want


def test_scan_agg_pushdown_reads_only_footers(spark):
    """With the v2 parquet source + aggregatePushdown, COUNT/MIN/MAX must
    be answered by the scan (PushedAggregation) — no data columns read."""
    from bpspark.layout import _conf_scope
    import pyspark.sql.functions as F

    restore = _conf_scope(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    )
    try:
        df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        restore()
    assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in plan, plan


def test_runtime_bloom_filter_injected_on_fact_scan(spark):
    """InjectRuntimeFilter must plant might_contain(bloom) on the
    lineitem side of the shuffle join when the orders side is
    selectively filtered."""
    from bpspark.layout import RUNTIME_BLOOM_CONFS, _conf_scope, runtime_bloom_join_plan

    restore = _conf_scope(spark, RUNTIME_BLOOM_CONFS)
    try:
        df = runtime_bloom_join_plan(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        restore()
    assert "might_contain" in plan, plan
    # bloom pruning must precede the exchange: no broadcast fallback
    assert "BroadcastHashJoin" not in plan


def test_backfill_touches_only_stale_partitions(spark):
    """The repair write must leave non-stale year partitions physically
    untouched (same files, same mtimes) — the whole point of
    partition-wise backfill."""
    import os

    from bpspark.layout import backfill_stale_partitions_run

    snap = {}

    def take_snapshot(silver):
        for year_dir in os.listdir(silver):
            if not year_dir.startswith("order_year="):
                continue
            d = os.path.join(silver, year_dir)
            snap[year_dir] = sorted(
                (f, os.stat(os.path.join(d, f)).st_mtime_ns)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )

    result, silver, stale_years = backfill_stale_partitions_run(
        spark, SF_SMALL, on_staged=take_snapshot
    )
    result.collect()
    assert stale_years, "harness must simulate at least one stale partition"
    stale_dirs = {f"order_year={y}" for y in stale_years}
    for year_dir, before in snap.items():
        d = os.path.join(silver, year_dir)
        after = sorted(
            (f, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
        if year_dir in stale_dirs:
            assert after != before, f"stale {year_dir} was not rewritten"
        else:
            assert after == before, f"non-stale {year_dir} was touched"


def test_exchange_reuse_in_final_adaptive_plan(spark):
    """The self-joined aggregate must reuse ONE shuffle for both sides —
    ReusedExchange in the executed (AQE-final) plan."""
    df = OPS["q_exchange_reuse_self_join"].fn(spark, SF_SMALL)
    df.collect()  # AQE finalizes the plan during execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan


def test_sql_declared_udf_stays_jvm_side(spark):
    """A CREATE FUNCTION ... RETURN body must inline — no Python
    evaluation node anywhere in the plan."""
    df = OPS["udf_sql_declared"].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Python" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_query_profile_cardinalities(spark):
    """The executed-plan metrics walk must report the exact deterministic
    cardinalities: full orders scan, one join row per order and the
    25-nation final aggregate. The join carries no hint, so with
    broadcasts off (``autoBroadcastJoinThreshold`` = -1) the plan has no
    BroadcastHashJoin and the cardinalities are the same."""
    n_orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()

    def cardinalities():
        pdf = OPS["meta_query_profile"].fn(spark, SF_SMALL).toPandas()
        assert (pdf.value >= 0).all()
        rows_metric = pdf[pdf.metric == "numOutputRows"]
        # the orders parquet scan outputs every row of the table
        assert n_orders in set(rows_metric.value), rows_metric.to_string()
        joins = rows_metric[rows_metric.node.str.contains("Join")]
        # the final aggregate outputs one row per nation key present
        agg_rows = rows_metric[rows_metric.node.str.contains("HashAggregate")]
        assert agg_rows.value.min() <= 25
        return set(pdf.node), sorted(joins.value), agg_rows.value.min()

    _, joins, aggs = cardinalities()
    assert joins == [n_orders], joins
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        nodes, joins_off, aggs_off = cardinalities()
    finally:
        spark.conf.set(key, before)
    assert not any("BroadcastHashJoin" in n for n in nodes), sorted(nodes)
    assert (joins_off, aggs_off) == (joins, aggs)


def test_cached_table_uses_inmemory_scan(spark):
    """CACHE TABLE must route the query through InMemoryTableScan."""
    import uuid

    from bpspark.io import table as _table

    view = f"bp_cachetest_{uuid.uuid4().hex[:8]}"
    _table(spark, SF_SMALL, "orders").createOrReplaceTempView(view)
    spark.sql(f"CACHE TABLE {view}")
    try:
        df = spark.sql(f"SELECT COUNT(*) AS n FROM {view}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "In-memory table" in plan or "InMemoryTableScan" in plan, plan
    finally:
        spark.sql(f"UNCACHE TABLE {view}")
        spark.catalog.dropTempView(view)


def test_delete_where_cow_leaves_nonmatching_files_untouched(spark):
    """Files whose min/max span cannot contain a deletion match must be
    carried into the new snapshot by hard link, never rewritten."""
    import glob
    import os

    from bpspark.io import state_dir

    OPS["maintenance_delete_where_cow"].fn(spark, SF_SMALL).collect()
    src = os.path.join(state_dir("cowdel", SF_SMALL), "clustered")
    files = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    assert files
    # at least one source file must have nlink > 1 => carried by hard link
    linked = [f for f in files if os.stat(f).st_nlink > 1]
    assert linked, "no file was carried untouched"
    assert len(linked) < len(files), "every file linked — deletion touched nothing?"



def test_hybrid_rrf_no_cartesian_and_take_ordered(spark):
    """RRF legs must TakeOrdered their candidates (no global sort
    materialization) and the only product joins are broadcast (query
    row / stats row); the corpus never crosses itself."""
    plan = plan_of(spark, "search_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan, "corpus-level cartesian leaked in"


def test_doc_pack_tokenized_tokenize_is_map_only(spark):
    """The BPE tokenize pass must add ZERO shuffles (merge table = plan
    literals): the whole plan carries exactly two exchanges — the
    applyInPandas group hash on source and the output orderBy range —
    and one FlatMapGroupsInPandas node."""
    plan = plan_of(spark, "doc_pack_tokenized")
    args = exchange_args(plan)
    assert len(args) == 2, args
    assert "hashpartitioning(source" in args[0], args
    assert "rangepartitioning" in args[1], args
    import re

    # formatted explain prints each node twice (tree line + detail
    # header) — count only the numbered detail headers
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert "CartesianProduct" not in plan


def test_crossencoder_rerank_broadcasts_candidates(spark):
    """The rerank must never shuffle the documents table by itself: the
    candidate set joins via broadcast, the only hash exchanges belong to
    the bounded RRF candidate legs (doc_id/tok aggregates), and exactly
    one Arrow MapInPandas stage feeds the scorer."""
    plan = plan_of(spark, "search_crossencoder_rerank")
    import re

    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    for a in exchange_args(plan):
        assert "hashpartitioning" in a or "SinglePartition" in a or "rangepartitioning" in a


def test_weighted_reservoir_two_phase_windows(spark):
    """The salted two-phase top-K must appear as two window operators
    (phase 1 on (lang, salt), phase 2 on lang) with no global sort."""
    plan = plan_of(spark, "sample_weighted_reservoir")
    assert plan.count("Window") >= 2
    # final orderBy is on the K*|langs| survivors only — tolerated; the
    # corpus itself must not be globally range-partitioned before phase 1
    first_window = plan.find("Window")
    assert first_window != -1


def test_incremental_topk_broadcasts_queries(spark):
    """Both the state-build and batch legs broadcast the 10-query side;
    the corpus streams through without a corpus-sized shuffle join."""
    plan = plan_of(spark, "sim_incremental_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_adaptive_route_broadcasts_both_query_subsets(spark):
    """Both routed query subsets ride broadcasts; the corpus-side joins
    are the IVF cluster equi-join plus the broadcast exact leg."""
    plan = plan_of(spark, "sim_adaptive_route")
    assert plan.count("Broadcast") >= 2
    assert "CartesianProduct" not in plan


def test_bm25_incremental_pushes_terms_and_broadcasts(spark):
    """The query side of the segment index must (a) push the term filter
    into the postings parquet scan (the probe reads only the queried
    terms' row-group ranges, never the full postings), (b) broadcast the
    |terms|-row df table and 1-row stats sidecar, and (c) never go
    cartesian at corpus size. TakeOrdered handles the top-10."""
    plan = plan_of(spark, "search_bm25_incremental")
    assert "PushedFilters: [In(tok," in plan, "term filter not pushed to postings scan"
    assert plan.count("BroadcastExchange") >= 2  # df + stats
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_stream_ivf_assignment_is_map_only(spark):
    """The per-micro-batch work of stream_ivf_index_append — home-cell
    assignment against the frozen literal quantizer — must be a pure
    map-side projection: zero Exchange, zero join, zero aggregate. The
    only shuffle-free plan shape that keeps the 100 TB hot path at
    batch_rows x k x d flops."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from bpspark.io import table
    from bpspark.llm_ops import _assign_home, _with_norm
    from bpspark.streaming import _ivf_stream_quantizer

    e = _with_norm(table(spark, SF_SMALL, "embeddings")).select(
        "vec_id", "embedding", "norm"
    )
    cent_lit, _k = _ivf_stream_quantizer(e.filter(F.pmod("vec_id", F.lit(3)) == 0))
    assigned = _assign_home(e, cent_lit).select(
        "vec_id", F.col("home_cent").alias("cluster_id")
    )
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, "assignment must not shuffle"
    assert "Join" not in plan and "Aggregate" not in plan


def test_bm25_segment_merge_query_plan_matches_incremental(spark):
    """The merged segment is served by the SAME read path as the live
    segments (shared _bm25_query_segments): pushed term predicate on the
    postings scan, broadcast df + stats, TakeOrdered top-10, no
    cartesian — compaction must not change the query plan shape."""
    plan = plan_of(spark, "search_bm25_segment_merge")
    assert "PushedFilters: [In(tok," in plan, "term filter not pushed to postings scan"
    assert plan.count("BroadcastExchange") >= 2  # df + stats
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_context_pack_single_explode_no_cartesian(spark):
    """rag_context_pack must explode the corpus exactly ONCE (the doc
    lengths come from a map-only size(split()) projection, never a second
    Generate) and stay join-safe at corpus size."""
    plan = plan_of(spark, "rag_context_pack")
    # formatted plans print each node twice (tree line + detail heading);
    # count the detail headings only
    assert plan.count(") Generate") == 1, "corpus exploded more than once"
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_pairs_without_self_join(spark):
    """er_sorted_neighborhood's window pairs must come from lead() after
    one per-block sort — never a self-join (the SNM efficiency claim):
    no join node of any kind in the plan, exactly one Window spec
    reused, no cartesian."""
    plan = plan_of(spark, "er_sorted_neighborhood")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_heavy_hitters_candidate_semi_join(spark):
    """The exact pass must aggregate ONLY candidate postings: a
    broadcast left-semi join cuts the token stream before the count
    shuffle, and nothing goes cartesian."""
    plan = plan_of(spark, "agg_heavy_hitters_mg")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# r5 window ops: the round-5 sweep promoted these into the driver window;
# pin the plan shapes their docstrings promise (measured via exchange_args —
# the parser that made the pre-r5 vacuous substring checks impossible).
# ---------------------------------------------------------------------------


def test_q3_shape_one_fact_shuffle_topk(spark):
    """q_shipping_priority: dims broadcast, ONE fact-side exchange (the
    partial-aggregated group-by), top-k via TakeOrderedAndProject — no
    global sort of the aggregate."""
    plan = plan_of(spark, "q_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    ex = hash_exchanges(plan)
    assert len(ex) == 1, ex


def test_set_except_is_anti_join_plus_distinct(spark):
    """set_except: EXCEPT compiles to an anti join + one distinct
    aggregate exchange — never a cartesian or a full sort."""
    plan = plan_of(spark, "set_except")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert len(hash_exchanges(plan)) <= 1, hash_exchanges(plan)


def test_embedding_cosine_is_equi_join_on_label(spark):
    """dedup_embedding_cosine: the label block key must drive a HASH equi
    join (cosine + orientation as residual condition) — a nested-loop or
    cartesian here is the all-pairs quadratic failure mode."""
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


@pytest.mark.parametrize(
    "name",
    ["win_mixed_frame", "win_percent_rank_cume", "win_time_range_interval",
     "win_first_last_ignore_nulls"],
)
def test_window_families_single_partition_exchange(spark, name):
    """Each win_* op computes ALL its frames off one hash partitioning —
    a second hash exchange means a window stopped sharing the key."""
    plan = plan_of(spark, name)
    assert "Window" in plan
    assert len(hash_exchanges(plan)) <= 1, hash_exchanges(plan)


@pytest.mark.parametrize("name", ["agg_bool_and_or", "agg_weighted_avg"])
def test_simple_agg_partial_plus_final_one_exchange(spark, name):
    plan = plan_of(spark, name)
    assert plan.count("HashAggregate") >= 2  # map-side combine
    assert len(hash_exchanges(plan)) == 1, hash_exchanges(plan)


def test_collect_arrays_partial_object_agg(spark):
    """agg_collect_arrays: collect_list/set partial-aggregate map-side
    (ObjectHashAggregate ×2) around exactly one exchange."""
    plan = plan_of(spark, "agg_collect_arrays")
    assert plan.count("ObjectHashAggregate") >= 2
    assert len(hash_exchanges(plan)) == 1, hash_exchanges(plan)


def test_hypertable_rollup_expand_single_shuffle(spark):
    """q_hypertable_rollup: ROLLUP = Expand before the partial aggregate,
    so the grouping-set fan-out still map-side combines into ONE
    exchange."""
    plan = plan_of(spark, "q_hypertable_rollup")
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2
    assert len(hash_exchanges(plan)) == 1, hash_exchanges(plan)


def test_unpivot_is_map_only(spark):
    """reshape_unpivot: unpivot is an Expand projection — zero shuffles."""
    plan = plan_of(spark, "reshape_unpivot")
    assert "Expand" in plan
    assert not exchange_args(plan), exchange_args(plan)


def test_right_outer_join_type_preserved(spark):
    plan = plan_of(spark, "join_right_outer")
    assert "RightOuter" in plan or "LeftOuter" in plan  # build-side flip allowed
    assert "CartesianProduct" not in plan


def test_ts_family_shares_user_partitioning(spark):
    """ts_scd2_intervals: both windows off one user_id exchange;
    ts_gaps_islands: day-dedup agg + island windows, both keyed on
    user_id — at most two user-keyed exchanges, nothing else."""
    plan = plan_of(spark, "ts_scd2_intervals")
    ex = hash_exchanges(plan)
    assert len(ex) == 1 and ex[0].startswith("hashpartitioning(user_id"), ex
    plan = plan_of(spark, "ts_gaps_islands")
    ex = hash_exchanges(plan)
    assert len(ex) <= 2, ex
    assert all(a.startswith("hashpartitioning(user_id") for a in ex), ex


def test_autocorrelation_single_corpus_pass(spark):
    """ts_autocorrelation: the daily rollup is localCheckpointed, so the
    lag join, its mirror side, and the stats aggregate all read the tiny
    checkpointed panel — the events parquet is scanned by ZERO nodes of
    the returned plan (the one corpus pass happened at build time).
    Pre-r5 the rollup subtree was planned three times."""
    plan = plan_of(spark, "ts_autocorrelation")
    assert "Scan parquet" not in plan, "corpus rescan crept back in"
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_simhash", "dedup_semdedup", "text_boilerplate_ngrams",
     "graph_degree_distribution", "ts_seasonal_decompose", "rag_context_pack",
     "graph_label_propagation", "graph_kcore_decompose", "privacy_l_diversity"],
)
def test_window_ops_never_cartesian(spark, name):
    """Every pair-emitting / iterative op in the r5 window stays on equi
    joins — no CartesianProduct, no non-broadcast nested loop."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, name


def test_simhash_plan_has_no_python_boundary(spark):
    """The r8 rewire's point: the signature (md5 token hashes, 64
    majority-vote SUMs, 32-bit halves) runs entirely JVM-side — the old
    mapInPandas signature stage is gone, so the WHOLE plan must be free
    of Python eval nodes (the one former exception in the dedup family)."""
    plan = plan_of(spark, "dedup_simhash")
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan, f"{node} crept back into dedup_simhash"


def test_q21_shape_is_windowed_single_fact_exchange(spark):
    """q_waiting_orders: the EXISTS/NOT-EXISTS pair runs as two window
    aggregates over ONE l_orderkey exchange (the r4 decorrelated re-join
    form re-planned the fact subtree into 11 exchanges)."""
    plan = plan_of(spark, "q_waiting_orders")
    ex = hash_exchanges(plan)
    assert len(ex) == 2, ex
    assert ex[0].startswith("hashpartitioning(l_orderkey"), ex
    assert ex[1].startswith("hashpartitioning(s_name"), ex
    assert plan.count("Window") >= 2


def test_basket_pairs_dedup_materialized_once(spark):
    """q_basket_pairs: the (order, brand) dedup is localCheckpointed, so
    the returned plan reads the materialized basket — the corpus scan and
    the dedup exchange must be ABSENT from it (they ran once at build
    time; pre-r5 the dedup subtree was planned four times)."""
    plan = plan_of(spark, "q_basket_pairs")
    assert "Scan parquet" not in plan
    assert not any(
        a.startswith("hashpartitioning(o, brand") for a in hash_exchanges(plan)
    ), hash_exchanges(plan)


def test_video_fingerprint_python_only_in_hash_stage(spark):
    """dedup_video_fingerprint's Python boundary must be exactly the
    Arrow-batched decode+segment+keyframe-hash stage — one logical
    stage, physically instantiated once per LSH side (probe + exact
    re-derive from sig, the same 2x-decode constant the certified
    image/audio ops carry); banding, the bucket join, the popcount
    screen and the scene aggregation must all be JVM, with no cartesian
    anywhere (the shared LSH contract)."""
    import re

    plan = plan_of(spark, "dedup_video_fingerprint")
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", plan))
    assert len(nodes) == 2, f"expected the 2-side hash stage, got {sorted(nodes)}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair screen's bit_count must be JVM-side, not Python
    assert "bit_count" in plan


def test_state_dir_invalidates_on_data_change(tmp_path):
    """state_dir must key on the DATASET CONTENT, not just the sf-dir
    basename (r11 review: the r10 BPE-memo bug class generalized — a
    harness that regenerates the corpus at the same path must never be
    served state derived from the previous files). Touching any table
    file must yield a different state directory."""
    import os
    import time

    from bpspark.io import state_dir

    sf = tmp_path / "sfX"
    sf.mkdir()
    tbl = sf / "orders.parquet"
    tbl.write_bytes(b"v1-bytes")
    d1 = state_dir("probe", str(sf))
    # same data -> same dir (stable across calls)
    assert state_dir("probe", str(sf)) == d1
    # rewrite the table (size change) -> different dir
    tbl.write_bytes(b"v2-bytes-longer")
    d2 = state_dir("probe", str(sf))
    assert d2 != d1
    # same size, newer mtime -> still invalidates
    time.sleep(0.01)
    tbl.write_bytes(b"v3-bytes-longer")
    os.utime(tbl)
    assert state_dir("probe", str(sf)) not in (d1, d2)
    # partitioned-directory tables participate too
    part = sf / "events.parquet"
    part.mkdir()
    (part / "part-0.parquet").write_bytes(b"p")
    assert state_dir("probe", str(sf)) not in (d1, d2)


def test_state_dir_content_sample(tmp_path):
    """ADVICE r11 closure: a same-size regeneration whose mtime is pinned
    back to the original (coarse-granularity filesystems) must STILL
    invalidate — the fingerprint samples file content, not just stat."""
    import os

    from bpspark.io import state_dir

    sf = tmp_path / "sfY"
    sf.mkdir()
    tbl = sf / "orders.parquet"
    tbl.write_bytes(b"generation-one!!")
    st = os.stat(tbl)
    d1 = state_dir("probe", str(sf))

    # regenerate: SAME size, mtime pinned back to generation one
    tbl.write_bytes(b"generation-two!!")
    os.utime(tbl, ns=(st.st_atime_ns, st.st_mtime_ns))
    d2 = state_dir("probe", str(sf))
    assert d2 != d1, "content change with identical stat() was not detected"


@pytest.mark.parametrize("name", ["sim_cosine_ivf", "sim_ivf_index_persist"])
def test_ivf_centroid_assignment_is_a_projection(spark, name):
    """Centroid assignment and query probing rank the literal quantizer
    inside a projection: no nested-loop join against a centroid table and
    no Window that ranks centroids (partitioned by vec_id or ordered by
    csim) anywhere in the plan."""
    import re

    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    windows = re.findall(r"\(\d+\) Window\s*\n(?:Input[^\n]*\n)?Arguments: ([^\n]*)", plan)
    assert windows, "the top-5 re-rank window is missing from the plan"
    for args in windows:
        assert "csim" not in args, args
        assert not re.search(r"\], \[vec_id#", args), args
