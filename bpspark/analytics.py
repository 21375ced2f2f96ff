"""Composed analytical queries — multi-operator plans in the TPC-H style,
adapted to the testdata schema (TESTDATA.md). These are the "real user
query" tier above the single-operator inventory: each composes scans,
broadcast + shuffle joins, aggregation, window, and top-k in one plan and
is fully oracle-checked.

Scale notes: every query keeps dims broadcast, facts shuffled at most once
on their join key, and aggregates partial-first. These are the shapes a
1000-executor cluster runs all day."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bpspark.io import materialize, table
from bpspark.registry import op


@op(
    "q_shipping_priority",
    sql="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 20
    """,
)
def q_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers (broadcast) × orders ×
    lineitem, revenue per order, top-20. The customer filter runs before
    the join, so the broadcast side is small; lineitem shuffles once."""
    c = table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(20)
    )


@op(
    "q_nation_revenue",
    sql="""
    SELECT n_name AS nation,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def q_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for one region — a 5-table star
    with every dim broadcast; only orders×lineitem shuffles."""
    li = table(spark, sf, "lineitem")
    o = table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    r = table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@op(
    "q_top_parts_per_brand",
    sql="""
    SELECT p_brand, p_partkey, part_revenue FROM (
        SELECT p_brand, p_partkey,
               ROUND(SUM(l_extendedprice), 2) AS part_revenue,
               ROW_NUMBER() OVER (
                   PARTITION BY p_brand ORDER BY ROUND(SUM(l_extendedprice), 2) DESC, p_partkey
               ) AS rn
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    ) WHERE rn <= 3
    """,
)
def q_top_parts_per_brand(spark: SparkSession, sf: str) -> DataFrame:
    """Agg → window top-k composition: top-3 revenue parts per brand.
    The aggregate shrinks the data before the window shuffle."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part")
    per_part = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("part_revenue").desc(), F.col("p_partkey"))
    return (
        per_part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "part_revenue")
    )


@op(
    "q_hypertable_rollup",
    sql="""
    SELECT event_type,
           time_bucket(INTERVAL '1 day', ts) AS day_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(SUM(value), 2) / COUNT(*) AS avg_value
    FROM events
    GROUP BY ROLLUP (event_type, time_bucket(INTERVAL '1 day', ts))
    """,
)
def q_hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: per-(type, day) metrics
    with subtotals per type and a grand total in one Expand+aggregate pass.
    The partitioned-by-time layout this models is exactly how the events
    table would be stored at 100 TB (partition pruning on day)."""
    e = table(spark, sf, "events")
    day = F.date_trunc("day", "ts").alias("day_start")
    return (
        e.select("event_type", day, "value")
        .rollup("event_type", "day_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
        )
    )


@op(
    "q_order_fulfillment_funnel",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS pipeline_value,
           COUNT(*) FILTER (WHERE shipped_lines = total_lines) AS fully_shipped
    FROM (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               COUNT(*) AS total_lines,
               COUNT(*) FILTER (WHERE l_shipdate <= TIMESTAMP '1999-01-01') AS shipped_lines
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderstatus, o_totalprice
    )
    GROUP BY o_orderstatus
    """,
)
def q_order_fulfillment_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Two-level aggregation funnel: per-order line counts, then per-status
    rollup with conditional aggregates — the reference's workflow-status
    reporting shape (R14 control table analytics) at query scale."""
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    cutoff = F.lit("1999-01-01").cast("timestamp")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("total_lines"),
            F.count(F.when(F.col("l_shipdate") <= cutoff, 1)).alias("shipped_lines"),
        )
    )
    return per_order.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("pipeline_value"),
        F.count(F.when(F.col("shipped_lines") == F.col("total_lines"), 1)).alias("fully_shipped"),
    )


@op(
    "agg_corr_regr",
    sql="""
    SELECT l_returnflag, n,
           (sxy - sx * sy / n) / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
               AS corr_xy,
           (sxy - sx * sy / n) / (sxx - sx * sx / n) AS regr_slope_yx,
           (sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
               AS regr_intercept_yx
    FROM (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               ROUND(SUM(l_discount), 2) AS sx,
               ROUND(SUM(l_tax), 2) AS sy,
               ROUND(SUM(l_discount * l_discount), 4) AS sxx,
               ROUND(SUM(l_tax * l_tax), 4) AS syy,
               ROUND(SUM(l_discount * l_tax), 4) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def agg_corr_regr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation + simple linear regression (corr / regr_slope /
    regr_intercept family) via stabilized moments, per group.

    Native corr()/regr_*() differ across engines in the last ulps
    (accumulation order), so the cross-engine-exact form snaps the exact-2dp
    moment sums with ROUND (the agg_stddev_stable trick: l_discount and
    l_tax are small-magnitude exact-decimal columns, so Σx, Σx², Σxy are
    exactly representable after rounding) and then evaluates the SAME
    IEEE-deterministic expression tree in both engines. One shuffle,
    partial-aggregated map-side — the moments are plain SUMs, so this holds
    at 100 TB exactly like any groupBy-sum."""
    li = table(spark, sf, "lineitem")
    moments = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("l_discount"), 2).alias("sx"),
        F.round(F.sum("l_tax"), 2).alias("sy"),
        F.round(F.sum(F.col("l_discount") * F.col("l_discount")), 4).alias("sxx"),
        F.round(F.sum(F.col("l_tax") * F.col("l_tax")), 4).alias("syy"),
        F.round(F.sum(F.col("l_discount") * F.col("l_tax")), 4).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = sxy - sx * sy / n
    var_x = sxx - sx * sx / n
    var_y = syy - sy * sy / n
    slope = cov_n / var_x
    return moments.select(
        "l_returnflag",
        "n",
        (cov_n / F.sqrt(var_x * var_y)).alias("corr_xy"),
        slope.alias("regr_slope_yx"),
        ((sy - slope * sx) / n).alias("regr_intercept_yx"),
    )


@op(
    "q_order_priority_exists",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_order_priority_exists(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a half-year window that have at least one
    late-shipping lineitem, counted by priority. The EXISTS decorrelates to
    a LEFT SEMI join on the order key with the ship-after-order predicate as
    a join condition — one shuffle on the key, no duplicate inflation, and
    Catalyst keeps the date filter pushed into the orders scan."""
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@op(
    "q_customer_order_distribution",
    sql="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, with a
    non-key join predicate on the outer side (priority exclusion — the
    classic "comments NOT LIKE" slot). LEFT OUTER keeps zero-order
    customers as c_count=0. Two aggregations: the first shuffles on
    c_custkey, the second on the (tiny-cardinality) count — the second
    shuffle is negligible at any scale."""
    c = table(spark, sf, "customer").select("c_custkey")
    o = table(spark, sf, "orders").filter(F.col("o_orderpriority") != "5-LOW").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@op(
    "q_promo_revenue_share",
    sql="""
    SELECT ROUND(100.0 * promo_rev / total_rev, 4) AS promo_share_pct,
           promo_rev, total_rev
    FROM (
        SELECT ROUND(SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END), 2) AS promo_rev,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
    )
    """,
)
def q_promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one quarter. part is the
    broadcast dim; the conditional aggregate is a single map-side-partial
    pass over the date-pruned lineitem scan. Both engines round the two
    sums first, then evaluate the identical IEEE division (determinism rule:
    never round a ratio of unrounded float sums)."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = table(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    sums = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 2).alias("promo_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
    )
    return sums.select(
        F.round(100.0 * F.col("promo_rev") / F.col("total_rev"), 4).alias("promo_share_pct"),
        "promo_rev",
        "total_rev",
    )


@op(
    "q_small_quantity_revenue",
    sql="""
    WITH part_avg AS (
        SELECT l_partkey AS pa_partkey,
               SUM(l_quantity) / COUNT(*) AS avg_qty
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT p_brand,
           ROUND(SUM(l_extendedprice), 2) AS below_avg_rev,
           COUNT(*) AS n_small
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN part_avg ON l_partkey = pa_partkey
    WHERE l_quantity < 0.5 * avg_qty
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below half
    the per-part average — the correlated scalar subquery decorrelated into
    an aggregate + self-join on l_partkey. l_quantity is integer-valued, so
    SUM/COUNT is exact and the 0.5× threshold compare is bit-identical in
    both engines. Both the fact and the per-part aggregate shuffle on
    l_partkey, so AQE can plan the join without a third exchange."""
    li = table(spark, sf, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    p = table(spark, sf, "part").select("p_partkey", "p_brand")
    return (
        li.join(part_avg, li.l_partkey == part_avg.pa_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("below_avg_rev"),
            F.count(F.lit(1)).alias("n_small"),
        )
        .orderBy("p_brand")
    )


@op(
    "q_large_volume_customers",
    sql="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q_large_volume_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back to orders+customer, top-50 by price. The HAVING filter runs
    map-side-partial first, so the surviving key set is tiny (~0.1% of
    orders) and broadcasts into both subsequent joins — at 100 TB this is
    one lineitem shuffle plus two broadcast probes, no orders/customer
    shuffle. qty sums are integer-valued doubles → exact."""
    li = table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


@op(
    "q_dormant_high_balance",
    sql="""
    WITH avg_bal AS (
        SELECT ROUND(SUM(c_acctbal), 2) / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT ab FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_dormant_high_balance(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and NO RECENT
    orders (none since 1999-01-01 — the testdata order span is 1995-01 ..
    2001-08), grouped by segment. "Dormant = zero orders ever" was
    degenerate here: every customer has ~10 orders at every SF, so the op
    certified on an empty result (replica VACUOUS audit, VERDICT r4
    item 8); the recency form yields 2/14/148 rows at sf0.001/0.01/0.1.
    The scalar subquery (global average balance) is a broadcast single-row
    cross join; NOT EXISTS is a LEFT ANTI join on o_custkey with the date
    predicate pushed into the orders scan. Average uses the
    round-sum-then-divide form so the threshold double is bit-identical
    across engines; the anti join shuffles customer+orders keys once each
    (orders projected to the key column only, so the shuffle payload is
    minimal)."""
    c = table(spark, sf, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias("ab"))
    )
    o_keys = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@op(
    "q_yoy_revenue_growth",
    sql="""
    SELECT order_year, revenue,
           ROUND(100.0 * (revenue - prev_revenue) / prev_revenue, 4) AS yoy_growth_pct
    FROM (
        SELECT order_year, revenue,
               LAG(revenue) OVER (ORDER BY order_year) AS prev_revenue
        FROM (
            SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY 1
        )
    )
    ORDER BY order_year
    """,
)
def q_yoy_revenue_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Year-over-year revenue growth: per-year aggregate, then LAG over the
    (tiny) year series and a post-round ratio. The expensive part is one
    map-side-partial sum over orders; the window runs on a handful of rows,
    so the single-partition window sort is irrelevant at any scale."""
    o = table(spark, sf, "orders")
    yearly = o.groupBy(F.year("o_orderdate").cast("long").alias("order_year")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("order_year")
    return (
        yearly.withColumn("prev_revenue", F.lag("revenue").over(w))
        .select(
            "order_year",
            "revenue",
            F.round(100.0 * (F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"), 4).alias("yoy_growth_pct"),
        )
        .orderBy("order_year")
    )


@op(
    "q_nation_trade_volume",
    sql="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue, COUNT(*) AS n_lines
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(YEAR FROM l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_nation_trade_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Both nation dims broadcast (double-aliased); the only shuffles
    are lineitem×orders on orderkey and the final tiny group-by. The
    disjunctive nation pair predicate lands AFTER the broadcast joins but
    BEFORE the fact-fact shuffle of the aggregate, so at 100 TB the agg
    input is already pair-filtered."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf, "orders")
    s = table(spark, sf, "supplier")
    c = table(spark, sf, "customer")
    n1 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # NATION_3/NATION_8, not 1/2: the pair must have SUPPLIERS at every
    # test SF (sf0.001 has 10 suppliers across 10 nations; 1 and 2 are not
    # among them, which made the op empty — and the parity test vacuous —
    # at the smallest SF).
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@op(
    "q_market_share",
    sql="""
    SELECT o_year,
           ROUND(nation_rev / total_rev, 6) AS mkt_share,
           nation_rev, total_rev
    FROM (
        SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
               ROUND(SUM(CASE WHEN n2.n_name = 'NATION_5'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END), 2) AS nation_rev,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'STANDARD'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_year
    )
    ORDER BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's STANDARD-
    part revenue per year — conditional vs unconditional sum in a single
    aggregate pass (no self-join, no second scan). Every dim broadcast;
    the fact side shuffles once on orderkey. Float determinism: both sums
    rounded to 2dp first, then the share is a division of identical
    doubles (bit-identical cross-engine) rounded at 6dp."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = table(spark, sf, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n2 = table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    yearly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0)), 2
            ).alias("nation_rev"),
            F.round(F.sum(vol), 2).alias("total_rev"),
        )
    )
    return yearly.select(
        "o_year",
        F.round(F.col("nation_rev") / F.col("total_rev"), 6).alias("mkt_share"),
        "nation_rev",
        "total_rev",
    ).orderBy("o_year")


@op(
    "q_product_profit",
    sql="""
    SELECT nation, o_year, sum_revenue, sum_cost,
           sum_revenue - sum_cost AS sum_profit
    FROM (
        SELECT n_name AS nation,
               EXTRACT(YEAR FROM o_orderdate) AS o_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_revenue,
               ROUND(SUM(0.1 * p_retailprice * l_quantity), 2) AS sum_cost
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_type = 'ECONOMY'
        GROUP BY 1, 2
    )
    ORDER BY nation, o_year
    """,
)
def q_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year. The
    reference schema has no partsupp, so supply cost is proxied as
    0.1×p_retailprice×l_quantity — same plan shape (part filter, 4 dims,
    fact×fact on orderkey, two-key agg). part is filtered to 1/6 before
    its join; supplier+nation broadcast. Float determinism: revenue and
    cost are summed and rounded SEPARATELY (each a positive same-scale
    sum, stable far below the 2dp grain); profit is then a difference of
    bit-identical doubles — summing the signed amount directly put the
    total exactly on a .xx5 boundary and flipped the last cent between
    engines."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    s = table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cost = 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(revenue), 2).alias("sum_revenue"),
            F.round(F.sum(cost), 2).alias("sum_cost"),
        )
        .select(
            "nation",
            "o_year",
            "sum_revenue",
            "sum_cost",
            (F.col("sum_revenue") - F.col("sum_cost")).alias("sum_profit"),
        )
        .orderBy("nation", "o_year")
    )


@op(
    "q_returned_items",
    sql="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. The returnflag filter prunes lineitem at the scan (pushed
    down); orders date-filtered before the join; nation broadcast. Customer
    join shuffles on custkey only after the fact side is pre-aggregatable.
    Deterministic top-k: tie-break on c_custkey."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@op(
    "q_priority_shipping_mix",
    sql="""
    SELECT l_returnflag,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_priority_shipping_mix(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode→returnflag, schema has no l_shipmode):
    per-flag counts of high- vs low-priority order lines shipped in a
    year — join + conditional COUNT in one agg pass. Fact×fact shuffle on
    orderkey; 3-row output."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@op(
    "q_top_supplier",
    sql="""
    WITH rev AS (
        SELECT l_suppkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue. The scalar
    MAX subquery becomes a 1-row broadcast cross join against the per-
    supplier aggregate — no collect, no second scan of lineitem (the agg
    is reused for both sides). Equality on 2dp-rounded doubles is safe
    cross-engine (both engines round the same decimal)."""
    li = table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@op(
    "q_disjunctive_predicates",
    sql="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_disjunctive_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-table predicates (brand×size×
    quantity triples). The part side is pre-filtered to the 3-brand union
    (Catalyst derives `p_brand IN (...)` as a pushed-down common factor)
    and broadcast; per-branch residuals evaluate post-join in codegen.
    Single agg row out — no shuffle beyond the broadcast-join map side."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#24")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(b1 | b2 | b3)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@op(
    "q_waiting_orders",
    sql="""
    WITH ol AS (
        SELECT l_orderkey, l_suppkey, l_shipdate
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    ),
    agg AS (
        SELECT l_orderkey AS a_orderkey,
               MAX(l_shipdate) AS max_ship,
               COUNT(DISTINCT l_suppkey) AS n_supp
        FROM ol GROUP BY l_orderkey
    ),
    lastline AS (
        SELECT ol.l_orderkey, ol.l_suppkey, agg.n_supp
        FROM ol JOIN agg ON ol.l_orderkey = agg.a_orderkey
                        AND ol.l_shipdate = agg.max_ship
    ),
    atmax AS (
        SELECT l_orderkey AS m_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_at_max
        FROM lastline GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(DISTINCT l_orderkey) AS numwait
    FROM lastline
    JOIN atmax ON l_orderkey = m_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_supp >= 2 AND n_at_max = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_waiting_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (no l_commitdate/l_receiptdate in schema): blame the
    supplier whose line shipped LAST in a finished multi-supplier order,
    excluding ties. The classic correlated EXISTS / NOT EXISTS pair is
    computed as WINDOW aggregates over the one l_orderkey partitioning —
    per-order max_ship + distinct-supplier count, filter to the last
    line, then the at-max tie count as a second window on the SAME
    (already satisfied) partitioning. ONE fact-side exchange total, no
    self-joins. (The r4 decorrelated two-aggregate + re-join form planned
    the ol subtree repeatedly — 11 hash exchanges at sf0.001, caught by
    the r5 exchange-parser audit; its docstring claimed the re-joins
    would share one shuffle, which Spark's planner does not do for
    aggregate re-joins.) supplier is broadcast at the end."""
    o = table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    ol = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    w = Window.partitionBy("l_orderkey")
    last = (
        ol.withColumn("max_ship", F.max("l_shipdate").over(w))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .filter(F.col("l_shipdate") == F.col("max_ship"))
    )
    # second window over the SAME key: partitioning already satisfied, no
    # new exchange — counts distinct suppliers among the at-max lines
    at_max = last.withColumn("n_at_max", F.size(F.collect_set("l_suppkey").over(w)))
    s = table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        at_max.filter((F.col("n_supp") >= 2) & (F.col("n_at_max") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@op(
    "q_revenue_forecast",
    sql="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount >= 0.04 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
)
def q_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical scan-filter-aggregate — no joins, one
    output row. All three predicates push into the parquet scan (row-group
    min/max pruning does most of the work at 100 TB); only the partial
    aggregates shuffle (32 rows). This is the query where scan efficiency
    IS the runtime. Discount bounds use >=/<= with exact-2dp literals:
    0.04/0.06 parse to identical doubles in both engines."""
    li = table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@op(
    "q_min_cost_supplier",
    sql="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               ROUND(SUM(l_extendedprice), 2) / COUNT(*) AS avg_price
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    best AS (
        SELECT l_partkey, l_suppkey, avg_price,
               MIN(avg_price) OVER (PARTITION BY l_partkey) AS min_price
        FROM cost
    )
    SELECT p_partkey, p_brand, s_name, s_acctbal,
           avg_price AS supply_cost
    FROM best
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE avg_price = min_price
      AND p_size <= 15
      AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, p_partkey, s_name
    LIMIT 100
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp in schema — supply cost is derived as
    each (part, supplier) pair's average lineitem price): for small
    STANDARD parts, find the supplier(s) attaining the per-part minimum
    cost. (Q2's literal `p_type LIKE '%BRASS'` matches NOTHING in this
    testdata — p_type is one of ECONOMY/STANDARD/LARGE/MEDIUM/SMALL/
    PROMO — so the r4 row certified an empty result; STANDARD & size<=15
    selects 13/97/980 parts at sf0.001/0.01/0.1.) The reference's
    correlated MIN subquery becomes a window MIN over the grouped cost
    table; part/supplier are broadcast dims. Two fact-side exchanges,
    both cheap: the group-by shuffles map-side PARTIAL aggregates, and
    the window MIN re-shuffles the REDUCED pair table (|part×supplier
    pairs| rows, not fact rows) onto l_partkey — at 100 TB this beats
    the single-exchange alternative (pre-partitioning raw lineitem by
    l_partkey) by orders of magnitude in shuffle bytes. (The prior "one
    shuffle serves both" claim was wrong; exposed when the plan-test
    exchange parser was fixed in r5.) avg uses the
    ROUND(SUM,2)/COUNT form so the double is bit-identical cross-engine,
    making the equality filter against the window MIN deterministic."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    s = table(spark, sf, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias("avg_price")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_price", F.min("avg_price").over(w)).filter(
        F.col("avg_price") == F.col("min_price")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "p_brand", "s_name", "s_acctbal",
            F.col("avg_price").alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@op(
    "q_important_parts",
    sql="""
    WITH val AS (
        SELECT l_partkey,
               ROUND(SUM(l_extendedprice * l_quantity), 2) AS part_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, part_value
    FROM val
    WHERE part_value > (SELECT 2.0 * SUM(part_value) / COUNT(*) FROM val)
    ORDER BY part_value DESC, partkey
    """,
)
def q_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp value -> shipped value per part from one
    nation's suppliers): parts whose value exceeds 2x the AVERAGE part
    value — the scalar-subquery threshold becomes a 1-row broadcast cross
    join. (Q11's literal 'GERMANY' matches no nation in this testdata —
    names are NATION_0..24 — so the r4 row certified an empty result;
    NATION_3 is one of the ten nations that have suppliers at EVERY test
    SF. And the spec's FIXED total fraction is scale-dependent — TPC-H
    itself scales it as 0.0001/SF; a fixed 0.001 went vacuous again at
    sf0.1, caught by the r5 sf0.1 oracle sweep. The 2x-average form is
    scale-free: 20/155/1627 rows at sf0.001/0.01/0.1.)
    The per-part agg shuffles once; the global SUM reuses the SAME rounded
    part_value numbers (sum of exact-2dp values, boundary-free), so the
    threshold double is bit-identical cross-engine. nation/supplier are
    broadcast before the fact scan joins them."""
    li = table(spark, sf, "lineitem")
    s = table(spark, sf, "supplier")
    n = table(spark, sf, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
                li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("part_value"))
    )
    total = val.agg(
        (F.lit(2.0) * F.sum("part_value") / F.count(F.lit(1))).alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("partkey"), "part_value")
        .orderBy(F.col("part_value").desc(), "partkey")
    )


@op(
    "q_parts_supplier_counts",
    sql="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM POLISHED%'
      AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def q_parts_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (complaints filter -> negative account balance):
    distinct supplier count per (brand, type, size) over a filtered part
    set, excluding a blacklist of suppliers. NOT IN becomes a broadcast
    LEFT ANTI join (safe here: s_suppkey is never NULL, so NOT IN and
    anti-join agree). part is broadcast; the countDistinct shuffles on
    the 3-column group key with partial dedup map-side."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").like("MEDIUM POLISHED%")
        & F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9)
    )
    bad = table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@op(
    "q_dominant_suppliers",
    sql="""
    WITH per_ps AS (
        SELECT l_partkey, l_suppkey, CAST(SUM(l_quantity) AS BIGINT) AS supp_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'forest%' OR p_type LIKE 'ECONOMY%'
        GROUP BY l_partkey, l_suppkey
    ),
    per_p AS (
        SELECT l_partkey, l_suppkey, supp_qty,
               CAST(SUM(supp_qty) OVER (PARTITION BY l_partkey) AS BIGINT)
                 AS part_qty,
               COUNT(*) OVER (PARTITION BY l_partkey) AS n_supp
        FROM per_ps
    )
    SELECT DISTINCT s_suppkey, s_name, s_acctbal
    FROM per_p
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE supp_qty * n_supp > 2 * part_qty
    ORDER BY s_name
    """,
)
def q_dominant_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (availqty > half-demand -> supplier ships an outsized
    share of a part's total quantity): suppliers dominating any filtered
    part. "Dominant" = ships more than 2x its fair share (supp_qty >
    2 * part_qty / n_supp, compared as supp_qty * n_supp > 2 * part_qty so
    the predicate is exact BIGINT arithmetic in both engines — l_quantity
    is integral). The fair-share form is scale-stable: a fixed >50%-share
    cut yields ZERO rows at every test SF (~26 suppliers per part, max
    share ~0.20), which made the r4 oracle hash certify an empty result
    (VERDICT r4 item 5). The nested IN-subqueries become one grouped fact
    pass + window SUM/COUNT over the REDUCED pair table (the window's
    l_partkey exchange carries |part×supplier pairs| rows, not fact
    rows — the right trade at 100 TB), then a broadcast join to supplier
    and DISTINCT projection."""
    li = table(spark, sf, "lineitem")
    p = table(spark, sf, "part").filter(
        F.col("p_name").like("forest%") | F.col("p_type").like("ECONOMY%")
    )
    s = table(spark, sf, "supplier")
    per_ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("long").alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    per_p = per_ps.withColumn(
        "part_qty", F.sum("supp_qty").over(w).cast("long")
    ).withColumn("n_supp", F.count(F.lit(1)).over(w))
    return (
        per_p.filter(F.col("supp_qty") * F.col("n_supp") > 2 * F.col("part_qty"))
        .join(F.broadcast(s), per_p.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "s_acctbal")
        .distinct()
        .orderBy("s_name")
    )


@op(
    "q_basket_pairs",
    sql="""
    WITH b AS (SELECT DISTINCT l_orderkey AS o, p_brand AS brand
               FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM b),
    cx AS (SELECT brand, COUNT(*) AS c FROM b GROUP BY brand),
    pr AS (SELECT b1.brand AS brand_a, b2.brand AS brand_b, COUNT(*) AS c_xy
           FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.brand < b2.brand
           GROUP BY b1.brand, b2.brand HAVING COUNT(*) >= 10)
    SELECT pr.brand_a, pr.brand_b, pr.c_xy,
           CAST(pr.c_xy AS DOUBLE) * n.n_orders
             / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
    FROM pr
    JOIN cx ca ON pr.brand_a = ca.brand
    JOIN cx cb ON pr.brand_b = cb.brand, n
    ORDER BY lift DESC, brand_a, brand_b LIMIT 25
    """,
)
def q_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket pair mining (frequent-itemset support + lift) over
    order baskets: brands co-purchased in the same order, min support 10,
    top-25 by lift. The basket relation dedups to (order, brand) FIRST —
    the self-join then fans out only C(brands-per-order, 2). The dedup'd
    basket feeds FOUR consumers (order count, brand counts, both self-join
    sides); it is materialized so the corpus-sized dedup pass runs
    ONCE (Spark's static planner re-planned it per consumer — 4 duplicate
    (o, brand) exchanges at sf0.001, caught by the r5 exchange-parser
    audit). Materializing the basket is the algorithm's working set — the
    same table the self-join must hold anyway. Brand counts are tiny and
    broadcast onto the post-HAVING pair list. Lift is one
    fixed-association double expression over exact counts."""
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    pt = table(spark, sf, "part").select("p_partkey", "p_brand")
    b = materialize(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = b.agg(F.count_distinct("o").alias("n_orders"))
    cx = b.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    b1 = b.select(F.col("o"), F.col("brand").alias("brand_a"))
    b2 = b.select(F.col("o").alias("o2"), F.col("brand").alias("brand_b"))
    pr = (
        b1.join(b2, (b1.o == b2.o2) & (F.col("brand_a") < F.col("brand_b")))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 10)
    )
    ca = cx.select(F.col("brand").alias("brand_a"), F.col("c").alias("ca"))
    cb = cx.select(F.col("brand").alias("brand_b"), F.col("c").alias("cb"))
    lift = F.col("c_xy").cast("double") * F.col("n_orders") / (
        F.col("ca").cast("double") * F.col("cb")
    )
    return (
        pr.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select("brand_a", "brand_b", "c_xy", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(25)
    )


@op(
    "q_duplicate_payment_check",
    sql="""
    SELECT a.o_orderkey AS ok_a, b.o_orderkey AS ok_b,
           a.o_custkey,
           a.o_totalprice AS price_a, b.o_totalprice AS price_b
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderdate = b.o_orderdate
     AND a.o_orderkey < b.o_orderkey
    """,
)
def q_duplicate_payment_check(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-payment audit: order pairs from the same customer placed
    the SAME DAY — the classic double-submission review queue, both
    amounts emitted for the reviewer. (The original exact-amount form
    `a.o_totalprice = b.o_totalprice` never matches in this testdata —
    totalprice is a continuous double, so the r4 row certified an empty
    result; same-day pairs occur at every SF: 1/32/355.) Equi-keys
    (custkey, orderdate) drive a hash self-join, so cost is per-key
    group size, not |orders|²; the a<b orientation halves output and
    kills self-pairs. At 100 TB the key is already date-bucketed — group
    width is a customer's orders per day."""
    o = table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderdate") == F.col("b.o_orderdate"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(
            F.col("a.o_orderkey").alias("ok_a"),
            F.col("b.o_orderkey").alias("ok_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_totalprice").alias("price_a"),
            F.col("b.o_totalprice").alias("price_b"),
        )
    )


@op(
    "q_percent_of_total",
    sql="""
    WITH n AS (
      SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, revenue,
           revenue / ROUND(SUM(revenue) OVER (), 2) AS revenue_share
    FROM n
    """,
)
def q_percent_of_total(spark: SparkSession, sf: str) -> DataFrame:
    """Percent-of-total report: per-nation revenue share via an empty-frame
    window over the aggregated (25-row) frame — the window runs AFTER the
    reduction, so the single-partition window sees |nations| rows, never
    the fact table. Division of two stabilized (2dp-rounded) sums → one
    IEEE op, bit-identical. The share column's window total is itself a
    sum of already-rounded per-group sums RE-ROUNDED at 2dp — the
    re-round snaps away the last-ulp accumulation-order drift between
    engines, leaving one identical-operand division."""
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    n = table(spark, sf, "nation")
    per = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy()
    return per.select(
        "n_name",
        "revenue",
        (F.col("revenue") / F.round(F.sum("revenue").over(w), 2)).alias("revenue_share"),
    )


@op(
    "ts_activity_grid",
    sql="""
    SELECT (CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) + 4) % 7 AS dow,
           CAST(hour(ts) AS INT) AS hr,
           COUNT(*) AS n_events
    FROM events GROUP BY dow, hr
    """,
)
def ts_activity_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week × hour activity grid. Engine day-of-week codes
    disagree (Spark dayofweek is 1=Sunday, DuckDB dow is 0=Sunday,
    ISO variants differ again), so dow is derived from raw epoch-day
    arithmetic — (days since 1970-01-01 + 4) mod 7, anchored on
    1970-01-01 being a Thursday — which is portable to ANY engine.
    Single partial-agg pass; 168 output rows regardless of scale."""
    ev = table(spark, sf, "events")
    dow = (
        (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).cast("bigint") + 4) % 7
    )
    return ev.groupBy(
        dow.alias("dow"), F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_events"))


@op(
    "join_nearest_event",
    sql="""
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts))  OVER w AS prev_us,
             LEAD(epoch_us(ts)) OVER w AS next_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, event_id,
           CASE
             WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
             WHEN prev_us IS NULL THEN next_us - ts_us
             WHEN next_us IS NULL THEN ts_us - prev_us
             ELSE LEAST(ts_us - prev_us, next_us - ts_us)
           END AS nearest_gap_us
    FROM s
    """,
)
def join_nearest_event(spark: SparkSession, sf: str) -> DataFrame:
    """1-D nearest-neighbor within each user's timeline: distance to the
    closest other event, computed as min(gap-to-prev, gap-to-next) from
    one sorted window pass — the sort-based plan that replaces a naive
    O(n²) self-join for nearest-in-time lookups. One user_id exchange,
    integer microsecond math."""
    ev = table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev_gap = F.col("ts_us") - F.lag("ts_us").over(w)
    next_gap = F.lead("ts_us").over(w) - F.col("ts_us")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(F.least(prev_gap, next_gap), prev_gap, next_gap).alias("nearest_gap_us"),
    )


@op(
    "q_repeat_purchase_30d",
    sql="""
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       LAG(o_orderdate) OVER (
                         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT o_custkey, COUNT(*) AS n_quick_reorders
    FROM g WHERE gap_days IS NOT NULL AND gap_days <= 30
    GROUP BY o_custkey
    """,
)
def q_repeat_purchase_30d(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase detection: orders placed within 30 days of the
    customer's previous order, counted per customer — lag over the
    per-customer date sequence, integer day arithmetic (deterministic;
    ties broken by orderkey). One exchange shared by window and final
    groupBy (same user-key clustering), the retention primitive behind
    churn and LTV models."""
    o = table(spark, sf, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    return (
        o.select("o_custkey", gap.alias("gap_days"))
        .filter(F.col("gap_days").isNotNull() & (F.col("gap_days") <= 30))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_quick_reorders"))
    )


# Multi-feature OLS via normal equations — ONE SQL text evaluated by BOTH
# engines (Spark and the DuckDB oracle), so every IEEE double operation has
# an identical expression tree and the solved coefficients match
# bit-for-bit. The moment sums are exact: each product of exact-decimal
# columns (price 2dp, discount 2dp, integer-valued quantity) is exactly
# representable in double, snapped to DECIMAL(18,4) before SUM (associative
# integer arithmetic — order-independent at any parallelism).
_LINREG_SQL = """
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx1,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s11,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s12,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s22,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS s1y,
               CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS s2y
        FROM lineitem
    ),
    d AS (
        SELECT n, sx1, sx2, s11, s12, s22, sy, s1y, s2y,
               (n * (s11 * s22 - s12 * s12)
                - sx1 * (sx1 * s22 - s12 * sx2)
                + sx2 * (sx1 * s12 - s11 * sx2)) AS det
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ((sy * (s11 * s22 - s12 * s12)
             - sx1 * (s1y * s22 - s12 * s2y)
             + sx2 * (s1y * s12 - s11 * s2y)) / det) AS beta_intercept,
           ((n * (s1y * s22 - s12 * s2y)
             - sy * (sx1 * s22 - s12 * sx2)
             + sx2 * (sx1 * s2y - s1y * sx2)) / det) AS beta_quantity,
           ((n * (s11 * s2y - s1y * s12)
             - sx1 * (sx1 * s2y - s1y * sx2)
             + sy * (sx1 * s12 - s11 * sx2)) / det) AS beta_discount
    FROM d
"""


@op("ml_linreg_normal", sql=_LINREG_SQL)
def ml_linreg_normal(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-feature linear regression by normal equations, fully inside
    the engine: ŷ(extendedprice) = β₀ + β₁·quantity + β₂·discount. ONE
    distributed pass computes the 9 exact moment sums (XᵀX and XᵀY for
    d=2 features + intercept) with map-side partial aggregation — the
    treeAggregate shape with zero driver-side math; the 3×3 Cramer solve
    is a projection on the single reduced row. This is the closed-form
    path that beats iterative GD (ml_logreg_gd) whenever d is small
    enough that XᵀX fits a row — the common case for tabular features.
    At 100 TB the cost is exactly one scan + one 9-number reduction.
    The oracle runs the IDENTICAL SQL text, so the IEEE arithmetic of
    the solve matches bit-for-bit (see _LINREG_SQL note)."""
    table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_LINREG_SQL)


@op(
    "q_marketing_attribution",
    sql="""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch_ts
        FROM events
    )
    SELECT COALESCE(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_type END,
                    'none') AS attributed_type,
           COUNT(*) AS n_purchases
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY attributed_type
    ORDER BY attributed_type
    """,
)
def q_marketing_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent PRIOR non-purchase event within a 7-day window ('none'
    when cold). The canonical event-sequence analytics primitive —
    conversion credit, induced-demand measurement, and the same
    carry-forward window shape as ts_gapfill_locf.

    Plan: ONE shuffle on user_id feeds the IGNORE-NULLS last_value
    window (running carry of the latest touch — no self-join, no
    per-purchase scan-back), then a tiny group count on the attributed
    type. At 100 TB: shuffle ∝ events, window state O(1) per user,
    final aggregate |event types| rows."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.struct("ts", "event_type"))
    seq = ev.withColumn("touch", F.last(touch, ignorenulls=True).over(w))
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(
                    F.col("touch.ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS"),
                    F.col("touch.event_type"),
                ),
                F.lit("none"),
            ).alias("attributed_type")
        )
        .groupBy("attributed_type")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("attributed_type")
    )


@op(
    "agg_ks_two_sample",
    sql="""
    WITH src AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS cv, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    pv AS (
        SELECT cv,
               COUNT(*) FILTER (WHERE event_type = 'click') AS ca,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS cb
        FROM src GROUP BY cv
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM pv
    ),
    cum AS (
        SELECT cv,
               CAST(SUM(ca) OVER (ORDER BY cv) AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY cv) AS BIGINT) AS cumb
        FROM pv
    ),
    gaps AS (
        SELECT cv, ABS(cuma * t.nb - cumb * t.na) AS gap FROM cum, tot t
    ),
    mx AS (SELECT CAST(MAX(gap) AS BIGINT) AS d_num FROM gaps)
    SELECT t.na AS n_a, t.nb AS n_b, m.d_num,
           CAST(t.na * t.nb AS BIGINT) AS d_den,
           CAST(m.d_num AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE) AS ks,
           CAST((SELECT MIN(cv) FROM gaps g WHERE g.gap = m.d_num) AS DOUBLE)
               / 100 AS ks_at_value
    FROM tot t, mx m
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test — agg_welch_ttest's
    NONPARAMETRIC sibling on the same two samples (click vs purchase
    values): the t-test compares means, KS compares the entire
    distributions (max CDF gap), catching variance/shape shifts a mean
    test misses. Same exact-arithmetic discipline as
    privacy_t_closeness's EMD: values snap to integer centi-units, the
    statistic's numerator is max|cumA·n_B − cumB·n_A| over EXACT
    integer cumulative counts, and the emitted ks is ONE IEEE division
    of the two integers (both also emitted) — the gap location is the
    min value attaining the max (deterministic integer tie-break).

    Scale shape — the distributed-CDF two-phase prefix sum: per-value
    counts (one hash aggregate over the metric), then values bucket by
    range; bucket subtotals cumsum in a |buckets|-row window and
    broadcast back as offsets, so each bucket's within-window cumsum is
    partition-local — NO single global sort of the distinct-value
    frame (the one-partition window trap). At 1e9+ rows per side
    promote the gap products to DECIMAL(38,0); the shape is unchanged."""
    ev = table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cv = F.round(F.col("value") * 100).cast("bigint")
    pv = ev.select(
        cv.alias("cv"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
    ).groupBy("cv").agg(
        F.sum("ia").alias("ca"),
        (F.count(F.lit(1)) - F.sum("ia")).alias("cb"),
    )
    tot = pv.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    bucketed = pv.withColumn("bucket", F.floor(F.col("cv") / 1000))
    bsum = bucketed.groupBy("bucket").agg(
        F.sum("ca").alias("sa"), F.sum("cb").alias("sb")
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = bsum.select(
        "bucket",
        F.coalesce(F.sum("sa").over(wb), F.lit(0)).alias("oa"),
        F.coalesce(F.sum("sb").over(wb), F.lit(0)).alias("ob"),
    )
    wv = (
        Window.partitionBy("bucket")
        .orderBy("cv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = bucketed.join(F.broadcast(offs), "bucket").select(
        "cv",
        (F.sum("ca").over(wv) + F.col("oa")).cast("long").alias("cuma"),
        (F.sum("cb").over(wv) + F.col("ob")).cast("long").alias("cumb"),
    )
    gaps = cum.crossJoin(F.broadcast(tot)).select(
        "cv",
        "na",
        "nb",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias("gap"),
    )
    agg = gaps.groupBy("na", "nb").agg(
        F.max("gap").cast("long").alias("d_num"),
        # argmax with min-value tie-break: max of (gap, -cv) lexicographic
        F.max_by(F.col("cv"), F.struct(F.col("gap"), (-F.col("cv")).alias("ncv")))
        .alias("at_cv"),
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_num",
        (F.col("na") * F.col("nb")).cast("long").alias("d_den"),
        (F.col("d_num").cast("double") / (F.col("na") * F.col("nb")).cast("double")).alias("ks"),
        (F.col("at_cv").cast("double") / 100).alias("ks_at_value"),
    )


@op(
    "agg_welch_ttest",
    sql="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sv,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                        * CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 10000 AS svv
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ),
    w AS (
        SELECT a.n AS n1, b.n AS n2,
               a.sv / a.n AS m1, b.sv / b.n AS m2,
               (a.svv - a.sv * a.sv / a.n) / (a.n - 1) AS var1,
               (b.svv - b.sv * b.sv / b.n) / (b.n - 1) AS var2
        FROM m a, m b
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(m1 - m2, 6) AS mean_diff,
           ROUND((m1 - m2) / sqrt(var1 / n1 + var2 / n2), 6) AS t_stat,
           ROUND(POW(var1 / n1 + var2 / n2, 2)
                 / (POW(var1 / n1, 2) / (n1 - 1) + POW(var2 / n2, 2) / (n2 - 1)),
                 3) AS welch_df
    FROM w
    """,
)
def agg_welch_ttest(spark: SparkSession, sf: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances) — the A/B-testing
    primitive — computed ENTIRELY from distributed exact moments: values
    snap to centi-units per row (exact BIGINT Σv and Σv², so partial
    aggregation is bit-exact regardless of partitioning), and the t
    statistic + Welch–Satterthwaite df evaluate as one deterministic
    IEEE expression on the two 3-number summaries. At 100 TB the test
    costs one groupBy over the metric — experimentation platforms run
    thousands of these per day as plain aggregates, never sampling to a
    driver. Cross-engine: integer moment sums sidestep float
    accumulation order entirely (stronger than agg_corr_regr's
    rounded-sum form, which needs exact-decimal inputs)."""
    ev = table(spark, sf, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v100 = F.round(F.col("value") * 100).cast("bigint")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(v100).cast("double") / 100).alias("sv"),
        (F.sum(v100 * v100).cast("double") / 10000).alias("svv"),
    )
    a = m.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("sv").alias("sv1"), F.col("svv").alias("svv1")
    )
    b = m.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), F.col("sv").alias("sv2"), F.col("svv").alias("svv2")
    )
    j = a.crossJoin(b).select(
        "n1",
        "n2",
        (F.col("sv1") / F.col("n1")).alias("m1"),
        (F.col("sv2") / F.col("n2")).alias("m2"),
        ((F.col("svv1") - F.col("sv1") * F.col("sv1") / F.col("n1")) / (F.col("n1") - 1)).alias("var1"),
        ((F.col("svv2") - F.col("sv2") * F.col("sv2") / F.col("n2")) / (F.col("n2") - 1)).alias("var2"),
    )
    se2 = F.col("var1") / F.col("n1") + F.col("var2") / F.col("n2")
    return j.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("var1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("var2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            3,
        ).alias("welch_df"),
    )


@op(
    "agg_aqp_sample_estimate",
    sql="""
    WITH s AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(('0x' || substr(md5('bpspark-aqp-1:' || l_orderkey || ':' || l_linenumber), 1, 8))
                    AS BIGINT) % 10 = 0 AS in_sample
        FROM lineitem
    ),
    m AS (
        SELECT CAST((SELECT COUNT(*) FROM s) AS DOUBLE) AS n_total,
               CAST((SELECT ROUND(SUM(l_extendedprice), 2) FROM lineitem) AS DOUBLE) AS exact_total,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(c) AS DOUBLE) / 100 AS sv,
               CAST(SUM(c * c) AS DOUBLE) / 10000 AS svv
        FROM s WHERE in_sample
    )
    SELECT CAST(n AS BIGINT) AS n_sample,
           CAST(n_total AS BIGINT) AS n_total,
           ROUND(sv / n * n_total, 2) AS est_total,
           exact_total,
           ROUND(sv / n * n_total
                 - 1.96 * n_total * sqrt((1 - n / n_total) * ((svv - sv * sv / n) / (n - 1)) / n), 2)
               AS ci_lo,
           ROUND(sv / n * n_total
                 + 1.96 * n_total * sqrt((1 - n / n_total) * ((svv - sv * sv / n) / (n - 1)) / n), 2)
               AS ci_hi
    FROM m
    """,
)
def agg_aqp_sample_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style, cf. the retrieved
    PODS'21 approximation line): estimate SUM(l_extendedprice) from a
    DETERMINISTIC ~10% sample (md5 of the row key — reproducible across
    engines and re-runs, the sample_hash_mod / privacy_dp_counts
    convention) with a 95% confidence interval from the sample variance
    plus finite-population correction. The exact total is emitted
    alongside so the driver hash-check covers estimator, exact answer,
    and interval arithmetic in one row — and the CI-covers-exact claim
    is test-pinned at both SFs.

    Float discipline: prices are 2dp by construction, so centi-unit
    snapping makes SUM and SUM-of-squares exact integers (the
    agg_welch_ttest convention); every derived double is then identical
    arithmetic cross-engine, rounded at 2dp for output.

    100 TB shape: THE reason AQP exists — the sample scan is 10% of the
    I/O (or ~0.1% at the sample rates big tables use) and everything
    after the two exact-integer moment sums is constant work. In
    production the sample is a MATERIALIZED stratified table maintained
    at write time; the estimator and CI arithmetic are unchanged."""
    li = table(spark, sf, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    key = F.concat(
        F.lit("bpspark-aqp-1:"), F.col("l_orderkey").cast("string"),
        F.lit(":"), F.col("l_linenumber").cast("string"),
    )
    in_sample = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 10 == 0
    )
    s = li.select(c.alias("c"), in_sample.alias("in_sample"))
    m = (
        s.agg(
            F.count(F.lit(1)).cast("double").alias("n_total"),
            (F.sum(F.when(F.col("in_sample"), 1).otherwise(0))).cast("double").alias("n"),
            (F.sum(F.when(F.col("in_sample"), F.col("c")).otherwise(0)).cast("double") / 100).alias("sv"),
            (F.sum(F.when(F.col("in_sample"), F.col("c") * F.col("c")).otherwise(0)).cast("double") / 10000).alias("svv"),
        )
        .crossJoin(
            F.broadcast(li.agg(F.round(F.sum("l_extendedprice"), 2).cast("double").alias("exact_total")))
        )
    )
    se = (
        F.lit(1.96)
        * F.col("n_total")
        * F.sqrt(
            (1 - F.col("n") / F.col("n_total"))
            * ((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1))
            / F.col("n")
        )
    )
    est = F.col("sv") / F.col("n") * F.col("n_total")
    return m.select(
        F.col("n").cast("bigint").alias("n_sample"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.round(est, 2).alias("est_total"),
        "exact_total",
        F.round(est - se, 2).alias("ci_lo"),
        F.round(est + se, 2).alias("ci_hi"),
    )


@op(
    "agg_aqp_groupby_stratified",
    sql="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
               CAST(('0x' || substr(md5('bpspark-aqp-2:' || l_orderkey || ':' || l_linenumber), 1, 8))
                    AS BIGINT) % 10 = 0 AS in_sample
        FROM lineitem
    ),
    m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n_total,
               CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN in_sample THEN c ELSE 0 END) AS DOUBLE) / 100 AS sv,
               CAST(SUM(CASE WHEN in_sample THEN c * c ELSE 0 END) AS DOUBLE) / 10000 AS svv,
               CAST(SUM(c) AS DOUBLE) / 100 AS exact_sv
        FROM s
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_sample,
           CAST(n_total AS BIGINT) AS n_total,
           ROUND(sv / n * n_total, 2) AS est_revenue,
           ROUND(exact_sv, 2) AS exact_revenue,
           ROUND(sv / n * n_total
                 - 1.96 * n_total * sqrt((1 - n / n_total) * ((svv - sv * sv / n) / (n - 1)) / n), 2)
               AS ci_lo,
           ROUND(sv / n * n_total
                 + 1.96 * n_total * sqrt((1 - n / n_total) * ((svv - sv * sv / n) / (n - 1)) / n), 2)
               AS ci_hi
    FROM m
    ORDER BY l_returnflag
    """,
)
def agg_aqp_groupby_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """STRATIFIED AQP — the grouped form that motivates BlinkDB's design:
    uniform sampling starves rare groups, so production AQP samples PER
    STRATUM and answers GROUP BY queries with a per-group estimate and
    CI. Strata here are l_returnflag; each stratum gets its own ~10%
    deterministic hash sample, estimator, and 95% finite-population CI,
    computed in ONE aggregate pass carrying (sampled, total) moment
    pairs per group — exact centi-unit integer sums throughout (same
    discipline as agg_aqp_sample_estimate), exact per-group revenue
    emitted alongside for the hash check and the coverage test.

    100 TB shape: one pass over the (materialized) sample + counts; per
    group the work after the moment sums is O(1); skew-free because the
    stratum key is the group key — the estimate quality per group is
    set by its own sample size, which stratified maintenance guarantees
    (that guarantee is exactly what uniform sampling can't give)."""
    li = table(spark, sf, "lineitem")
    c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    key = F.concat(
        F.lit("bpspark-aqp-2:"), F.col("l_orderkey").cast("string"),
        F.lit(":"), F.col("l_linenumber").cast("string"),
    )
    in_sample = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 10 == 0
    )
    s = li.select("l_returnflag", c.alias("c"), in_sample.alias("in_sample"))
    m = s.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n_total"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).cast("double").alias("n"),
        (F.sum(F.when(F.col("in_sample"), F.col("c")).otherwise(0)).cast("double") / 100).alias("sv"),
        (F.sum(F.when(F.col("in_sample"), F.col("c") * F.col("c")).otherwise(0)).cast("double") / 10000).alias("svv"),
        (F.sum("c").cast("double") / 100).alias("exact_sv"),
    )
    se = (
        F.lit(1.96)
        * F.col("n_total")
        * F.sqrt(
            (1 - F.col("n") / F.col("n_total"))
            * ((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1))
            / F.col("n")
        )
    )
    est = F.col("sv") / F.col("n") * F.col("n_total")
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_sample"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.round(est, 2).alias("est_revenue"),
        F.round("exact_sv", 2).alias("exact_revenue"),
        F.round(est - se, 2).alias("ci_lo"),
        F.round(est + se, 2).alias("ci_hi"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# histogram-based decision tree (the XGBoost/LightGBM approx-split shape)
# ---------------------------------------------------------------------------

_TREE_BINS = 16
_TREE_DEPTH = 2
_TREE_MIN_LEAF = 100


def _binned_lineitem(spark: SparkSession, sf: str):
    """Shared feature prep for the two histogram-tree ops: centi-unit
    integer target + 16 fixed-width bins per feature. Returns
    (binned frame with y/b0/b1, per-feature (min, width) edges)."""
    li = table(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x0"),
        F.col("l_discount").cast("double").alias("x1"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    mm = li.agg(
        F.min("x0").alias("mn0"), F.max("x0").alias("mx0"),
        F.min("x1").alias("mn1"), F.max("x1").alias("mx1"),
    ).collect()[0]
    if mm[0] is None:  # empty input (r8 guard): degenerate single-bin edges
        return li.select("y", F.lit(0).alias("b0"), F.lit(0).alias("b1")), {
            0: (0.0, 1.0),
            1: (0.0, 1.0),
        }
    edges = {}
    for f in (0, 1):
        mn, mx = float(mm[f * 2]), float(mm[f * 2 + 1])
        w = (mx - mn) / _TREE_BINS or 1.0
        edges[f] = (mn, w)

    def bin_col(f: int):
        mn, w = edges[f]
        return F.least(
            F.lit(_TREE_BINS - 1),
            F.floor((F.col(f"x{f}") - F.lit(mn)) / F.lit(w)).cast("int"),
        )

    return li.select("y", bin_col(0).alias("b0"), bin_col(1).alias("b1")), edges


def _q6(x: float) -> float:
    """Tie-free 1e-6 quantization of a float projection —
    ``floor(x*1e6 + 0.5)/1e6`` is the SAME IEEE op sequence in Python,
    Spark, and DuckDB (the cross-engine standard; ROUND is not: three
    different tie/repr behaviors)."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _sum_y2():
    """Σy² of the centi-unit target as an exact DECIMAL(38,0) aggregate
    (y² of a centi-unit long still fits a long)."""
    return F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy")


def _grow_hist_tree(df, syy: bool = False):
    """Histogram tree-grow over a binned frame (columns: y int64-exact,
    b0, b1) — the shared core of ml_decision_tree_hist and ml_gbdt_hist.
    Returns (nodes dict, frame with the final ``node`` column, Σy² over
    the frame — an exact int when ``syy`` is set, else None).

    ONE map-side-combined (b0, b1) exact-count/sum aggregate per tree:
    every split tests ``b{f} > s``, so a row's node is a function of its
    bin cell alone, and the 16×16 cell histogram is a sufficient
    statistic for the whole tree — a child's cells are its parent's
    cells split by (f, s). The level-by-level split search then runs on
    the driver over the ≤256 collected cells (a bounded model literal)
    and the assignment is a pure column expression. Node totals and
    per-feature marginals are the same exact Python-int sums a
    per-(node, cell) histogram would give, so the tree is identical to
    a per-level grow. Scale: the joint histogram has 16^F cells — it
    stays bounded because F = 2; a wider feature set needs per-level
    per-feature marginal histograms instead (F×16 cells per node).

    Split selection maximizes ``gain = ls²/ln + rs²/rn`` (strictly above
    the no-split baseline ``sy²/n``) — algebraically the same argmin of
    child SSE as the classic ``syy - gain`` objective, but Σy² cancels
    out of every comparison, so the histogram needs only (count, Σy).
    The gain is computed as ``float(ls)*float(ls)/float(ln)`` — every
    operand is an exact integer < 2⁵³, so the int→double conversions are
    exact and the 3-op IEEE sequence is bit-identical in any engine
    (DuckDB replays it verbatim in the full-replication oracle; above
    2⁵³ — corpus Σ|y| beyond ~9e15 centi-units — conversions round and
    split choice degrades gracefully to the same approximate argmax
    every float-histogram GBDT makes). Ties break deterministically to
    (smaller feature, smaller bin). An empty frame grows no node."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    ]
    if syy:
        aggs.append(_sum_y2())
    hist = df.groupBy("b0", "b1").agg(*aggs).collect()
    cells = [(r["b0"], r["b1"], r["n"], int(r["sy"])) for r in hist]
    cell_node = [0] * len(cells)
    df = df.withColumn("node", F.lit(0))
    nodes: dict[int, dict] = {}
    active = [0] if cells else []
    for depth in range(_TREE_DEPTH + 1):
        by_node: dict[int, list] = {}
        for c, nid in zip(cells, cell_node):
            by_node.setdefault(nid, []).append(c)
        splits = {}
        for nid in active:
            node_cells = by_node[nid]  # children keep ≥ _TREE_MIN_LEAF rows
            n_tot = sum(c[2] for c in node_cells)
            sy_tot = sum(c[3] for c in node_cells)
            nodes[nid] = {
                "depth": depth, "n": n_tot, "sy": sy_tot,
                "feature": None, "split_bin": None,
            }
            if depth == _TREE_DEPTH or n_tot < 2 * _TREE_MIN_LEAF:
                continue
            gain_parent = float(sy_tot) * float(sy_tot) / float(n_tot)
            best = None
            for f in (0, 1):
                marg = [[0, 0] for _ in range(_TREE_BINS)]
                for c in node_cells:
                    m = marg[c[f]]
                    m[0] += c[2]; m[1] += c[3]
                cn = cs = 0
                for s in range(_TREE_BINS - 1):
                    cn += marg[s][0]; cs += marg[s][1]
                    rn, rs = n_tot - cn, sy_tot - cs
                    if cn < _TREE_MIN_LEAF or rn < _TREE_MIN_LEAF:
                        continue
                    gain = float(cs) * float(cs) / float(cn) + float(rs) * float(
                        rs
                    ) / float(rn)
                    cand = (-gain, f, s)
                    if best is None or cand < best:
                        best = cand
            if best is not None and -best[0] > gain_parent:
                splits[nid] = (best[1], best[2])
                nodes[nid]["feature"] = best[1]
                nodes[nid]["split_bin"] = best[2]
        if not splits or depth == _TREE_DEPTH:
            break
        expr = F.col("node")
        for nid, (f, s) in splits.items():
            expr = F.when(
                F.col("node") == nid,
                F.lit(2 * nid + 1) + (F.col(f"b{f}") > s).cast("int"),
            ).otherwise(expr)
        df = df.withColumn("node", expr)
        for i, (c, nid) in enumerate(zip(cells, cell_node)):
            if nid in splits:
                f, s = splits[nid]
                cell_node[i] = 2 * nid + 1 + (c[f] > s)
        active = sorted(2 * n + 1 + side for n in splits for side in (0, 1))
    total_syy = sum(int(r["syy"]) for r in hist) if syy else None
    return nodes, df, total_syy


def _tree_bin_ctes(src_rows: str = "lineitem") -> str:
    """Shared binning CTEs for the hist-tree oracles: centi-unit integer
    target + 16 fixed-width bins, replicating ``_binned_lineitem`` stage
    by stage (same min/max, same ``(mx-mn)/16 or 1.0`` width fallback as
    COALESCE(NULLIF(..,0),1.0), same floor-divide binning — identical
    IEEE sequences, so bins match exactly). Scale-0 round() agrees
    cross-engine everywhere off exact .5 boundaries (both round ties
    away from zero; verified 0 boundary rows at every test SF)."""
    B = _TREE_BINS
    return f"""
src AS (SELECT CAST(l_quantity AS DOUBLE) AS x0, CAST(l_discount AS DOUBLE) AS x1,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM {src_rows}),
mm AS (SELECT min(x0) AS mn0, max(x0) AS mx0, min(x1) AS mn1, max(x1) AS mx1 FROM src),
ed AS (SELECT mn0, COALESCE(NULLIF((mx0 - mn0) / {B}.0, 0.0), 1.0) AS w0,
              mn1, COALESCE(NULLIF((mx1 - mn1) / {B}.0, 0.0), 1.0) AS w1 FROM mm),
b0src AS MATERIALIZED (
  SELECT y,
         LEAST({B - 1}, CAST(FLOOR((x0 - e.mn0) / e.w0) AS INT)) AS b0,
         LEAST({B - 1}, CAST(FLOOR((x1 - e.mn1) / e.w1) AS INT)) AS b1,
         0 AS node
  FROM src, ed e)"""


def _tree_level_ctes(p: str, d: int, prev: str) -> str:
    """One tree-grow level as chained CTEs (prefix ``p``, depth ``d``,
    binned-and-assigned input CTE ``prev``): exact (count, Σy) histogram
    for the level's ACTIVE nodes, per-feature cumulative marginals, the
    staged-float gain argmax with (gain DESC, feature, bin) tie-break,
    strict improvement over the no-split baseline, and the child
    assignment. Mirrors ``_grow_hist_tree`` decision for decision —
    every float is produced by the same exact-int→double casts and the
    same IEEE op order, so the chosen tree is identical, not close."""
    B, L = _TREE_BINS, _TREE_MIN_LEAF
    active = (
        "node = 0"
        if d == 0
        else f"node IN (SELECT 2*node + 1 FROM {p}s{d - 1} "
        f"UNION ALL SELECT 2*node + 2 FROM {p}s{d - 1})"
    )
    out = f"""
{p}h{d} AS MATERIALIZED (
  SELECT node, b0, b1, COUNT(*) AS n, SUM(y) AS sy
  FROM {prev} WHERE {active} GROUP BY node, b0, b1),
{p}t{d} AS MATERIALIZED (
  SELECT node, CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(sy) AS BIGINT) AS sy_tot
  FROM {p}h{d} GROUP BY node)"""
    if d < _TREE_DEPTH:
        out += f""",
{p}c{d} AS (
  SELECT node, f, bin,
         CAST(SUM(cn) OVER (PARTITION BY node, f ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln,
         CAST(SUM(cs) OVER (PARTITION BY node, f ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ls
  FROM (SELECT node, 0 AS f, b0 AS bin, SUM(n) AS cn, SUM(sy) AS cs
        FROM {p}h{d} GROUP BY node, b0
        UNION ALL
        SELECT node, 1 AS f, b1 AS bin, SUM(n) AS cn, SUM(sy) AS cs
        FROM {p}h{d} GROUP BY node, b1) mg),
{p}g{d} AS (
  SELECT c.node, c.f, c.bin AS s,
         CAST(c.ls AS DOUBLE) * CAST(c.ls AS DOUBLE) / CAST(c.ln AS DOUBLE)
           + CAST(t.sy_tot - c.ls AS DOUBLE) * CAST(t.sy_tot - c.ls AS DOUBLE)
             / CAST(t.n_tot - c.ln AS DOUBLE) AS gain,
         t.n_tot, t.sy_tot
  FROM {p}c{d} c JOIN {p}t{d} t USING (node)
  WHERE c.bin < {B - 1} AND c.ln >= {L} AND t.n_tot - c.ln >= {L}),
{p}s{d} AS MATERIALIZED (
  SELECT node, f, s FROM (
    SELECT node, f, s, gain, n_tot, sy_tot,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY gain DESC, f ASC, s ASC) AS rk
    FROM {p}g{d}) q
  WHERE rk = 1 AND n_tot >= {2 * L}
    AND gain > CAST(sy_tot AS DOUBLE) * CAST(sy_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)),
{p}a{d + 1} AS MATERIALIZED (
  SELECT a.y, a.b0, a.b1,
         CASE WHEN s.node IS NULL THEN a.node
              WHEN (CASE WHEN s.f = 0 THEN a.b0 ELSE a.b1 END) > s.s
                THEN 2*a.node + 2
              ELSE 2*a.node + 1 END AS node
  FROM {prev} a LEFT JOIN {p}s{d} s USING (node))"""
    return out


_Q6 = "FLOOR(({x}) * 1000000.0 + 0.5) / 1000000.0"


def _tree_node_rows(p: str, d: int, extra_cols: str = "") -> str:
    """Output rows for one level: totals LEFT JOIN the level's chosen
    splits (depth-capped levels have no split CTE → pure leaves), with
    the threshold/mean projections floor-quantized at 1e-6 exactly as
    the op does."""
    thr0 = _Q6.format(x="e.mn0 + e.w0 * CAST(s.s + 1 AS DOUBLE)")
    thr1 = _Q6.format(x="e.mn1 + e.w1 * CAST(s.s + 1 AS DOUBLE)")
    mean = _Q6.format(x="CAST(t.sy_tot AS DOUBLE) / (100.0 * CAST(t.n_tot AS DOUBLE))")
    if d < _TREE_DEPTH:
        join = f"FROM {p}t{d} t LEFT JOIN {p}s{d} s USING (node), ed e"
        kind = "CASE WHEN s.node IS NULL THEN 'leaf' ELSE 'split' END"
        feat, sbin = "CAST(s.f AS INT)", "CAST(s.s AS INT)"
        thr = f"CASE WHEN s.node IS NULL THEN NULL WHEN s.f = 0 THEN {thr0} ELSE {thr1} END"
    else:  # terminal depth: the op records stats only, never splits
        join = f"FROM {p}t{d} t, ed e"
        kind, feat, sbin, thr = "'leaf'", "CAST(NULL AS INT)", "CAST(NULL AS INT)", "CAST(NULL AS DOUBLE)"
    return f"""
  SELECT {extra_cols}CAST(t.node AS INT) AS node, {d} AS depth, {kind} AS kind,
         {feat} AS feature, {sbin} AS split_bin, {thr} AS threshold,
         t.n_tot AS n, {mean} AS mean_y
  {join}"""


def _hist_tree_sql() -> str:
    """Full-replication DuckDB oracle for ml_decision_tree_hist: replay
    binning, every level's histogram + gain argmax + assignment as one
    chained-CTE query (the unrolled fixed-round pattern — kmeans/LPA
    precedent), emit one row per recorded node."""
    ctes = _tree_bin_ctes()
    prev = "b0src"
    for d in range(_TREE_DEPTH + 1):
        ctes += "," + _tree_level_ctes("", d, prev)
        prev = f"a{d + 1}"
    levels = "\n  UNION ALL".join(
        _tree_node_rows("", d) for d in range(_TREE_DEPTH + 1)
    )
    return f"WITH{ctes}\nSELECT * FROM ({levels}\n) ORDER BY node"


@op("ml_decision_tree_hist", sql=_hist_tree_sql())
def ml_decision_tree_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Depth-2 regression tree grown the way every distributed GBDT
    grows trees (XGBoost's approx/hist algorithm, LightGBM): features
    are pre-binned (16 fixed-width bins), ONE map-side partial
    aggregate builds the per-bin-cell moment histogram — count, Σy —
    and split selection happens on that tiny histogram, never on rows.
    Predicts l_extendedprice (centi-unit integer y) from l_quantity and
    l_discount. The split objective is the gain form ls²/ln + rs²/rn
    (Σy² cancels from every comparison — see _grow_hist_tree), so the
    histogram carries two moments, not three.

    One 2-D (16×16) histogram serves BOTH features and EVERY level: a
    row's node is a function of its bin cell (every split is
    ``b{f} > s``), so each node's cells are a subset of the root's and
    each feature's 1-D split scan is a marginal of them. Moments
    accumulate in DECIMAL(38,0) off integer centi-units (exact,
    associative, overflow-proof — the layout.py fingerprint idiom), so
    the variance-gain argmax runs on exact integers and ties break
    deterministically to (smaller feature, smaller bin). A split must
    leave ≥100 rows per side and strictly reduce SSE, else the node
    leaves.

    The one collect is the ≤256-cell histogram — a bounded model
    literal under the repo's collect() policy, the same contract as
    k-means centroids. Scale: ONE pass over the fact table per tree
    (plus the min/max edge pass), map-side combine into ≤256 cells,
    whatever the depth. The joint histogram has 16^F cells, bounded
    here because F = 2; a wider feature set needs per-level marginal
    histograms (one pass per level, F×16 cells per node). At 100 TB
    this is the histogram-aggregation tree-grow that powers
    distributed GBDT.

    Output: one row per tree node — split nodes carry (feature,
    split_bin, threshold), leaves carry NULLs — plus exact n and the
    1e-6-quantized mean for every node; an empty lineitem grows no
    node and emits no row. Certified two ways: a pure-pandas replica
    test reproduces the tree byte-for-byte, and the FULL-replication
    DuckDB oracle (_hist_tree_sql — unrolled per-level CTE chain
    replaying binning, histograms, the staged-float gain argmax, and
    assignment) hash-matches the whole node table."""
    df, edges = _binned_lineitem(spark, sf)
    nodes, _, _ = _grow_hist_tree(df)

    rows = []
    for nid in sorted(nodes):
        nd = nodes[nid]
        f, s = nd["feature"], nd["split_bin"]
        thr = None if f is None else _q6(edges[f][0] + edges[f][1] * (s + 1))
        mean = _q6(nd["sy"] / (100.0 * nd["n"]))
        rows.append(
            (
                nid, nd["depth"],
                "split" if f is not None else "leaf",
                f, s, thr, nd["n"], mean,
            )
        )
    return spark.createDataFrame(
        rows,
        "node int, depth int, kind string, feature int, split_bin int, "
        "threshold double, n long, mean_y double",
    )


# ---------------------------------------------------------------------------
# heavy hitters: Misra-Gries candidate pass + exact verification pass
# ---------------------------------------------------------------------------

_HH_K = 50  # report terms with frequency > n/K
_HH_SUMMARY = 80  # per-partition MG counters (> _HH_K for slack)


def _mg_partition(batches):
    """Weighted Misra-Gries over one partition's token batches: each
    Arrow batch collapses to (term, count) via value_counts, then merges
    into a bounded counter set; overflow subtracts the minimum count
    from everyone (the batched decrement) and evicts zeros. Summary
    guarantee: any term with partition count > n_p/_HH_SUMMARY survives.
    Emits the surviving terms (candidate superset), ≤ _HH_SUMMARY rows
    per partition."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for term, cnt in pdf["tok"].value_counts().items():
            counters[term] = counters.get(term, 0) + int(cnt)
            if len(counters) > _HH_SUMMARY:
                m = min(counters.values())
                counters = {t: c - m for t, c in counters.items() if c > m}
    yield pd.DataFrame({"term": list(counters.keys())})


# Single source of truth for the heavy-hitter certification SQL — the
# batch op and stream_heavy_hitters are both exactly this query (integer
# partials make streamed ≡ whole-corpus recompute).
_HH_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    n AS (SELECT COUNT(*) AS c FROM tok)
    SELECT tok AS term, COUNT(*) AS cnt
    FROM tok, n
    GROUP BY tok, n.c
    HAVING {_HH_K} * COUNT(*) > c
    ORDER BY cnt DESC, term
    """


@op("agg_heavy_hitters_mg", sql=_HH_ORACLE_SQL)
def agg_heavy_hitters_mg(spark: SparkSession, sf: str) -> DataFrame:
    """Frequent-items (heavy hitters) over the corpus vocabulary by the
    classic TWO-PASS distributed recipe: pass 1 runs weighted
    Misra-Gries per partition (bounded 80-counter summaries — Arrow
    batches collapse to value_counts before touching the counter set),
    whose union is a GUARANTEED superset of every term with global
    count > n/50 (averaging argument: a globally heavy term is heavy in
    at least one partition, and MG never evicts a partition-heavy
    term); pass 2 counts ONLY the candidates exactly (semi-join of the
    token stream against the tiny candidate frame) and keeps
    50·cnt > n — integer-exact. Because the MG superset can't miss a
    true heavy hitter, the output EQUALS the exact frequency-threshold
    query, so this approximate-algorithm op is fully ORACLE-BACKED (the
    incremental≡recompute certification pattern).

    Scale: pass 1 is map-only with O(80) state per partition and ≤80
    output rows per partition — no corpus shuffle; pass 2's aggregation
    is cut to candidate postings BEFORE the shuffle (the same
    postings-bounded shape as the BM25 tf table). n itself is one
    map-side count. At 100 TB this is how you get exact top-vocabulary
    without ever shuffling the token stream: the only corpus-sized work
    is two map passes."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    tok = table(spark, sf, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    candidates = tok.mapInPandas(_mg_partition, "term string").distinct()
    n = tok.agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(F.broadcast(candidates), tok.tok == candidates.term, "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(_HH_K * F.col("cnt") > F.col("c"))
        .select(F.col("tok").alias("term"), "cnt")
        .orderBy(F.col("cnt").desc(), "term")
    )


_GBDT_ROUNDS = 3
_GBDT_LR = 0.5


def _gbdt_node_rows(p: str, rnd: int, d: int) -> str:
    """GBDT output rows for one (round, level): the tree emitter's shape
    plus the round number and the shrunken leaf value (NULL on splits)."""
    thr0 = _Q6.format(x="e.mn0 + e.w0 * CAST(s.s + 1 AS DOUBLE)")
    thr1 = _Q6.format(x="e.mn1 + e.w1 * CAST(s.s + 1 AS DOUBLE)")
    val = _Q6.format(x="l.pred / 100.0")
    if d < _TREE_DEPTH:
        join = (
            f"FROM {p}t{d} t LEFT JOIN {p}s{d} s USING (node) "
            f"LEFT JOIN {p}leaves l USING (node), ed e"
        )
        kind = "CASE WHEN s.node IS NULL THEN 'leaf' ELSE 'split' END"
        feat, sbin = "CAST(s.f AS INT)", "CAST(s.s AS INT)"
        thr = f"CASE WHEN s.node IS NULL THEN NULL WHEN s.f = 0 THEN {thr0} ELSE {thr1} END"
        value = f"CASE WHEN s.node IS NULL THEN {val} ELSE NULL END"
    else:
        join = f"FROM {p}t{d} t LEFT JOIN {p}leaves l USING (node), ed e"
        kind, feat, sbin = "'leaf'", "CAST(NULL AS INT)", "CAST(NULL AS INT)"
        thr, value = "CAST(NULL AS DOUBLE)", val
    return f"""
  SELECT {rnd} AS rnd, CAST(t.node AS INT) AS node, {d} AS depth, {kind} AS kind,
         {feat} AS feature, {sbin} AS split_bin, {thr} AS threshold,
         t.n_tot AS n, {value} AS value
  {join}"""


def _gbdt_sql() -> str:
    """Full-replication DuckDB oracle for ml_gbdt_hist: 3 boosting
    rounds × the per-level tree-grow chain, plus per-round leaf
    shrinkage, the HALF-UP-at-ties residual round-back to exact
    centi-unit integers (scale-0 round() agrees cross-engine — both
    round ties away from zero), and the RMSE row. The only
    non-bit-identical float is the RMSE's Σy²→double conversion (Σy²
    exceeds 2⁵³, where DuckDB's HUGEINT cast is not correctly rounded —
    measured 1-ulp class), absorbed by the 1e-6 floor quantization's
    ~8-orders-of-magnitude margin; every split decision uses only
    sub-2⁵³ staged floats (see _grow_hist_tree) and replays exactly."""
    ctes = _tree_bin_ctes()
    selects = []
    prev_b = "b0src"
    for r in range(1, _GBDT_ROUNDS + 1):
        p = f"r{r}"
        prev = prev_b
        for d in range(_TREE_DEPTH + 1):
            ctes += "," + _tree_level_ctes(p, d, prev)
            prev = f"{p}a{d + 1}"
        leaf_parts = []
        for d in range(_TREE_DEPTH + 1):
            if d < _TREE_DEPTH:
                leaf_parts.append(
                    f"SELECT t.node, t.n_tot, t.sy_tot FROM {p}t{d} t "
                    f"LEFT JOIN {p}s{d} s USING (node) WHERE s.node IS NULL"
                )
            else:
                leaf_parts.append(f"SELECT node, n_tot, sy_tot FROM {p}t{d}")
        fin = f"{p}a{_TREE_DEPTH}"
        ctes += f""",
{p}leaves AS MATERIALIZED (
  SELECT node, (0.5 * CAST(sy_tot AS DOUBLE)) / CAST(n_tot AS DOUBLE) AS pred
  FROM ({" UNION ALL ".join(leaf_parts)}) lv WHERE n_tot > 0),
{p}res AS MATERIALIZED (
  SELECT CAST(round(CAST(a.y AS DOUBLE) - COALESCE(l.pred, 0.0)) AS BIGINT) AS y,
         a.b0, a.b1, 0 AS node
  FROM {fin} a LEFT JOIN {p}leaves l USING (node)),
{p}mom AS (SELECT COUNT(*) AS n, SUM(y*y) AS syy FROM {p}res)"""
        for d in range(_TREE_DEPTH + 1):
            selects.append(_gbdt_node_rows(p, r, d))
        rmse = _Q6.format(
            x="sqrt(CAST(m.syy AS DOUBLE) / CAST(m.n AS DOUBLE)) / 100.0"
        )
        selects.append(f"""
  SELECT {r} AS rnd, -1 AS node, CAST(NULL AS INT) AS depth,
         'round_rmse' AS kind, CAST(NULL AS INT) AS feature,
         CAST(NULL AS INT) AS split_bin, CAST(NULL AS DOUBLE) AS threshold,
         CAST(m.n AS BIGINT) AS n, {rmse} AS value
  FROM {p}mom m""")
        prev_b = f"{p}res"
    body = "\n  UNION ALL".join(selects)
    return f"WITH{ctes}\nSELECT * FROM ({body}\n) ORDER BY rnd, node"


@op("ml_gbdt_hist", sql=_gbdt_sql())
def ml_gbdt_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Gradient-boosted trees with squared loss = iterated residual
    fitting — 3 rounds of the SAME histogram tree-grow
    ml_decision_tree_hist certifies (shared `_grow_hist_tree`), each on
    the previous round's residuals, with learning rate 0.5. This is
    the full distributed-GBDT shape (XGBoost/LightGBM): per round, ONE
    map-side-combined joint-bin histogram aggregate grows the whole
    tree; leaf values are bounded model literals; the residual update
    is a pure column expression (leaf → prediction via a ≤7-way CASE,
    then a HALF_UP round back to exact centi-unit integers so the NEXT
    round's DECIMAL moments stay exact — the trick that keeps an
    iterative float algorithm hash-reproducible end to end). Every
    round reads the one checkpointed binned frame through its stacked
    residual projections — no per-round materialization.

    Output: every tree node of every round (leaves carry the shrunken
    leaf value) plus a per-round training-RMSE row — the RMSE sequence
    must be non-increasing (boosting on train always is; test-pinned),
    and the whole table is reproduced byte-for-byte by a sequential
    pandas/int replica. Round r's RMSE is folded into round r+1's
    histogram as a third moment (Σy², DECIMAL(38,0)); only the last
    round pays a separate moments aggregate. An empty lineitem emits
    no node rows and RMSE rows with n = 0 and a NULL value. At 100 TB:
    rounds + 1 passes over the fact table (plus the edge pass),
    constant-size shuffles (≤256 cells), no row ever leaves the
    cluster. The joint histogram is 16^F cells — bounded because F = 2;
    a wider feature set needs per-level marginal histograms."""
    import math as _math

    def rmse_row(rnd: int, n: int, syy: int):
        value = _q6(_math.sqrt(syy / n) / 100.0) if n else None
        return (rnd, -1, None, "round_rmse", None, None, None, n, value)

    binned, edges = _binned_lineitem(spark, sf)
    cur = materialize(binned)
    out_rows = []
    for rnd in range(1, _GBDT_ROUNDS + 1):
        nodes, assigned, syy = _grow_hist_tree(cur, syy=rnd > 1)
        if rnd > 1:  # this histogram's Σy² is the previous round's RMSE
            out_rows.append(rmse_row(rnd - 1, nodes[0]["n"] if nodes else 0, syy))
        preds = {
            nid: _GBDT_LR * nd["sy"] / nd["n"]
            for nid, nd in nodes.items() if nd["feature"] is None
        }
        for nid in sorted(nodes):
            nd = nodes[nid]
            f, s = nd["feature"], nd["split_bin"]
            thr = None if f is None else _q6(edges[f][0] + edges[f][1] * (s + 1))
            val = _q6(preds[nid] / 100.0) if nid in preds else None
            out_rows.append(
                (rnd, nid, nd["depth"], "split" if f is not None else "leaf",
                 f, s, thr, nd["n"], val)
            )
        pred_expr = F.lit(0.0)
        for nid, p in preds.items():
            pred_expr = F.when(F.col("node") == nid, F.lit(p)).otherwise(pred_expr)
        cur = assigned.withColumn(
            "y", F.round(F.col("y") - pred_expr).cast("long")
        ).select("y", "b0", "b1")
    mom = cur.agg(F.count(F.lit(1)).alias("n"), _sum_y2()).collect()[0]
    out_rows.append(rmse_row(_GBDT_ROUNDS, mom["n"], int(mom["syy"] or 0)))
    return spark.createDataFrame(
        out_rows,
        "rnd int, node int, depth int, kind string, feature int, "
        "split_bin int, threshold double, n long, value double",
    )
