"""Extended relational surface beyond SURVEY §2.3's minimum: pivot, full
outer join, argmax aggregates, ordered string aggregation, exact
percentiles, stable variance/stddev, calendar generation, bitwise and
hash/encoding function families, deterministic sampling, and raw-SQL
end-to-end execution. All declarative; oracle-checked where cross-engine
math permits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bpspark.io import materialize, table
from bpspark.registry import op


@op(
    "agg_pivot",
    sql="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS value_f
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: status categories to columns. Explicit value list → a single
    aggregate pass (no extra distinct-values job at scale)."""
    o = table(spark, sf, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("value"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("status_f"),
        F.coalesce("O_n", F.lit(0)).alias("status_o"),
        F.coalesce("P_n", F.lit(0)).alias("status_p"),
        F.coalesce("F_value", F.lit(0.0)).alias("value_f"),
    )


@op(
    "join_full_outer",
    sql="""
    SELECT c_custkey, o_orderkey
    FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer: unmatched rows from both sides survive with nulls."""
    c = table(spark, sf, "customer")
    o = table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select("c_custkey", "o_orderkey")


@op(
    "agg_min_by_max_by",
    sql="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf: str) -> DataFrame:
    """argmax/argmin aggregates (max_by/min_by). o_totalprice values are
    distinct-per-group at 2dp in this data, so the arg is deterministic;
    for tie-prone data pair the value with a unique key first."""
    o = table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@op(
    "agg_string_concat_ordered",
    sql="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered string aggregation: collect → sort → join makes the
    concatenation order deterministic (bare collect_list order is not)."""
    n = table(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv")
    )


@op(
    "agg_percentile_exact",
    sql="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous percentiles. Both engines use linear interpolation
    over the sorted values → identical doubles. At 100 TB exact percentile
    = full sort per group; prefer approx_percentile (sketch-based,
    mergeable) unless exactness is contractual."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
    )


@op(
    "agg_stddev_stable",
    sql="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           (ROUND(SUM(l_discount * l_discount), 4)
            - ROUND(SUM(l_discount), 2) * ROUND(SUM(l_discount), 2) / COUNT(*))
           / (COUNT(*) - 1) AS variance_stable
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stddev_stable(spark: SparkSession, sf: str) -> DataFrame:
    """Variance via stabilized moments: ROUND(Σx,2) / ROUND(Σx²,4) snap the
    exact-decimal sums to cross-engine-identical doubles; the remaining
    arithmetic is IEEE-deterministic. Works because l_discount is a small-
    magnitude exact-2dp column — the sums stay far inside double precision.
    (Moment math on large-magnitude columns like o_totalprice exceeds the
    53-bit mantissa and can NEVER be made cross-engine exact; native
    stddev/var also differ in the last bits from accumulation order.)"""
    li = table(spark, sf, "lineitem")
    n = F.count(F.lit(1))
    sx = F.round(F.sum("l_discount"), 2)
    sxx = F.round(F.sum(F.col("l_discount") * F.col("l_discount")), 4)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        ((sxx - sx * sx / n) / (n - F.lit(1))).alias("variance_stable"),
    )


@op(
    "gen_calendar_dim",
    sql="""
    SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day, CAST(year(d) AS INT) AS y,
           CAST(month(d) AS INT) AS m
    FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                        INTERVAL 1 DAY)) AS d)
    """,
)
def gen_calendar_dim(spark: SparkSession, sf: str) -> DataFrame:
    """Generated calendar dimension: sequence + explode (the standard
    date-spine pattern for gap-filling joins)."""
    days = F.sequence(
        F.lit("1995-01-01").cast("date"), F.lit("1995-03-31").cast("date")
    )
    return spark.range(1).select(F.explode(days).alias("d")).select(
        F.col("d").cast("string").alias("day"),
        F.year("d").alias("y"),
        F.month("d").alias("m"),
    )


@op(
    "fn_bitwise",
    sql="""
    SELECT o_orderkey,
           o_orderkey & 255 AS low_byte,
           o_orderkey | 4096 AS with_flag,
           xor(o_orderkey, 21845) AS xored,
           o_orderkey << 2 AS shifted_left,
           o_orderkey >> 3 AS shifted_right
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise family — exact integer semantics, fully oracle-checkable."""
    o = table(spark, sf, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(21845)).alias("xored"),
        F.shiftleft(k, 2).alias("shifted_left"),
        F.shiftright(k, 3).alias("shifted_right"),
    )


@op(
    "fn_hash_encode",
    sql="""
    SELECT doc_id,
           md5(source) AS src_md5,
           sha256(source) AS src_sha256,
           base64(CAST(source AS BLOB)) AS src_b64,
           CAST(CAST(from_base64(base64(CAST(source AS BLOB))) AS BLOB) AS VARCHAR) AS b64_roundtrip
    FROM documents
    """,
)
def fn_hash_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Hash + encoding family: md5/sha256/base64 with a round-trip proof."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5("source").alias("src_md5"),
        F.sha2("source", 256).alias("src_sha256"),
        F.base64(F.encode("source", "utf-8")).alias("src_b64"),
        F.decode(F.unbase64(F.base64(F.encode("source", "utf-8"))), "utf-8").alias("b64_roundtrip"),
    )


@op(
    "fn_date_arith",
    sql="""
    SELECT o_orderkey,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3_months,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           (2002 - CAST(year(o_orderdate) AS INT)) * 12 + (1 - CAST(month(o_orderdate) AS INT)) AS month_boundaries_to_2002,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week
    FROM orders
    """,
)
def fn_date_arith(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar arithmetic: add_months, last_day, month-boundary distance
    (explicit year/month arithmetic — engines disagree on day-sensitive
    month diffs like months_between vs date_diff('month')), quarter, ISO
    week (both engines use ISO-8601 week numbering)."""
    o = table(spark, sf, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.add_months(d, 3).cast("string").alias("plus_3_months"),
        F.last_day(d).cast("string").alias("month_end"),
        ((F.lit(2002) - F.year(d)) * 12 + (F.lit(1) - F.month(d))).alias("month_boundaries_to_2002"),
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("iso_week"),
    )


@op(
    "set_intersect_all",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    """Bag intersection (multiplicity = min of the two sides)."""
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@op(
    "set_except_all",
    sql="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except_all(spark: SparkSession, sf: str) -> DataFrame:
    """Bag difference (multiplicity-preserving)."""
    c = table(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@op(
    "join_right_outer",
    sql="""
    SELECT o_orderkey, c_custkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Right outer join (kept for API completeness; planners canonicalize
    to a left join with sides swapped)."""
    o = table(spark, sf, "orders")
    c = table(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select("o_orderkey", "c_custkey")


@op(
    "reshape_unpivot",
    sql="""
    SELECT c_custkey, metric, value FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
    )
    """,
)
def reshape_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot / melt: wide columns → (metric, value) long form — the
    standard reshape before per-metric aggregation; a generator expression,
    no shuffle."""
    c = table(spark, sf, "customer").select(
        "c_custkey", "c_acctbal", F.col("c_nationkey").cast("double").alias("c_nationkey")
    )
    return c.unpivot(
        "c_custkey", ["c_acctbal", "c_nationkey"], "metric", "value"
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "c_acctbal", "acctbal").otherwise("nationkey"),
    )


@op(
    "fn_string_extra",
    sql="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS first_word,
           replace(p_name, 'widget', 'gadget') AS renamed,
           translate(p_brand, '#', '-') AS brand_dashed,
           repeat('ab', 3) AS repeated,
           reverse(p_brand) AS brand_rev,
           CAST(strpos(p_name, 'widget') AS INT) AS widget_pos,
           left(p_name, 4) AS head4,
           right(p_name, 3) AS tail3
    FROM part
    """,
)
def fn_string_extra(spark: SparkSession, sf: str) -> DataFrame:
    """Second string family: split_part, replace, translate, repeat,
    reverse, position (1-based, 0 when absent), left/right."""
    p = table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.split_part("p_name", F.lit(" "), F.lit(1)).alias("first_word"),
        F.replace("p_name", F.lit("widget"), F.lit("gadget")).alias("renamed"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("ab"), 3).alias("repeated"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.left("p_name", F.lit(4)).alias("head4"),
        F.right("p_name", F.lit(3)).alias("tail3"),
    )


@op(
    "fn_try_cast",
    sql="""
    SELECT doc_id,
           TRY_CAST(lang AS INTEGER) AS lang_as_int,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS chars_roundtrip,
           TRY_CAST('not a date' AS DATE) IS NULL AS bad_date_is_null
    FROM documents
    """,
)
def fn_try_cast(spark: SparkSession, sf: str) -> DataFrame:
    """Safe casting: invalid casts yield NULL instead of failing the job —
    the R15 error-channel philosophy at expression level (a malformed cell
    must never kill a 100 TB scan)."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.try_to_number("lang", F.lit("999")).cast("int").alias("lang_as_int"),
        F.col("n_chars").cast("string").try_cast("int").alias("chars_roundtrip"),
        F.lit("not a date").try_cast("date").isNull().alias("bad_date_is_null"),
    )


@op(
    "win_mixed_frame",
    sql="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING
           ), 2) AS windowed_sum,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING
           ) AS frame_size
    FROM orders
    """,
)
def win_mixed_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded mixed frame (2 preceding .. 1 following) — sliding-context
    aggregation over row frames."""
    from pyspark.sql.window import Window

    o = table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 1)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("windowed_sum"),
        F.count(F.lit(1)).over(w).alias("frame_size"),
    )


@op("agg_approx_percentile", sql=None)  # sketch-based → rows-only
def agg_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles (mergeable sketch — the 100 TB path where
    exact percentile's full sort per group is prohibitive). Returned
    values are actual dataset elements picked by the GK summary, so they
    are exact-2dp prices; they are deterministic for a FIXED input
    layout (same splits/partial-merge order — reruns in one session
    agree, tests pin it) but, like any mergeable quantile sketch, may
    pick a different element if the scan's split layout changes."""
    li = table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("approx_median"),
        F.approx_percentile("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("approx_p99"),
    )


@op(
    "win_percent_rank_cume",
    sql="""
    SELECT c_custkey, c_mktsegment,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTH_VALUE(c_custkey, 3) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percent_rank_cume(spark: SparkSession, sf: str) -> DataFrame:
    """Relative-rank windows: percent_rank = (rank-1)/(n-1) and cume_dist
    are exact integer ratios → bit-identical cross-engine; nth_value over
    an explicit full frame."""
    from pyspark.sql.window import Window

    c = table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey", "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("c_custkey", 3).over(wf).alias("third_poorest"),
    )


@op(
    "fn_regex_extract_all",
    sql="""
    SELECT p_partkey,
           array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS words_joined,
           len(regexp_extract_all(p_name, '[a-z]+')) AS n_words,
           regexp_extract_all(p_type, '[A-Z]+')[1] AS first_upper_token
    FROM part
    """,
)
def fn_regex_extract_all(spark: SparkSession, sf: str) -> DataFrame:
    """regexp_extract_all: all matches as an array + derived projections
    (array emitted as a joined string so the oracle compare is
    representation-independent)."""
    p = table(spark, sf, "part")
    # group index 0 = whole match (Spark defaults to group 1 and errors on
    # group-free patterns; DuckDB defaults to the whole match)
    words = F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)
    return p.select(
        "p_partkey",
        F.array_join(words, "|").alias("words_joined"),
        F.size(words).alias("n_words"),
        F.regexp_extract_all("p_type", F.lit("[A-Z]+"), 0).getItem(0).alias("first_upper_token"),
    )


@op(
    "agg_collect_arrays",
    sql="""
    SELECT n_regionkey,
           array_to_string(list(n_name ORDER BY n_name), ',') AS nation_names_csv,
           array_to_string(list_sort(list(DISTINCT n_nationkey)), ',') AS nation_keys_csv
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect_arrays(spark: SparkSession, sf: str) -> DataFrame:
    """Array-building aggregates: sorted collect_list / collect_set,
    emitted as joined strings (deterministic contents AND
    representation-independent for the driver's value hash)."""
    n = table(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nation_names_csv"),
        F.array_join(F.array_sort(F.collect_set("n_nationkey")).cast("array<string>"), ",").alias("nation_keys_csv"),
    )


@op("sample_deterministic", sql=None)  # sampling is engine-specific by nature
def sample_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded Bernoulli sample — reproducible within Spark (seed pins the
    per-partition RNG); registered rows-only because no cross-engine oracle
    can share Spark's sampler. At 100 TB, sampling is the first step of
    stats collection and skew probing."""
    li = table(spark, sf, "lineitem")
    return li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber")


@op(
    "join_skew_salted",
    sql="""
    SELECT e.event_id, o.o_orderkey
    FROM (SELECT event_id, user_id % 3 AS hot_key FROM events) e
    JOIN (SELECT o_orderkey, o_custkey % 3 AS hot_key FROM orders) o
      ON e.hot_key = o.hot_key
    WHERE e.event_id % 50 = 0 AND o.o_orderkey % 50 = 0
    """,
)
def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Salted join for skewed keys: only 3 distinct join keys exist (the
    pathological case — a vanilla shuffle join lands everything on 3
    reducers). Each left row gets a random-free deterministic salt
    (row-hash % SALT), the right side is replicated SALT× with an exploded
    salt column, and the join key becomes (hot_key, salt) — fanning each
    hot key across SALT reducers. Results are identical to the unsalted
    join (the oracle proves it); only the partitioning changes. AQE's
    skew-join split is the automatic cousin; explicit salting is the tool
    when a single key exceeds what one task can ever hold."""
    SALT = 8
    e = (
        table(spark, sf, "events")
        .filter(F.col("event_id") % 50 == 0)
        .select("event_id", (F.col("user_id") % 3).alias("hot_key"))
        .withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT)))
    )
    o = (
        table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select("o_orderkey", (F.col("o_custkey") % 3).alias("hot_key"))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))))
    )
    return e.join(o, ["hot_key", "salt"]).select("event_id", "o_orderkey")


SQL_E2E = """
WITH seg_orders AS (
    SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ranked AS (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM seg_orders
)
SELECT c_mktsegment, o_orderkey, o_totalprice
FROM ranked WHERE rn <= 2
"""


@op("sql_end_to_end", sql=SQL_E2E)
def sql_end_to_end(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL surface itself: the SAME SQL text runs on Spark (temp views +
    spark.sql) and on the DuckDB oracle — CTEs, join, window, top-k per
    group. Demonstrates that a reference user can bring raw ANSI SQL."""
    for t in ("orders", "customer"):
        table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(SQL_E2E)


@op(
    "agg_mode",
    sql="""
    SELECT l_returnflag, q AS mode_quantity, cnt AS mode_count FROM (
        SELECT l_returnflag, q, cnt,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY cnt DESC, q ASC) AS rn
        FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                     COUNT(*) AS cnt
              FROM lineitem GROUP BY l_returnflag, q)
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical mode with a deterministic tie-break (highest count, then
    smallest value — native mode() tie-breaks are engine-arbitrary, so
    cross-engine parity needs the explicit argmax form). Spark plan: two
    hash aggregations (count per (group, value), then max_by over a
    (count, -value) struct) — both partial-aggregate map-side, no window
    sort anywhere. At 100 TB this is two narrow shuffles on keys that
    shrink at each step; the window-based form would sort every group."""
    li = table(spark, sf, "lineitem")
    cnt = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return cnt.groupBy("l_returnflag").agg(
        F.max_by(F.col("q"), F.struct(F.col("cnt"), (-F.col("q")).alias("nq"))).alias(
            "mode_quantity"
        ),
        F.max("cnt").alias("mode_count"),
    )


@op(
    "join_range_bucketed",
    sql="""
    SELECT e1.event_id AS a_event_id, e2.event_id AS b_event_id, e1.user_id
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    """,
)
def join_range_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB form of join_theta_range: quantize event time into
    buckets the size of the join window (5 min), explode the left side to
    (bucket, bucket+1), and equi-join on (user_id, bucket) before applying
    the exact range residual. Identical output to the plain theta join
    (the window spans at most two buckets), but the hash join key now
    includes time — per-user histories no longer fan out quadratically
    within the join, which is the difference between hours and minutes on
    dense keys. Each (e1, e2) pair matches exactly once because e2 carries
    one bucket and the exploded pair {b, b+1} is distinct."""
    bucket_us = 300 * 1_000_000  # 5 minutes in microseconds
    ev = table(spark, sf, "events").select("event_id", "ts", "user_id")
    e1 = ev.select(
        F.col("event_id").alias("a_event_id"),
        F.col("ts").alias("a_ts"),
        "user_id",
        F.explode(
            F.array(
                F.floor(F.unix_micros("ts") / bucket_us),
                F.floor(F.unix_micros("ts") / bucket_us) + 1,
            )
        ).alias("bucket"),
    )
    e2 = ev.select(
        F.col("event_id").alias("b_event_id"),
        F.col("ts").alias("b_ts"),
        F.col("user_id").alias("b_user_id"),
        F.floor(F.unix_micros("ts") / bucket_us).alias("bucket"),
    )
    return e1.join(
        e2,
        (F.col("user_id") == F.col("b_user_id"))
        & (e1.bucket == e2.bucket)
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("a_event_id", "b_event_id", "user_id")


@op(
    "agg_bool_and_or",
    sql="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)            AS all_over_1000,
           bool_or(o_orderpriority = '1-URGENT')    AS any_urgent,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bool_and_or(spark: SparkSession, sf: str) -> DataFrame:
    """Boolean aggregates (every/any — SQL bool_and/bool_or): exact,
    order-independent, partial-aggregate map-side like any algebraic agg."""
    o = table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1000"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count(F.lit(1)).alias("n"),
    )


@op(
    "win_ntile_bucketize",
    sql="""
    WITH t AS (
      SELECT NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket,
             o_totalprice
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM t GROUP BY bucket
    """,
)
def win_ntile_bucketize(spark: SparkSession, sf: str) -> DataFrame:
    """Decile bucketization with exact NTILE semantics and a deterministic
    tie-break (feature discretization / quantile binning), computed the
    scale-safe way (r11 review: the old plan was
    `F.ntile(10).over(Window.orderBy(...))` — an unpartitioned window
    that collapses the whole table onto ONE task, the same class as the
    r10 CCNet tertile scale-killer).

    Exact distributed form: two-phase global rank (range-repartition by
    the sort key, per-range row_number, ≤64-row prefix-count broadcast —
    the _ordered_cumsum shape from selection.py applied to unique-keyed
    rows), then SQL NTILE's closed form on the 0-indexed position i:
    the first n%k buckets take ceil(n/k) rows, the rest floor(n/k) —
    pure integer arithmetic, bit-identical to the oracle's NTILE. The
    materialized frame pins the sampled range boundaries so the prefix pass
    and the rank pass read the same split."""
    o = table(spark, sf, "orders").select("o_totalprice", "o_orderkey")
    h = materialize(
        o.repartitionByRange(64, "o_totalprice", "o_orderkey")
        .withColumn("_pid", F.spark_partition_id())
    )
    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        h.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_prefix", F.coalesce(F.sum("_c").over(wprev), F.lit(0)))
    )
    n = prefix.agg(F.sum("_c").alias("n"))
    wpart = Window.partitionBy("_pid").orderBy("o_totalprice", "o_orderkey")
    q, r = F.expr("n DIV 10"), F.expr("n % 10")
    i = F.col("_prefix") + F.row_number().over(wpart) - 1
    t = (
        h.join(F.broadcast(prefix.select("_pid", "_prefix")), "_pid")
        .crossJoin(F.broadcast(n))
        .withColumn("_i", i)
        # i < r*(q+1): one of the r "tall" buckets of q+1 rows (covers all
        # rows when n < k, so the q=0 division-by-zero branch is dead)
        .withColumn(
            "bucket",
            F.when(F.col("_i") < r * (q + 1), F.expr("_i DIV (n DIV 10 + 1)"))
            .otherwise(r + F.expr("(_i - (n % 10) * (n DIV 10 + 1)) DIV (n DIV 10)"))
            .cast("int")
            + 1,
        )
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@op(
    "agg_histogram_fixed",
    sql="""
    SELECT CAST(FLOOR((l_extendedprice - 900.0) / 5000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM lineitem GROUP BY bucket
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram (data profiling): bucket = floor((x-lo)/w)
    computed inside the scan stage — no sort, no window, fully scan-local
    partial aggregation, the 100 TB-safe way to bucketize. The identical
    IEEE double expression runs on both engines, so floor() agrees
    bit-for-bit."""
    li = table(spark, sf, "lineitem")
    bucket = F.floor((F.col("l_extendedprice") - F.lit(900.0)) / F.lit(5000.0))
    return li.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


@op(
    "win_time_range_interval",
    sql="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           MAX(value) OVER w AS max_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def win_time_range_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-time-window aggregates (events per user in the preceding
    hour): RANGE frame over epoch microseconds — the rolling-feature shape
    every time-series/feature pipeline needs. Partitioned by user, so at
    100 TB each window sort is per-user-local after one shuffle; only
    exact aggregates (count/max) are used because windowed float SUMs
    accumulate in engine-specific order."""
    from pyspark.sql.window import Window

    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.max("value").over(w).alias("max_last_hour"),
    )


@op("sample_stratified", sql=None)  # sampling is engine-specific by nature
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified (per-key) sample via ``sampleBy`` — downsample dominant
    strata while keeping rare ones intact, the standard class-rebalancing
    step for training-data curation. Seeded, so reproducible for a FIXED
    input layout — sampleBy is per-partition-seeded Bernoulli, meaning
    the selected row SET changes if the scan's split count or row order
    changes (r8 doc fix: 'reproducible' is layout-conditional, the
    inherent contract of every partition-seeded sampler); rows-only
    because no cross-engine oracle shares Spark's sampler. Map-only at
    any scale (per-row Bernoulli keyed by the stratum column; no
    shuffle)."""
    c = table(spark, sf, "customer")
    fractions = {
        "BUILDING": 0.2,
        "AUTOMOBILE": 0.5,
        "MACHINERY": 1.0,
        "HOUSEHOLD": 0.05,
        # FURNITURE intentionally absent -> dropped entirely
    }
    return c.sampleBy("c_mktsegment", fractions, seed=42).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


@op(
    "agg_weighted_avg",
    sql="""
    SELECT c_mktsegment,
           ROUND(SUM(o_totalprice * c_acctbal), 2) AS wsum,
           ROUND(SUM(c_acctbal), 2) AS wtot,
           ROUND(SUM(o_totalprice * c_acctbal), 2)
             / ROUND(SUM(c_acctbal), 2) AS weighted_avg_price,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted average (account-balance-weighted order price per segment) —
    SUM(w·x)/SUM(w) with both sums rounded BEFORE the division so the
    quotient is a division of bit-identical doubles (never ROUND(AVG)).
    One shuffle on custkey for the join, partial aggs on both sides of the
    5-row segment rollup."""
    o = table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf, "customer").filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("o_totalprice") * F.col("c_acctbal")), 2).alias("wsum"),
            F.round(F.sum("c_acctbal"), 2).alias("wtot"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "c_mktsegment",
            "wsum",
            "wtot",
            (F.col("wsum") / F.col("wtot")).alias("weighted_avg_price"),
            "n_orders",
        )
        .orderBy("c_mktsegment")
    )


@op(
    "win_first_last_ignore_nulls",
    sql="""
    SELECT event_id, user_id,
           first_value(v IGNORE NULLS) OVER w AS first_nonnull,
           last_value(v IGNORE NULLS)  OVER w AS last_nonnull,
           last_value(v IGNORE NULLS) OVER wp AS prev_nonnull
    FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN value >= 10 THEN value END AS v
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wp AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ORDER BY event_id
    """,
)
def win_first_last_ignore_nulls(spark: SparkSession, sf: str) -> DataFrame:
    """IGNORE NULLS window navigation (first/last/lag over a sparse
    measure) — the LOCF primitive exposed as its own op. Values < 10 are
    nulled to create sparsity deterministically. One shuffle on user_id;
    the running frame needs no full-partition materialization. Total
    order (ts, event_id) makes the result deterministic."""
    e = table(spark, sf, "events").select(
        "event_id", "user_id", "ts", F.when(F.col("value") >= 10, F.col("value")).alias("v")
    )
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = base.rowsBetween(Window.unboundedPreceding, -1)
    return e.select(
        "event_id",
        "user_id",
        F.first("v", ignorenulls=True).over(w).alias("first_nonnull"),
        F.last("v", ignorenulls=True).over(w).alias("last_nonnull"),
        F.last("v", ignorenulls=True).over(wp).alias("prev_nonnull"),
    ).orderBy("event_id")


@op(
    "win_nth_value",
    sql="""
    SELECT event_id, user_id, value,
           nth_value(value, 3) OVER w AS third_value,
           nth_value(event_type, 2) OVER w AS second_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY event_id
    """,
)
def win_nth_value(spark: SparkSession, sf: str) -> DataFrame:
    """nth_value navigation over a whole-partition frame: the 3rd value and
    2nd event_type per user in (ts, event_id) order — deterministic because
    the ORDER BY key is unique. One shuffle on user_id; the frame is
    unbounded so Spark materializes each partition once (fine: per-user
    event counts are bounded; a 100 TB run partitions by user hash)."""
    ev = table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.nth_value("value", 3).over(w).alias("third_value"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    ).orderBy("event_id")


@op(
    "agg_skew_kurt",
    sql="""
    SELECT l_returnflag, n,
           (s3 / n - 3.0 * mu * (s2 / n) + 2.0 * mu * mu * mu)
               / (m2 * sqrt(m2)) AS skewness_pop,
           (s4 / n - 4.0 * mu * (s3 / n) + 6.0 * mu * mu * (s2 / n)
                - 3.0 * mu * mu * mu * mu)
               / (m2 * m2) - 3.0 AS excess_kurtosis_pop
    FROM (
        SELECT l_returnflag, n, s1, s2, s3, s4, mu,
               s2 / n - mu * mu AS m2
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(l_quantity) AS DOUBLE) AS s1,
                   CAST(SUM(l_quantity * l_quantity) AS DOUBLE) AS s2,
                   CAST(SUM(l_quantity * l_quantity * l_quantity) AS DOUBLE) AS s3,
                   CAST(SUM(l_quantity * l_quantity * l_quantity * l_quantity) AS DOUBLE) AS s4,
                   CAST(SUM(l_quantity) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
            FROM lineitem GROUP BY l_returnflag
        )
    )
    ORDER BY l_returnflag
    """,
)
def agg_skew_kurt(spark: SparkSession, sf: str) -> DataFrame:
    """Population skewness and excess kurtosis per group via integer power
    sums. Native skewness()/kurtosis() accumulate floats in partition
    order (non-deterministic cross-engine), so this uses the
    agg_corr_regr trick one moment higher: l_quantity is integral, so
    Σx..Σx⁴ are EXACT bigint sums (≤ 50⁴·|rows| ≪ 2⁵³), order-independent
    and partial-aggregatable map-side; the central-moment arithmetic is
    then the same IEEE expression tree in both engines (sqrt only — no
    libm pow, which differs in the last ulp across implementations)."""
    li = table(spark, sf, "lineitem")
    q = F.col("l_quantity")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(q * q).cast("double").alias("s2"),
        F.sum(q * q * q).cast("double").alias("s3"),
        F.sum(q * q * q * q).cast("double").alias("s4"),
        (F.sum(q).cast("double") / F.count(F.lit(1)).cast("double")).alias("mu"),
    )
    n, s2, s3, s4, mu = (F.col(c) for c in ["n", "s2", "s3", "s4", "mu"])
    m2 = s2 / n - mu * mu
    stepped = sums.withColumn("m2", m2)
    m2c = F.col("m2")
    skew = (s3 / n - F.lit(3.0) * mu * (s2 / n) + F.lit(2.0) * mu * mu * mu) / (
        m2c * F.sqrt(m2c)
    )
    kurt = (
        s4 / n
        - F.lit(4.0) * mu * (s3 / n)
        + F.lit(6.0) * mu * mu * (s2 / n)
        - F.lit(3.0) * mu * mu * mu * mu
    ) / (m2c * m2c) - F.lit(3.0)
    return stepped.select(
        "l_returnflag",
        "n",
        skew.alias("skewness_pop"),
        kurt.alias("excess_kurtosis_pop"),
    ).orderBy("l_returnflag")


@op(
    "join_fuzzy_levenshtein",
    sql="""
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           levenshtein(a.p_brand, b.p_brand) AS edit_dist
    FROM (SELECT DISTINCT p_brand FROM part) a
    JOIN (SELECT DISTINCT p_brand FROM part) b
      ON a.p_brand < b.p_brand
    WHERE levenshtein(a.p_brand, b.p_brand) <= 2
    ORDER BY brand_a, brand_b
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy self-join on edit distance — the dedup-adjacent shape for
    dirty dimension values. DISTINCT first collapses the fact-scale column
    to its value domain (the only thing that crosses the network), then a
    broadcast theta-join compares value pairs; `<` halves the matrix and
    drops self-pairs. At 100 TB the domain stays small even when the scan
    doesn't — classic aggregate-before-join. Both engines implement
    classic Wagner-Fischer edit distance, so the predicate agrees."""
    brands_a = table(spark, sf, "part").select("p_brand").distinct()
    brands_b = brands_a.withColumnRenamed("p_brand", "p_brand_b")
    return (
        brands_a.join(
            F.broadcast(brands_b),
            (F.col("p_brand") < F.col("p_brand_b"))
            & (F.levenshtein("p_brand", "p_brand_b") <= 2),
        )
        .select(
            F.col("p_brand").alias("brand_a"),
            F.col("p_brand_b").alias("brand_b"),
            F.levenshtein("p_brand", "p_brand_b").alias("edit_dist"),
        )
        .orderBy("brand_a", "brand_b")
    )


@op(
    "agg_gini_impurity",
    sql="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
    ),
    u AS (SELECT user_id, SUM(c) AS n, SUM(c * c) AS ss FROM c GROUP BY 1)
    -- CAST n: DuckDB SUM(int) is HUGEINT -> pandas float64; Spark emits
    -- int64 (same fork class as dedup_substring_spans' r3 driver FAIL; this
    -- one hid the SUM behind a CTE alias)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           CAST(n * n - ss AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
    FROM u
    """,
)
def agg_gini_impurity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user Gini impurity of the event-type mix, computed exactly in
    integers (1 - Σcᵢ²/n² = (n² - Σcᵢ²)/n²) with ONE final double
    division — correctly-rounded IEEE in both engines, so the float is
    bit-identical without any rounding hedge. Two hash aggs, both with
    map-side partial aggregation, so the first shuffle moves only the
    distinct (user, type) pairs and the second only |users| rows — at
    100 TB total shuffle volume is the pair-domain size, not the fact
    count. The diversity-of-mix shape is a standard quality signal in
    LLM-corpus curation (source diversity per domain)."""
    ev = table(spark, sf, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("c")).alias("ss")
    )
    return u.select(
        "user_id",
        F.col("n").alias("n_events"),
        (
            (F.col("n") * F.col("n") - F.col("ss")).cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("gini"),
    )


@op(
    "win_cumulative_distinct",
    sql="""
    WITH f AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT user_id, event_id, ts_us,
           CAST(SUM(first_seen) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_so_far
    FROM f
    """,
)
def win_cumulative_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — not directly expressible
    as a window aggregate in either engine, so it's rebuilt as
    first-occurrence flag (row_number over (user, type) = 1) → running
    sum over time. The explicit repartition on user_id satisfies BOTH
    window distributions (user_id ⊆ {user_id, event_type}), so the plan
    has ONE exchange and two in-partition sorts — without it Catalyst
    shuffles twice, once per partitioning. Integer output, ties broken
    by unique event_id — fully deterministic."""
    from pyspark.sql.window import Window as W

    ev = (
        table(spark, sf, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "event_type")
        .repartition("user_id")
    )
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.withColumn(
        "first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts_us",
        F.sum("first_seen").over(w_run).alias("n_types_so_far"),
    )


@op(
    "sample_hash_mod",
    sql="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    """,
)
def sample_hash_mod(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic, engine-portable ~10% sample: md5(key) mod 100 — the
    reproducible cousin of sample_deterministic (whose seeded Bernoulli
    sampler is engine-private). Hash-mod sampling survives reruns,
    engine swaps, and data re-partitioning, which is what you want for
    a holdout split at 100 TB; the predicate is a pure projection so it
    pipelines inside the scan stage with zero shuffle."""
    o = table(spark, sf, "orders")
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(100),
    )
    return o.filter(h < 10).select("o_orderkey", "o_custkey", "o_totalprice")


@op(
    "join_null_safe",
    sql="""
    SELECT a.o_orderkey AS ok_a, b.o_orderkey AS ok_b
    FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s FROM orders) a
    JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s FROM orders) b
      ON a.s IS NOT DISTINCT FROM b.s AND a.o_orderkey = b.o_orderkey - 1
    """,
)
def join_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing — with plain = the derived NULL
    statuses would silently drop. Spark plans <=> as a true hash-join
    key (nulls hash to one bucket), so semantics change but the join
    strategy doesn't; heavy NULL populations make that bucket a skew
    key — pre-split or salt it at scale."""
    o = table(spark, sf, "orders").select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("P")).alias("s")
    )
    a, b = o.alias("a"), o.alias("b")
    return a.join(
        b,
        F.col("a.s").eqNullSafe(F.col("b.s"))
        & (F.col("a.o_orderkey") == F.col("b.o_orderkey") - 1),
    ).select(F.col("a.o_orderkey").alias("ok_a"), F.col("b.o_orderkey").alias("ok_b"))


@op(
    "agg_median_abs_deviation",
    sql="""
    WITH m AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           quantile_cont(abs(l.l_quantity - m.med), 0.5) AS mad
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def agg_median_abs_deviation(spark: SparkSession, sf: str) -> DataFrame:
    """Median absolute deviation — the robust spread statistic (outliers
    move stddev, not MAD). Two exact-percentile passes: per-group median,
    broadcast back (|groups| rows), then median of |x − med|. Both
    engines interpolate percentiles identically and |x − med| is one
    IEEE subtract, so even the nested quantile is bit-deterministic. At
    scale both passes swap to approx_percentile unchanged."""
    li = table(spark, sf, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("med")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.percentile(F.abs(F.col("l_quantity") - F.col("med")), F.lit(0.5)).alias("mad")
        )
    )


@op(
    "cdc_snapshot_diff",
    sql="""
    WITH olds AS (
        SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 10 <> 0
    ), news AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT COALESCE(olds.o_orderkey, news.o_orderkey) AS o_orderkey,
           CASE WHEN olds.o_orderkey IS NULL THEN 'I'
                WHEN news.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           olds.price AS old_price, news.price AS new_price
    FROM olds FULL OUTER JOIN news ON olds.o_orderkey = news.o_orderkey
    WHERE olds.o_orderkey IS NULL OR news.o_orderkey IS NULL
       OR olds.price <> news.price OR olds.status <> news.status
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Change-data-capture by snapshot diff: two versions of a table
    (simulated deterministically — 1-in-10 keys absent from the old
    snapshot = inserts, 1-in-13 absent from the new = deletes, 1-in-7
    repriced = updates) full-outer-joined on the key; unchanged rows are
    filtered out so only the change set ships downstream. This is how a
    table without CDC streams is incrementally replicated at scale: ONE
    co-partitioned shuffle join on the primary key (bucket both
    snapshots on the key to make it zero-exchange — see
    join_bucketed_colocated), output volume ∝ churn, not table size.
    The +10.0 reprice is a single IEEE add — bit-identical cross-engine,
    so the inequality predicate is deterministic."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    olds = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    news = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    ol, ne = olds.alias("ol"), news.alias("ne")
    return (
        ol.join(ne, F.col("ol.o_orderkey") == F.col("ne.o_orderkey"), "full")
        .filter(
            F.col("ol.o_orderkey").isNull()
            | F.col("ne.o_orderkey").isNull()
            | (F.col("ol.price") != F.col("ne.price"))
            | (F.col("ol.status") != F.col("ne.status"))
        )
        .select(
            F.coalesce(F.col("ol.o_orderkey"), F.col("ne.o_orderkey")).alias("o_orderkey"),
            F.when(F.col("ol.o_orderkey").isNull(), "I")
            .when(F.col("ne.o_orderkey").isNull(), "D")
            .otherwise("U")
            .alias("change_type"),
            F.col("ol.price").alias("old_price"),
            F.col("ne.price").alias("new_price"),
        )
    )


_BLOOM_M = 1 << 16  # bits (8 KiB bitmap)
_BLOOM_SEEDS = (1, 2, 3)


@op(
    "join_bloom_prefilter",
    sql="""
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime-filter join: a Bloom filter built from the filtered dim
    side's keys prunes the fact scan BEFORE the join shuffle — the
    explicit form of what Spark's runtime bloom-filter optimization and
    Dynamic Partition Pruning do inside the optimizer. Build: k=3
    xxhash64 positions per key, OR-folded into a 1024-long bitmap with
    ONE distributed bit_or aggregate; only the 8 KiB bitmap reaches the
    driver and it re-enters the plan as a literal array, so the fact-side
    membership test is pure codegen (two shifts + AND per probe) inside
    the scan stage. Bloom filters have no false negatives, so the result
    equals the plain join exactly (the oracle proves it); false positives
    only cost a few extra rows into the join. At 100 TB the win is that
    non-matching fact rows die at the scan instead of shuffling: with a
    1% selective dim, ~99% of the fact table never leaves the map side.
    Bitmap size scales as ~10 bits/key for 1% FPR — a 10⁸-key dim needs
    ~125 MB, at which point use Spark's built-in runtime filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) whose bitmap stays
    executor-side; the plan shape is the same."""
    cust = (
        table(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    pos = [
        F.pmod(F.xxhash64(F.col("c_custkey"), F.lit(s)), F.lit(_BLOOM_M))
        for s in _BLOOM_SEEDS
    ]
    words = (
        cust.select(F.explode(F.array(*pos)).alias("p"))
        .select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(1L, int(p % 64))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bitmap = [0] * (_BLOOM_M // 64)
    for r in words:
        bitmap[int(r["w"])] = int(r["word"])
    # ONE parsed expression for the 1024-word literal: building this with
    # per-element F.lit() costs ~2s of Py4J round-trips (2048 driver calls)
    # — measured as 80% of this op's wall time at sf0.01.
    lit_words = F.expr("array(" + ",".join(f"{x}L" for x in bitmap) + ")")
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    probe_hits = [
        (
            F.expr(
                f"element_at(__bloom, int(pmod(xxhash64(o_custkey, {s}), {_BLOOM_M}) / 64) + 1)"
            ).bitwiseAND(
                F.expr(f"shiftleft(1L, int(pmod(xxhash64(o_custkey, {s}), {_BLOOM_M}) % 64))")
            )
            != 0
        )
        for s in _BLOOM_SEEDS
    ]
    cond = probe_hits[0]
    for h in probe_hits[1:]:
        cond = cond & h
    prefiltered = o.withColumn("__bloom", lit_words).filter(cond).drop("__bloom")
    return prefiltered.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_custkey"
    )


_DQ_RULES_SQL = """
    SELECT 'orders_price_positive' AS rule_id,
           COUNT(*) FILTER (WHERE o_totalprice <= 0) AS n_violations,
           COUNT(*) AS n_checked
    FROM orders
    UNION ALL
    SELECT 'orders_date_in_range',
           COUNT(*) FILTER (WHERE o_orderdate < DATE '1992-01-01'
                               OR o_orderdate > DATE '2002-12-31'),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'orders_status_domain',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P')),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'orders_priority_format',
           COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'lineitem_qty_bounds',
           COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50),
           COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_bounds',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1),
           COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'orders_custkey_referential',
           COUNT(*) FILTER (WHERE c.c_custkey IS NULL),
           COUNT(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@op("dq_expectations", sql=_DQ_RULES_SQL)
def dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation suite (the Great-Expectations/dbt-test
    shape, engine-native): each rule is a predicate aggregated as a
    conditional count, so ALL per-table rules evaluate in ONE scan of
    that table (one partial+final aggregate, no per-rule jobs); the
    referential rule is a broadcast left join + null count. Output is
    one row per rule (rule_id, n_violations, n_checked) — the shape a
    pipeline gates on (violations > threshold ⇒ quarantine, mirroring
    the reference's R6/R9 validation flow, MetadataIngestionServiceImpl
    error paths). At 100 TB: rule evaluation is map-side arithmetic on
    columns already being scanned — the marginal cost of N rules on one
    table is near zero; never write N separate validation queries."""
    o = table(spark, sf, "orders")
    li = table(spark, sf, "lineitem")
    c = table(spark, sf, "customer").select("c_custkey")

    def cnt(pred) -> F.Column:
        return F.count_if(pred).cast("long")

    total = F.count(F.lit(1)).alias("n_checked")
    orders_rules = o.agg(
        cnt(F.col("o_totalprice") <= 0).alias("orders_price_positive"),
        cnt(
            (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("2002-12-31").cast("date"))
        ).alias("orders_date_in_range"),
        cnt(~F.col("o_orderstatus").isin("F", "O", "P")).alias("orders_status_domain"),
        cnt(~F.col("o_orderpriority").rlike("^[1-5]-")).alias("orders_priority_format"),
        total,
    )
    li_rules = li.agg(
        cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("lineitem_qty_bounds"),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias(
            "lineitem_discount_bounds"
        ),
        total,
    )
    ref_rule = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "left")
        .agg(cnt(F.col("c_custkey").isNull()).alias("orders_custkey_referential"), total)
    )

    def unpivot(df: DataFrame, rules: list[str]) -> DataFrame:
        return df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("rule_id"),
                            F.col(r).alias("n_violations"),
                            F.col("n_checked").alias("n_checked"),
                        )
                        for r in rules
                    ]
                )
            ).alias("s")
        ).select("s.rule_id", "s.n_violations", "s.n_checked")

    return (
        unpivot(
            orders_rules,
            [
                "orders_price_positive",
                "orders_date_in_range",
                "orders_status_domain",
                "orders_priority_format",
            ],
        )
        .unionByName(unpivot(li_rules, ["lineitem_qty_bounds", "lineitem_discount_bounds"]))
        .unionByName(unpivot(ref_rule, ["orders_custkey_referential"]))
    )


@op(
    "profile_distribution_drift",
    sql="""
    WITH b AS (
        SELECT LEAST(CAST(FLOOR(l_extendedprice / 10000) AS INT), 9) AS bucket,
               COUNT(*) FILTER (WHERE l_shipdate <  DATE '1997-01-01') AS n_ref,
               COUNT(*) FILTER (WHERE l_shipdate >= DATE '1997-01-01') AS n_cur
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM b
    )
    SELECT bucket, n_ref, n_cur,
           CASE WHEN n_ref > 0 THEN
             (n_cur - n_ref * (t_cur / CAST(t_ref AS DOUBLE)))
             * (n_cur - n_ref * (t_cur / CAST(t_ref AS DOUBLE)))
             / (n_ref * (t_cur / CAST(t_ref AS DOUBLE)))
           END AS chi2_contrib
    FROM b, tot
    ORDER BY bucket
    """,
)
def profile_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-drift monitor between a reference window and the
    current window (pre/post 1997 shipments): fixed-width price buckets
    counted for BOTH windows in ONE scan (two conditional counts per
    bucket — never two passes), then a per-bucket chi-square
    contribution against the expected count under the reference mix.
    Chi-square over integer counts keeps the math to single IEEE
    multiply/divide ops — bit-identical cross-engine, unlike PSI whose
    ln() invites libm drift. At 100 TB this is the nightly
    data-quality gate: one scan of the new partition + a broadcast of
    |buckets| reference rows; alert when Σ chi2_contrib exceeds the
    critical value (tests pin the statistic's stability)."""
    li = table(spark, sf, "lineitem").select("l_extendedprice", "l_shipdate")
    cut = F.lit("1997-01-01").cast("timestamp_ntz")
    bucket = F.least((F.col("l_extendedprice") / 10000).cast("int"), F.lit(9))
    b = li.groupBy(bucket.alias("bucket")).agg(
        F.count_if(F.col("l_shipdate") < cut).alias("n_ref"),
        F.count_if(F.col("l_shipdate") >= cut).alias("n_cur"),
    )
    tot = b.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    expected = F.col("n_ref") * (F.col("t_cur") / F.col("t_ref").cast("double"))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            # explicit NULL when the reference window is empty for a
            # bucket (Spark's non-ANSI division nulls, DuckDB infs — make
            # both engines agree on NULL)
            # UNROUNDED (r8): the quotient chain is one identical IEEE
            # op sequence in both engines; ROUND-of-quotient is the
            # documented cross-engine fork class
            F.when(
                F.col("n_ref") > 0,
                (F.col("n_cur") - expected) * (F.col("n_cur") - expected) / expected,
            ).alias("chi2_contrib"),
        )
        .orderBy("bucket")
    )


@op(
    "join_spatial_grid",
    sql="""
    WITH c AS (
        SELECT c_custkey,
               ((c_custkey * 9301 + 49297) % 10000) / 100.0 AS x,
               ((c_custkey * 6121 + 33331) % 10000) / 100.0 AS y
        FROM customer
    ),
    s AS (
        SELECT s_suppkey,
               ((s_suppkey * 7873 + 12345) % 10000) / 100.0 AS x,
               ((s_suppkey * 4391 + 54321) % 10000) / 100.0 AS y
        FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
    FROM c JOIN s
      ON (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) <= 4.0
    """,
)
def join_spatial_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Spatial ε-distance join via grid bucketing — the scale pattern for
    'points within ε of each other' without a cartesian: square cells of
    side ε (=2.0), the SMALL side replicated to its 3×3 cell
    neighborhood (9× tiny), then a plain EQUI-join on the cell key and
    an exact distance residual. Each point lives in exactly one cell, so
    no pair is emitted twice. Shuffle key = cell id ⇒ cost ∝ points ×
    local density, never |A|×|B|; at 100 TB you pick ε-sized cells so a
    cell's neighborhood fits an executor, exactly as here. Coordinates
    are deterministic LCG-derived 2dp grid positions (synthetic — the
    testdata has no geo columns); ε=2.0 divides 2dp coordinates exactly,
    so cell = floor(x/2) has no boundary jitter, and the distance math
    is the identical IEEE expression tree on both engines. Oracle: the
    brute-force theta join — proving the grid join finds exactly the
    same pair set."""
    c = table(spark, sf, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 9301 + 49297) % 10000) / 100.0).alias("x"),
        (((F.col("c_custkey") * 6121 + 33331) % 10000) / 100.0).alias("y"),
    )
    s = table(spark, sf, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 7873 + 12345) % 10000) / 100.0).alias("x"),
        (((F.col("s_suppkey") * 4391 + 54321) % 10000) / 100.0).alias("y"),
    )
    cgrid = c.select(
        "c_custkey", "x", "y",
        F.floor(F.col("x") / 2).cast("int").alias("cx"),
        F.floor(F.col("y") / 2).cast("int").alias("cy"),
    )
    sgrid = (
        s.select(
            "s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select(
            "s_suppkey", "sx", "sy", "dx",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        )
        .select(
            "s_suppkey", "sx", "sy",
            (F.floor(F.col("sx") / 2).cast("int") + F.col("dx")).alias("cx"),
            (F.floor(F.col("sy") / 2).cast("int") + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        cgrid.join(F.broadcast(sgrid), ["cx", "cy"])
        .filter(dist2 <= 4.0)
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
    )


@op(
    "fn_winsorize",
    sql="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           LEAST(GREATEST(e.value, q.lo), q.hi) AS value_capped,
           CAST(e.value < q.lo OR e.value > q.hi AS INT) AS was_clipped
    FROM events e JOIN q ON e.event_type = q.event_type
    """,
)
def fn_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorization (outlier capping): clamp each event's value to its
    event-type's [P05, P95] — the robust-statistics prep step that keeps
    heavy-tailed metrics from dominating downstream means/regressions.
    Two-phase plan like ts_anomaly_iqr: the per-type quantile frame is
    |event types| rows, broadcast back onto the fact scan, so the fact
    table shuffles once for the quantile agg and the capping itself is a
    map-only projection. Exact interpolated percentiles are identical
    doubles in both engines and LEAST/GREATEST are pure comparisons —
    bit-deterministic. At 100 TB swap F.percentile for approx_percentile
    (same plan) when ±ε on the fence is acceptable."""
    ev = table(spark, sf, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .select(
            "event_id",
            "event_type",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
                "value_capped"
            ),
            ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
            .cast("int")
            .alias("was_clipped"),
        )
    )


@op(
    "join_interval_overlap",
    sql="""
    WITH a AS (
        SELECT event_id AS a_id, user_id, ts AS a_start,
               ts + INTERVAL 30 MINUTE AS a_end
        FROM events WHERE event_id % 2 = 0
    ),
    b AS (
        SELECT event_id AS b_id, user_id, ts AS b_start,
               ts + INTERVAL 30 MINUTE AS b_end
        FROM events WHERE event_id % 2 = 1
    )
    SELECT a.a_id, b.b_id, a.user_id
    FROM a JOIN b
      ON a.user_id = b.user_id
     AND a.a_start < b.b_end AND b.b_start < a.a_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval×interval OVERLAP join (both sides are time ranges — the
    genuinely hard range join) without a cartesian and without a
    post-hoc DISTINCT: each interval is exploded to the 1-hour buckets
    it spans, the join runs as an EQUI-join on (user, bucket) with the
    overlap residual, and each overlapping pair is emitted EXACTLY ONCE
    by keeping only the bucket where both intervals first coexist —
    bucket == max(floor(a_start), floor(b_start)) — a pure filter, so
    no dedup shuffle is ever needed. 30-min intervals × 1h buckets ⇒
    ≤2 replicas per row regardless of data size; shuffle key
    (user, bucket) bounds fan-out by local temporal density, the same
    posture as join_spatial_grid in time. Oracle: the brute theta
    overlap join."""
    ev = table(spark, sf, "events").select("event_id", "user_id", "ts")
    HOUR = 3600

    def side(parity: int, p: str) -> DataFrame:
        base = ev.filter(F.col("event_id") % 2 == parity).select(
            F.col("event_id").alias(f"{p}_id"),
            "user_id",
            F.col("ts").alias(f"{p}_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias(f"{p}_end"),
        )
        start_b = F.floor(F.unix_timestamp(f"{p}_start") / HOUR).cast("long")
        # INCLUSIVE end bucket on purpose: unix_timestamp truncates to
        # seconds, so an exclusive-end (-1) bucket list can miss a
        # sub-second overlap straddling an hour boundary; the inclusive
        # form over-replicates by at most one bucket and coverage of
        # bucket == max(a_b0, b_b0) is then provable for every
        # micro-precision overlap
        end_b = F.floor(F.unix_timestamp(f"{p}_end") / HOUR).cast("long")
        return base.select(
            "*",
            start_b.alias(f"{p}_b0"),
            F.explode(F.sequence(start_b, end_b)).alias("bucket"),
        )

    a, b = side(0, "a"), side(1, "b")
    first_shared = F.greatest(F.col("a_b0"), F.col("b_b0"))
    return (
        a.join(b, ["user_id", "bucket"])
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
            & (F.col("bucket") == first_shared)
        )
        .select("a_id", "b_id", "user_id")
    )


@op(
    "q_exchange_reuse_self_join",
    sql="""
    WITH per_cust AS (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_pairs
    FROM per_cust a JOIN per_cust b
      ON a.n = b.n AND a.o_custkey < b.o_custkey
    """,
)
def q_exchange_reuse_self_join(spark: SparkSession, sf: str) -> DataFrame:
    """Self-join of one aggregate with itself (customers with identical
    order counts, counted as oriented pairs) — the plan-shape point is
    EXCHANGE REUSE: Spark computes the per-customer aggregate ONCE and
    feeds both join sides from the same shuffle output (ReusedExchange
    in the final adaptive plan, pinned by tests/test_plans.py). At
    100 TB the difference is one pass over orders instead of two — the
    optimizer dedupes identical subplans automatically when the plan is
    built from a SHARED DataFrame object, which is why the engine
    constructs the aggregate once and aliases it, never re-derives it."""
    agg = table(spark, sf, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    a = agg.select(F.col("o_custkey").alias("ck_a"), F.col("n").alias("n_a"))
    b = agg.select(F.col("o_custkey").alias("ck_b"), F.col("n").alias("n_b"))
    return (
        a.join(b, (F.col("n_a") == F.col("n_b")) & (F.col("ck_a") < F.col("ck_b")))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
