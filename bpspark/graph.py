"""Iterative graph algorithms on DataFrames.

Connected components already powers dedup_cluster_cc (llm_ops); this
module adds PageRank — the canonical iterative join+agg loop. The pattern
for ALL DataFrame iteration at scale: repartition the loop-invariant edge
list on the join key and ``io.materialize`` it (eager, so AQE has sized
the repartition before the rows are stored), re-derive a small ranks
frame each round, and materialize every few rounds to truncate the
lineage Catalyst would otherwise re-analyze exponentially.

The stored edge frame does not carry the hash partitioning forward under
AQE (an adaptive plan reports none), so each round's join shuffles the
edge list again, at the size AQE picks for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bpspark.io import materialize, table
from bpspark.registry import op

_DAMPING = 0.85
_ITERATIONS = 5


# {d} below is interpolated from _DAMPING and the round count from
# _ITERATIONS — editing either can never fork op and oracle (self-code-
# review r6); MATERIALIZED keeps DuckDB from re-inlining ew per round.
_PAGERANK_ROUND_SQL = """
    m{i} AS (
      SELECT ew.dst AS src,
             floor(SUM(r.rank / ew.deg) * 1e6 + 0.5) / 1e6 AS mass
      FROM ew JOIN r{prev} r ON r.src = ew.src GROUP BY ew.dst
    ),
    r{i} AS MATERIALIZED (
      SELECT src,
             (CAST(1.0 AS DOUBLE) - CAST({d} AS DOUBLE))
               + CAST({d} AS DOUBLE) * mass AS rank
      FROM m{i}
    )"""

_PAGERANK_SQL = (
    """
    WITH cs AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                      's' || CAST(l_suppkey AS VARCHAR) AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM cs
              UNION ALL SELECT b AS src, a AS dst FROM cs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    r0 AS (SELECT src, CAST(1.0 AS DOUBLE) AS rank FROM deg),"""
    + ",".join(
        _PAGERANK_ROUND_SQL.format(i=i, prev=f"{i-1}", d=_DAMPING)
        for i in range(1, _ITERATIONS + 1)
    )
    + f"""
    SELECT src AS node, rank FROM r{_ITERATIONS}
    ORDER BY rank DESC, node LIMIT 20
    """
)


@op("graph_pagerank", sql=_PAGERANK_SQL)
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank over the customer↔supplier trade graph (an edge per
    distinct (o_custkey, l_suppkey) pair that co-occurs in an order,
    symmetrized so every node has out-degree and rank mass is conserved:
    Σranks = N at every step, up to the per-round quantization). 5 rounds
    of contribution join + hash agg; the (src, dst, deg) edge frame is
    built once, repartitioned on src and materialized, so each round
    reads it at the partition count AQE chose (see the module
    docstring). Oracle-backed (upgraded r6): the fixed 5 rounds unroll into
    chained CTEs; each round's summed mass is quantized with the
    tie-free floor(x·1e6+0.5)/1e6 in both engines, so cross-engine /
    cross-partitioning float summation order (~1e-14) does not
    accumulate across rounds — a probabilistic guarantee, measured
    clean at all three SFs: the 5e-7 tie margin sits ~8 orders above
    the observed noise, but a pre-quantization sum landing within
    ~1e-14 of a 1e-6 boundary could still floor differently per engine
    (ADVICE r6). The (1-d) literal is the explicit IEEE subtraction
    both sides. The property test still checks mass conservation,
    positivity, and degree-monotonicity."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # r13: the symmetrization + degree + weight build below consumes
    # this join+distinct subtree twice — materialize it once (bounded:
    # the distinct trade-pair set, smaller than the ew frame)
    cs = materialize(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    # r13: symmetrize via one explode instead of unionAll of two selects —
    # ONE evaluation of the pair subtree in the plan (join_asof's
    # single-scan tagged-union pattern; results identical, order-free)
    edges = cs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.*")
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # loop-invariant: (src, dst, deg(src)), repartitioned on src and
    # materialized once (see the module docstring)
    ew = materialize(edges.join(out_deg, "src").repartition("src"))
    ranks = materialize(out_deg.select("src", F.lit(1.0).alias("rank")))
    for i in range(_ITERATIONS):
        contribs = (
            # shuffle_hash hint (r13): the planner otherwise sort-merges,
            # re-SORTING the |E|-row edge frame EVERY round; the hash
            # join builds from the |nodes|-row ranks side per partition
            # instead — no per-round sort, and unlike a broadcast it stays
            # safe when |nodes| is huge (guide §3.1).
            ew.join(ranks.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("src"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
            .groupBy("src")
            # tie-free per-round quantization (matches the oracle; see
            # docstring) — F.floor(long)/1e6 and DuckDB floor(double)/1e6
            # produce the same double for |mass·1e6| < 2^53
            .agg((F.floor(F.sum("contrib") * 1e6 + F.lit(0.5)) / 1e6).alias("mass"))
        )
        ranks = contribs.select(
            "src",
            (F.lit(1.0 - _DAMPING) + F.lit(_DAMPING) * F.col("mass")).alias("rank"),
        )
        # materialize every SECOND round (and on the last): the
        # ranks frame is |nodes| rows (tiny next to edges), and a 2-deep
        # join lineage is still cheap to re-analyze — measured ~2× faster
        # cold than per-round materialization, same results bit-for-bit
        if i % 2 == 1 or i == _ITERATIONS - 1:
            ranks = materialize(ranks)
    return (
        ranks.select(F.col("src").alias("node"), "rank")
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


def _knn_supplier_edges(spark: SparkSession, sf: str, k: int = 8) -> DataFrame:
    """Top-k co-occurrence similarity graph over suppliers: for each
    supplier, its k strongest partners by co-order support (ties broken by
    partner key), then undirected-deduped via (least, greatest). Bounded
    degree ≤ 2k per node regardless of data size — the standard trick that
    keeps similarity-graph analytics (triangles, components, clustering
    coefficients) linear at 100 TB where the raw co-occurrence graph goes
    quadratic-dense. The per-node top-k is a WindowGroupLimit (partial
    top-k before the shuffle), not a full sort."""
    from pyspark.sql.window import Window

    os_ = (
        table(spark, sf, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    x, y = os_.alias("x"), os_.alias("y")
    directed = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") != F.col("y.l_suppkey")),
        )
        .groupBy(F.col("x.l_suppkey").alias("a"), F.col("y.l_suppkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    w = Window.partitionBy("a").orderBy(F.col("support").desc(), F.col("b"))
    topk = directed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return topk.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()


_KNN_EDGES_SQL = """
    os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    directed AS (
      SELECT x.l_suppkey AS a, y.l_suppkey AS b, COUNT(*) AS support
      FROM os x JOIN os y
        ON x.l_orderkey = y.l_orderkey AND x.l_suppkey <> y.l_suppkey
      GROUP BY 1, 2
    ),
    topk AS (
      SELECT a, b FROM (
        SELECT a, b,
               ROW_NUMBER() OVER (PARTITION BY a ORDER BY support DESC, b) AS rn
        FROM directed
      ) WHERE rn <= 8
    ),
    e AS (
      SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM topk
    )
"""


@op(
    "graph_triangle_count",
    sql=f"""
    WITH {_KNN_EDGES_SQL}
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count on the supplier top-8 similarity graph. Edges are
    oriented a<b so each triangle a<b<c is enumerated exactly once by the
    two-hop join (e1: a-b, e2: b-c, e3 closes a-c) — the classic
    distributed triangle algorithm; with degree ≤ 16 the join fan-out per
    edge is constant, so the whole count is one bounded shuffle at any
    scale. Integer-only output (exact cross-engine). The edge frame is
    not cached: its four reads are one identical subtree, so exchange
    reuse computes each of its shuffles once (sf0.1: 12 jobs uncached
    against 15 cached, no slower), and the op leaves nothing persisted."""
    e = _knn_supplier_edges(spark, sf)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(e3, (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(tri)


@op(
    "graph_degree_distribution",
    sql=f"""
    WITH {_KNN_EDGES_SQL},
    deg AS (
      SELECT node, COUNT(*) AS degree
      FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
      GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """Degree histogram of the supplier similarity graph: undirected edge
    list → unpivot endpoints → per-node degree → degree frequency. Two
    hash aggregations, all-integer output; the second agg's input is
    |nodes| rows, so cost is dominated by the edge build."""
    e = _knn_supplier_edges(spark, sf)
    nodes = e.select(F.col("a").alias("node")).unionAll(e.select(F.col("b").alias("node")))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_BFS_ROUNDS = 6


@op(
    "graph_shortest_paths",
    sql=f"""
    WITH RECURSIVE {_KNN_EDGES_SQL},
    ed AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    lm AS (SELECT DISTINCT src AS node FROM ed ORDER BY node LIMIT 3),
    bfs AS (
        SELECT node AS landmark, node, 0 AS dist FROM lm
        UNION
        SELECT bfs.landmark, ed.dst AS node, bfs.dist + 1 AS dist
        FROM bfs JOIN ed ON ed.src = bfs.node
        WHERE bfs.dist < {_BFS_ROUNDS}
    ),
    md AS (SELECT landmark, node, MIN(dist) AS dist FROM bfs GROUP BY landmark, node)
    SELECT landmark, dist, COUNT(*) AS n_nodes FROM md GROUP BY landmark, dist
    """,
)
def graph_shortest_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS shortest paths from 3 landmark nodes (the smallest
    supplier keys) over the bounded-degree similarity graph, emitted as a
    per-landmark distance histogram. The distributed-BFS shape: the
    symmetrized edge list is repartitioned on src and materialized ONCE
    (loop-invariant); each round joins only the FRONTIER (nodes first
    reached last round — monotonically shrinking) against it, and an
    anti-join against the visited set guarantees every node keeps its
    first (= minimal) distance. 6 bounded rounds, each one join of the
    frontier with the edges; per-round state is |new nodes|, never |paths| — the
    oracle's recursive CTE enumerates (landmark, node, dist) rows with
    UNION dedup and MIN-collapses, provably the same map. Landmark count
    and round bound are literals on both sides, keeping the check exact
    at any sf."""
    e = _knn_supplier_edges(spark, sf)
    ed = materialize(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
    )
    lm = (
        ed.select(F.col("src").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(3)
        .select(F.col("node").alias("landmark"), "node", F.lit(0).alias("dist"))
    )
    visited = materialize(lm)
    frontier = visited
    for i in range(1, _BFS_ROUNDS + 1):
        nxt = (
            frontier.join(ed, frontier.node == ed.src)
            .select("landmark", F.col("dst").alias("node"), F.lit(i).alias("dist"))
            .distinct()
        )
        new = materialize(nxt.join(visited, ["landmark", "node"], "left_anti"))
        visited = materialize(visited.unionByName(new))
        frontier = new
    return visited.groupBy("landmark", "dist").agg(F.count(F.lit(1)).alias("n_nodes"))


_LPA_ROUNDS = 3


def _lpa_iter_sql(i: int) -> str:
    """One synchronous LPA round as chained CTEs (votes → counts → argmax
    with (count DESC, label ASC) tie-break). Unrolled because recursive
    CTEs cannot aggregate in the recursive term — the same reason the
    Spark side is a driver loop of whole-frame rounds."""
    p = i - 1
    return f"""
    v{i} AS (
      SELECT ed.src AS node, l.label FROM ed JOIN l{p} l ON l.node = ed.dst
      UNION ALL SELECT node, label FROM l{p}
    ),
    c{i} AS (SELECT node, label, COUNT(*) AS c FROM v{i} GROUP BY node, label),
    l{i} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )"""


_LPA_CTES = (
    f"""
    WITH {_KNN_EDGES_SQL},
    ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM ed),
    """
    + ",".join(_lpa_iter_sql(i) for i in range(1, _LPA_ROUNDS + 1))
)

_LPA_SQL = (
    _LPA_CTES
    + f"""
    SELECT label AS community, COUNT(*) AS n_nodes
    FROM l{_LPA_ROUNDS} GROUP BY label
    """
)


@op("graph_label_propagation", sql=_LPA_SQL)
def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan'07)
    over the bounded-degree supplier similarity graph: every node starts
    as its own community, and each round adopts the most frequent label
    among its neighbors plus its own current label (the self-vote damps
    the bipartite oscillation synchronous LPA is known for), ties broken
    to the SMALLEST label — fully deterministic, unlike the random-order
    sweeps of the original paper, which is what makes the op
    hash-certifiable. 3 rounds; output is the community size histogram
    (all-integer, exact cross-engine).

    Plan: the symmetrized edge list is repartitioned on dst and
    materialized ONCE (loop-invariant); each round joins it with the
    (node, label) frame — |nodes| rows, tiny next to edges — then runs
    one vote count + one argmax window sharing the node
    partitioning. Materializing each round truncates the lineage
    Catalyst would otherwise re-analyze quadratically. At 100 TB this is
    the standard Pregel-on-DataFrames shape (degree ≤ 16 bounds each
    round's join fan-out), and rounds are O(diameter-ish) constants, not
    data-dependent loops."""
    e = _knn_supplier_edges(spark, sf)
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = _label_propagation(sym, _LPA_ROUNDS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


_KCORE_K = 4
_KCORE_ROUNDS = 4


def _kcore_iter_sql(i: int) -> str:
    """One peeling round as chained CTEs: degree within the surviving
    set, then drop nodes below K. Unrolled for the same reason as LPA —
    recursive CTEs cannot aggregate in the recursive term."""
    p = i - 1
    return f"""
    d{i} AS (
      SELECT ed.src AS node, COUNT(*) AS c
      FROM ed JOIN a{p} x ON ed.src = x.node JOIN a{p} y ON ed.dst = y.node
      GROUP BY ed.src
    ),
    a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE c >= {_KCORE_K})"""


_KCORE_SQL = (
    f"""
    WITH {_KNN_EDGES_SQL},
    ed AS MATERIALIZED (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
    """
    + ",".join(_kcore_iter_sql(i) for i in range(1, _KCORE_ROUNDS + 2))
    + f"""
    SELECT d.node, CAST(d.c AS BIGINT) AS core_degree
    FROM d{_KCORE_ROUNDS + 1} d JOIN a{_KCORE_ROUNDS} a ON d.node = a.node
    ORDER BY d.node
    """
)


@op("graph_kcore_decompose", sql=_KCORE_SQL)
def graph_kcore_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """k-core extraction (Seidman'83; the distributed peeling form of
    Batagelj-Zaveršnik) over the bounded-degree supplier similarity
    graph: repeatedly drop nodes whose degree WITHIN the surviving set
    is < k — the standard densest-region primitive for spam/bot
    neighborhoods and influence cores that plain degree filtering
    misses (a high-degree node whose neighbors all die still dies).
    k = 4, a FIXED {_KCORE_ROUNDS} peel rounds on both engines (the
    LPA precedent: bounded synchronous rounds make an iterative
    algorithm hash-certifiable; the fixpoint-reached property is
    pinned by a test that runs one extra round and asserts nothing
    else peels). Output: each surviving node with its in-core degree.

    Plan: the symmetrized edge list is repartitioned on src and
    materialized once (loop-invariant); each round is two semi-joins of edges
    against the shrinking alive set + one count — alive is |nodes|
    rows, tiny next to edges, and the join fan-out is bounded by the
    knn graph's degree ≤ 16. Materializing each round truncates
    lineage. At 100 TB this is the same Pregel-on-DataFrames shape as
    LPA/PageRank: constant rounds over an edge frame built once."""
    e = _knn_supplier_edges(spark, sf)
    ed = materialize(
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .repartition("src")
    )
    alive = materialize(ed.select(F.col("src").alias("node")).distinct())
    deg = None
    for _ in range(_KCORE_ROUNDS):
        deg = _kcore_degrees(ed, alive)
        alive = materialize(deg.filter(F.col("c") >= _KCORE_K).select("node"))
    final_deg = _kcore_degrees(ed, alive)
    return (
        final_deg.join(alive, "node")
        .select("node", F.col("c").cast("long").alias("core_degree"))
        .orderBy("node")
    )


def _kcore_degrees(ed: DataFrame, alive: DataFrame) -> DataFrame:
    """Degree of every alive-endpoint edge's src within the alive set."""
    return (
        ed.join(alive.select(F.col("node").alias("src")), "src", "left_semi")
        .join(alive.select(F.col("node").alias("dst")), "dst", "left_semi")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _label_propagation(sym_edges: DataFrame, rounds: int) -> DataFrame:
    """Synchronous min-label LPA over a symmetrized (src, dst) edge list;
    returns the final (node, label) frame. Factored out of the op so the
    golden tests can drive it on synthetic graphs against a pure-Python
    reference."""
    from pyspark.sql.window import Window

    ed = materialize(sym_edges.repartition("dst"))
    labels = materialize(
        ed.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
    for _ in range(rounds):
        votes = (
            ed.join(labels, ed.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
            .unionByName(labels)
        )
        counts = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = materialize(
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels


_MODULARITY_SQL = (
    _LPA_CTES
    + f""",
    deg AS (SELECT src AS node, COUNT(*) AS degree FROM ed GROUP BY src),
    mm AS (SELECT COUNT(*) AS m FROM e),
    nc AS (
      SELECT l.node, l.label, deg.degree
      FROM l{_LPA_ROUNDS} l JOIN deg ON deg.node = l.node
    ),
    lc AS (
      SELECT la.label, COUNT(*) AS internal_edges
      FROM e
      JOIN nc la ON la.node = e.a
      JOIN nc lb ON lb.node = e.b AND lb.label = la.label
      GROUP BY la.label
    ),
    dc AS (
      SELECT label, COUNT(*) AS n_nodes,
             CAST(SUM(degree) AS BIGINT) AS degree_sum
      FROM nc GROUP BY label
    )
    SELECT dc.label AS community, dc.n_nodes,
           COALESCE(lc.internal_edges, 0) AS internal_edges,
           dc.degree_sum,
           ROUND(COALESCE(lc.internal_edges, 0) / CAST(mm.m AS DOUBLE)
                 - (dc.degree_sum / (2.0 * mm.m)) * (dc.degree_sum / (2.0 * mm.m)),
                 6) AS q_contrib
    FROM dc LEFT JOIN lc ON lc.label = dc.label CROSS JOIN mm
    """
)


@op("graph_community_modularity", sql=_MODULARITY_SQL)
def graph_community_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the LPA communities — the 'measure, don't
    guess' companion to graph_label_propagation (communities without a
    quality score are just labels): per community c,
    q_c = L_c/m − (D_c/2m)², where L_c = intra-community edges, D_c =
    degree sum, m = |edges|; Q = Σ q_c. Everything up to the final
    division is INTEGER (edge counts, degree sums — the oracle re-runs
    the identical unrolled LPA), so the per-community contribution is
    one exact-input IEEE expression, rounded once — hash-stable.

    Plan: the label frame joins the degree table (both |nodes| rows,
    co-partitioned on node), intra-edges are ONE join of the a<b edge
    list against two broadcast label maps, and m is a 1-row broadcast.
    All bounded by the degree-≤16 edge list — at 100 TB this is two
    hash joins over |E| plus |communities|-row aggregates, the standard
    distributed modularity evaluation (and the scoring loop a Louvain
    implementation would call per pass)."""
    # r13: the final plan embedded the knn-edges subtree (os self-join +
    # per-node top-k window) SIX times — sym (twice via the union), deg,
    # m, and lc's two label maps all re-derived it (the r12 plan dump
    # shows 98 Exchanges / 152 HashAggregates from the duplication). The
    # edge list is degree-bounded (≤ 2k·|suppliers| rows, k=8) —
    # materialize it once; symmetrize via one explode instead of the
    # two-select union (join_asof's tagged-union pattern).
    e = materialize(_knn_supplier_edges(spark, sf))
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.*")
    labels = _label_propagation(sym, _LPA_ROUNDS)
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    nc = labels.join(deg, "node")
    mm = e.agg(F.count(F.lit(1)).alias("m"))
    la = nc.select(F.col("node").alias("a"), F.col("label").alias("label_a"))
    lb = nc.select(F.col("node").alias("b"), F.col("label").alias("label_b"))
    lc = (
        e.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .filter(F.col("label_a") == F.col("label_b"))
        .groupBy(F.col("label_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    dc = nc.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("degree").alias("degree_sum"),
    )
    half = F.col("degree_sum") / (2.0 * F.col("m"))
    return (
        dc.join(lc, "label", "left")
        .crossJoin(F.broadcast(mm))
        .withColumn("internal_edges", F.coalesce("internal_edges", F.lit(0)))
        .select(
            F.col("label").alias("community"),
            "n_nodes",
            "internal_edges",
            "degree_sum",
            F.round(
                F.col("internal_edges").cast("double") / F.col("m") - half * half, 6
            ).alias("q_contrib"),
        )
    )
