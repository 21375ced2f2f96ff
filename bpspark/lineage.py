"""Column-level lineage extraction from analyzed Catalyst plans.

Governance layer: given any DataFrame, walk the ANALYZED logical plan
(`df._jdf.queryExecution().analyzed().toJSON()`) and resolve every output
column through the exprId def-use chains (Alias definitions in
Project/Aggregate/Window nodes) down to the leaf relation attributes it
was computed from — the (output column → source table.column) map a
catalog needs for impact analysis and PII propagation tracking.

Mechanics: `TreeNode.toJSON` flattens the plan (and each expression tree)
in pre-order. Every `Alias` anywhere in the plan defines
``exprId → {referenced exprIds}``; every `LogicalRelation` leaf binds its
output exprIds to (table, column), with the table identified by matching
the leaf's full column-name set against the known table schemas (parquet
footers in the sf dir — exprIds are session-scoped, names are not).
Resolution is a DFS over the def map. Set-union semantics at every hop:
an output fed by several branches (e.g. a CASE over two columns) maps to
all of them.

Known limitation (documented, not silent): Union reuses the FIRST child's
exprIds for its output, so lineage through a Union attributes to the
first branch; same-schema relations are indistinguishable by name.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bpspark.registry import op

_ATTR = "org.apache.spark.sql.catalyst.expressions.AttributeReference"
_ALIAS = "org.apache.spark.sql.catalyst.expressions.Alias"


def _expr_attrs(flat_expr: list[dict]) -> list[dict]:
    """All AttributeReference nodes in one flattened expression tree."""
    return [e for e in flat_expr if e.get("class") == _ATTR]


def _named_outputs(node: dict) -> list[list[dict]]:
    """The node's named output expressions (each a flattened expr tree)."""
    for key in ("projectList", "aggregateExpressions", "windowExpressions"):
        if key in node and node[key]:
            return node[key]
    return []


def _table_schemas(sf_dir: str) -> dict[str, set[str]]:
    import pyarrow.parquet as pq

    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for t in tables:
        try:
            out[t] = {f.name for f in pq.read_schema(f"{sf_dir}/{t}.parquet")}
        except Exception:  # noqa: BLE001 — table absent in this sf dir
            pass
    return out


def column_lineage(df: DataFrame, sf_dir: str) -> list[tuple[str, str, str]]:
    """(output_column, source_table, source_column) triples for ``df``,
    sorted. Pure plan analysis — nothing is executed."""
    nodes = json.loads(df._jdf.queryExecution().analyzed().toJSON())
    schemas = _table_schemas(sf_dir)

    defs: dict[int, set[int]] = {}
    leaves: dict[int, tuple[str, str]] = {}
    for node in nodes:
        for expr in _named_outputs(node):
            top = expr[0]
            if top.get("class") == _ALIAS:
                eid = top["exprId"]["id"]
                refs = {a["exprId"]["id"] for a in _expr_attrs(expr[1:])}
                defs.setdefault(eid, set()).update(refs)
        if node.get("class", "").endswith("LogicalRelation"):
            attrs = [a for out in node.get("output", []) for a in _expr_attrs(out if isinstance(out, list) else [out])]
            names = {a["name"] for a in attrs}
            table = next((t for t, cols in schemas.items() if names <= cols and names), None)
            for a in attrs:
                leaves[a["exprId"]["id"]] = (table or "?", a["name"])

    def resolve(eid: int, seen: frozenset[int] = frozenset()) -> set[tuple[str, str]]:
        if eid in leaves:
            return {leaves[eid]}
        if eid in seen or eid not in defs:
            return set()
        out: set[tuple[str, str]] = set()
        for ref in defs[eid]:
            out |= resolve(ref, seen | {eid})
        return out

    root_outputs = _named_outputs(nodes[0])
    triples: set[tuple[str, str, str]] = set()
    for expr in root_outputs:
        top = expr[0]
        name = top.get("name", "?")
        if top.get("class") == _ATTR:
            srcs = resolve(top["exprId"]["id"])
        else:
            srcs = resolve(top["exprId"]["id"]) if "exprId" in top else set()
            if not srcs:
                for a in _expr_attrs(expr[1:]):
                    srcs |= resolve(a["exprId"]["id"])
        for table, col in srcs:
            triples.add((name, table, col))
    return sorted(triples)


@op(
    "meta_column_lineage",
    sql="""
    SELECT * FROM (VALUES
        ('n_name',    'nation',   'n_name'),
        ('total_bal', 'customer', 'c_acctbal')
    ) AS t(out_col, src_table, src_col)
    """,
)
def meta_column_lineage(spark: SparkSession, sf: str) -> DataFrame:
    """Column lineage of a representative star-join aggregate, extracted
    from the ANALYZED plan (no execution): ``total_bal`` must trace
    through the join and the SUM alias to ``customer.c_acctbal``, and
    the group key to ``nation.n_name``. The oracle is the fixed ground
    truth for this fixed plan — the check proves the extractor resolves
    alias chains, join pass-through, and leaf-table identification
    correctly (tests cover further plan shapes). Scale: lineage is
    driver-side plan analysis, O(plan size), independent of data
    volume."""
    from bpspark.io import table

    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = table(spark, sf, "nation").select("n_nationkey", "n_name")
    q = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("c_acctbal").alias("total_bal"))
    )
    rows = column_lineage(q, sf)
    return spark.createDataFrame(rows, "out_col string, src_table string, src_col string")


@op("meta_query_profile", sql=None)  # runtime metrics — env-dependent by nature
def meta_query_profile(spark: SparkSession, sf: str) -> DataFrame:
    """EXPLAIN ANALYZE for Spark: execute a representative query
    (orders ⋈ nation-keyed customer → hash aggregate; no join hint, so
    ``spark.sql.autoBroadcastJoinThreshold`` decides whether customer is
    broadcast) and read the per-operator RUNTIME METRICS back out of the
    executed adaptive plan — numOutputRows per node, files/partitions scanned, shuffle
    records written. This is the observability loop every query engine
    ships (DuckDB EXPLAIN ANALYZE, Postgres ANALYZE, Trino query stats):
    row counts at each plan step are what diagnose a wrong-cardinality
    join or a filter that isn't filtering, WITHOUT re-running anything.

    Driver-side plan walk (AQE-aware: descends through
    AdaptiveSparkPlanExec.executedPlan and QueryStageExec.plan),
    O(plan size). Only DETERMINISTIC metrics are emitted (row/file
    counts — never times or memory); the invariant tests pin the scan
    and final-aggregate cardinalities. On a cluster the same walk feeds
    the metrics sink; Spark's REST /api/v1 exposes the identical values
    per stage."""
    from bpspark.io import table

    o = table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    q = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    q.collect()

    keep = {"numOutputRows", "numFiles", "shuffleRecordsWritten", "recordsRead"}
    rows: list[tuple[int, str, str, int]] = []

    def walk(node, depth: int) -> None:
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in keep:
                rows.append((depth, name, kv._1(), int(kv._2().value())))
        cls = node.getClass().getName()
        if "AdaptiveSparkPlanExec" in cls:
            walk(node.executedPlan(), depth + 1)
            return
        if "QueryStageExec" in cls:
            walk(node.plan(), depth + 1)
            return
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next(), depth + 1)

    walk(q._jdf.queryExecution().executedPlan(), 0)
    return spark.createDataFrame(
        sorted(rows), "depth int, node string, metric string, value bigint"
    )
