"""Operator registry.

Each operator from SURVEY.md §2.3 registers itself here with
 - ``name``: the op id (the ``queries()`` key in ``__spark_entry__.py``)
 - ``fn``: ``(spark, sf_dir) -> DataFrame`` building a declarative plan
 - ``sql``: equivalent DuckDB ANSI SQL (the driver's oracle), or ``None``
   for non-SQL-expressible ops (driver then records a rows-only check).

Column-name contract: every computed/aggregate column is aliased
identically in the Spark plan and the oracle SQL — the driver sorts
columns by name before value-hashing.

``all_ops()`` (and so ``queries()``) lists ops in registration order: the
order the ``@op`` decorators run while ``bpspark.load_all`` imports the op
modules.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, Op] = {}


def op(name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering an operator implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate op registration: {name}")
        _REGISTRY[name] = Op(name=name, fn=fn, sql=sql, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def all_ops() -> dict[str, Op]:
    import bpspark

    bpspark.load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: o.fn for name, o in all_ops().items()}


def oracle_sql() -> dict[str, str]:
    return {name: o.sql for name, o in all_ops().items() if o.sql is not None}
