"""bpspark — PySpark-native analytics & ingestion engine.

A brand-new engine with the query and data-processing capabilities of the
reference module ``gravitonian/bp-metadata-ingestion`` (an Alfresco
book-metadata ZIP-ingestion pipeline; see SURVEY.md), rebuilt Spark-first:

- declarative DataFrame/SQL plans (Catalyst optimizes; we don't hand-schedule)
- binary-file + Structured Streaming sources for the drop-folder model
- anti-join idempotency, semi-join validation, map-typed dynamic metadata
- the full relational operator surface (joins/aggs/windows/setops/functions)
- LLM-data-pipeline extensions: dedup (exact/MinHash/SimHash/embedding),
  similarity search, text analysis, multimodal column plumbing

Every operator is registered in :mod:`bpspark.registry` and exported through
``__spark_entry__.py`` with a DuckDB oracle where SQL-expressible.
"""

from bpspark.registry import all_ops, op, queries, oracle_sql  # noqa: F401

__version__ = "0.1.0"


def load_all() -> None:
    """Import every operator module so registrations are visible."""
    import bpspark.relational  # noqa: F401
    import bpspark.relational_ext  # noqa: F401
    import bpspark.layout  # noqa: F401
    import bpspark.analytics  # noqa: F401
    import bpspark.functions  # noqa: F401
    import bpspark.sources  # noqa: F401
    import bpspark.pipeline  # noqa: F401
    import bpspark.streaming  # noqa: F401
    import bpspark.timeseries  # noqa: F401
    import bpspark.llm_ops  # noqa: F401
    import bpspark.quality  # noqa: F401
    import bpspark.selection  # noqa: F401
    import bpspark.search  # noqa: F401
    import bpspark.udfs  # noqa: F401
    import bpspark.sql_features  # noqa: F401
    import bpspark.graph  # noqa: F401
    import bpspark.lineage  # noqa: F401


def ensure_worker_imports(spark) -> None:
    """Make ``bpspark`` importable on executor Python workers.

    Ops that ship Python to executors (pandas UDFs, mapInPandas,
    foreachBatch) are cloudpickled BY REFERENCE for module-level
    functions, so the worker process must be able to ``import bpspark``.
    When the driver runs from the repo cwd that works by accident; from
    any other cwd it does not. Shipping the package via ``addPyFile``
    (a zip on every executor's PYTHONPATH) makes worker imports
    cwd-independent — the same mechanism used for real multi-node
    clusters, where the package must travel to executors anyway."""
    sc = spark.sparkContext
    if getattr(sc, "_bpspark_pyfile_added", False):
        return
    import pathlib
    import zipfile

    from bpspark.io import scratch

    pkg = pathlib.Path(__file__).parent
    zpath = pathlib.Path(scratch("pyfile")) / "bpspark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, f"bpspark/{f.relative_to(pkg)}")
    sc.addPyFile(str(zpath))
    sc._bpspark_pyfile_added = True
