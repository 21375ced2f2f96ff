"""Sources: parquet scan, binary drop-folder scan, properties-ZIP ingestion
(reference R1/R2/R3/R4/R5 as Spark sources — SURVEY §2.3 "Sources/sinks").

The reference's input model is a polled filesystem directory of
``{ISBN}.zip`` files (ingestion-context.xml:12-15, cadence
alfresco-global.properties:7-9). Batch form here; the streaming form
(Trigger.ProcessingTime 10s, R16 single-flight via checkpoint) lives in
:mod:`bpspark.streaming`.

Scale: ``binaryFile`` yields one row per file (no splitting), so
parallelism = #files — ideal for many small metadata ZIPs. The parse UDF
runs per Arrow batch inside ``mapInPandas``: Python touches only the ZIP
bytes; everything before/after stays JVM-columnar.

The unit of work is one ZIP, as in the reference (one
``HashMap<String, Properties>`` per ISBN): :func:`parse_zips` turns each
arrival into ONE row carrying all its entries as a nested array, so every
downstream decision is a column expression on that row.
:func:`parse_zip_entries` is the exploded (one row per entry) view of it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bpspark import errors
from bpspark.fixtures import default_dir
from bpspark.io import build_once, scratch
from bpspark.parse import extract_isbn_from_path, parse_metadata_zip
from bpspark.registry import op

ENTRY_TYPE = "struct<entry: string, props: map<string, string>>"
ZIPS_SCHEMA = (
    f"path string, isbn string, entries array<{ENTRY_TYPE}>, "
    "error_code string, error_msg string"
)


# R2 business-key rule — THE single Spark-side definition (r8: the five
# former inline copies could fork from the worker-side
# parse.extract_isbn_from_path). The whole file stem must be exactly 13
# ASCII digits; a 13-digit SUFFIX of a longer stem is NOT a key
# ('x9780000000123.zip' → ''), matching the strict worker rule. The
# (?:^|/) anchor enforces stem-start on full paths and bare names alike;
# (?i:zip) mirrors the worker's case-insensitive extension check.
# \z, not $ (r10 review): Java's $ also matches before a FINAL LINE
# TERMINATOR, so a POSIX-legal 'x.zip\n' filename would key on the Spark
# side while the worker's endswith('.zip') returns '' — the exact
# two-keys-for-one-file fork this single definition exists to prevent.
ISBN_ZIP_KEY_RE = r"(?:^|/)([0-9]{13})\.(?i:zip)\z"

# THE drop-folder file filter, shared by every batch and streaming entry
# point (r10 review): Hadoop pathGlobFilter is case-SENSITIVE, so a bare
# "*.zip" silently excluded '...ISBN.ZIP' files that the key rule above
# and the worker parser both accept — the file was neither ingested nor
# quarantined, violating R15's every-file-accounted contract. The
# character-class glob matches any case mix, exactly like (?i:zip).
ZIP_GLOB = "*.[zZ][iI][pP]"


def with_zip_keys(df: DataFrame) -> DataFrame:
    """Add the R2 key columns (zip_name, isbn) derived from ``path`` —
    shared by every batch and streaming entry point so the business-key
    rule cannot diverge between them (MetadataIngestionExecuter.java:56-62
    contract; the worker-side mirror is parse.extract_isbn_from_path)."""
    return df.withColumn(
        "zip_name", F.element_at(F.split(F.col("path"), "/"), -1)
    ).withColumn("isbn", F.regexp_extract(F.col("path"), ISBN_ZIP_KEY_RE, 1))


def scan_drop_folder(spark: SparkSession, drop_dir: str) -> DataFrame:
    """R1 batch form: one row per ZIP — (path, modificationTime, length,
    content) — with the ISBN business key extracted from the file name (R2,
    MetadataIngestionExecuter.java:56-62)."""
    return with_zip_keys(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", ZIP_GLOB)
        .load(drop_dir)
    )


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: ZIP bytes → one row per ZIP, holding its entries,
    or its error (R15 per-file error channel,
    MetadataIngestionExecuter.java:62-73)."""
    for pdf in batches:
        rows: list[tuple] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            isbn = extract_isbn_from_path(path)
            try:
                entries = [{"entry": e, "props": p} for e, p in parse_metadata_zip(bytes(content))]
                rows.append((path, isbn, entries, None, None))
            except Exception as exc:  # noqa: BLE001 — quarantine, never abort the batch
                rows.append((path, isbn, None, errors.EXTRACT_ZIP, str(exc)[:500]))
        yield pd.DataFrame(rows, columns=["path", "isbn", "entries", "error_code", "error_msg"])


def parse_zips(arrivals: DataFrame) -> DataFrame:
    """R3+R4+R5 fused, one row per arrival: (path, isbn, entries,
    error_code, error_msg). ``entries`` is the ZIP's array of (entry,
    props) records — one per distinct basename, the later archive entry
    winning — and is NULL exactly when the ZIP failed to open, in which
    case ``error_code``/``error_msg`` say why. An empty ZIP has an empty
    array. Input needs (path, content) columns."""
    return arrivals.select("path", "content").mapInPandas(_parse_batches, ZIPS_SCHEMA)


def explode_entries(zips: DataFrame) -> DataFrame:
    """One row per entry of :func:`parse_zips` rows: (path, isbn, entry,
    props, error_code, error_msg). A ZIP that failed to open keeps one row
    with NULL entry/props; an empty ZIP yields no rows."""
    no_entry = F.array(F.lit(None).cast(ENTRY_TYPE))
    return zips.select(
        "path", "isbn", F.explode(F.coalesce("entries", no_entry)).alias("e"),
        "error_code", "error_msg",
    ).select("path", "isbn", "e.entry", "e.props", "error_code", "error_msg")


def parse_zip_entries(arrivals: DataFrame) -> DataFrame:
    """R3+R4+R5 as one row per entry: the exploded view of
    :func:`parse_zips`. Input needs (path, content) columns."""
    return explode_entries(parse_zips(arrivals))


# ---------------------------------------------------------------------------
# registered ops (rows-only: binary fixtures, not SQL-expressible)
# ---------------------------------------------------------------------------

@op("scan_binary_zip", sql=None)
def scan_binary_zip(spark: SparkSession, sf: str) -> DataFrame:
    """One row per drop-folder file: path/key/length/mtime (R1, R11)."""
    drop = f"{default_dir()}/drop"
    return scan_drop_folder(spark, drop).select(
        "zip_name", "isbn", "length", "modificationTime"
    )


def ingest_properties_zip_typed(spark: SparkSession, sf: str) -> DataFrame:
    """ZIP bytes → exploded (isbn, entry, props) rows (R3-R5). Fixture-hash
    semantics are asserted in tests/test_ingestion.py (java-Properties
    parity cases from FIXTURES.md §B1). Typed variant: props stays
    map<string,string> for downstream projection ops."""
    drop = f"{default_dir()}/drop"
    parsed = parse_zip_entries(scan_drop_folder(spark, drop))
    return parsed.filter(F.col("error_code").isNull()).select("isbn", "entry", "props")


@op("ingest_properties_zip", sql=None)
def ingest_properties_zip(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-checkable projection of the typed variant above: the map cell
    is rendered as canonical JSON with key-sorted entries (the driver's
    pandas canonicalizer cannot sort dict cells — r2 verdict #1), plus the
    entry count as a scalar invariant."""
    t = ingest_properties_zip_typed(spark, sf)
    props_sorted = F.map_from_entries(F.array_sort(F.map_entries("props")))
    return t.select(
        "isbn",
        "entry",
        F.to_json(props_sorted).alias("props_json"),
        F.size("props").alias("n_props"),
    )


@op("sink_append_parquet", sql=None)
def sink_append_parquet(spark: SparkSession, sf: str) -> DataFrame:
    """R11 bronze sink: append raw arrivals (path, length, ingest batch id),
    then read back. Parquet append partitioned by ingest date at scale."""
    drop = f"{default_dir()}/drop"
    bronze = scratch("bronze")
    raw = scan_drop_folder(spark, drop).select("zip_name", "isbn", "length")
    raw.write.mode("append").parquet(bronze)
    return spark.read.parquet(bronze)


def _roundtrip_dir(spark: SparkSession, sf: str, fmt: str) -> str:
    """Write the documents table once per (process, sf, fmt) into a state
    dir in the given format; return the path. Partitioned write +
    partitioned read — the same code path a cluster uses for multi-file
    JSONL/CSV corpora."""
    from bpspark.io import table

    def build(d: str) -> None:
        docs = table(spark, sf, "documents")
        if fmt == "json":
            docs.select("doc_id", "text", "lang", "source").write.mode(
                "overwrite"
            ).json(d)
        else:
            docs.select("doc_id", "lang", "source", "n_chars").write.mode(
                "overwrite"
            ).option("header", True).csv(d)

    return build_once(fmt, sf, build)


@op(
    "scan_jsonlines",
    sql="SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id",
)
def scan_jsonlines(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines source: the documents corpus round-trips through a
    multi-file JSONL directory (the interchange format of every LLM data
    pipeline) with an EXPLICIT schema — schema inference would re-read
    100 TB once just to guess types. The oracle proves the round-trip is
    lossless against the parquet original, including text escaping."""
    d = _roundtrip_dir(spark, sf, "json")
    return (
        spark.read.schema("doc_id bigint, text string, lang string, source string")
        .json(d)
        .select("doc_id", "text", "lang", "source")
        .orderBy("doc_id")
    )


@op(
    "scan_csv",
    sql="SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id",
)
def scan_csv(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source with header + explicit schema (no inference pass, same
    rationale as scan_jsonlines). Free-text stays out of the CSV profile
    — delimiter-laden prose belongs in JSONL/parquet; CSV carries the
    typed scalar columns, the shape warehouse exports actually have."""
    d = _roundtrip_dir(spark, sf, "csv")
    return (
        spark.read.schema("doc_id bigint, lang string, source string, n_chars bigint")
        .option("header", True)
        .csv(d)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@op(
    "scan_orc",
    sql="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def scan_orc(spark: SparkSession, sf: str) -> DataFrame:
    """ORC source/sink roundtrip: materialize lineitem's (flag, status,
    quantity) projection as ORC once per sf_dir, read it BACK from ORC,
    and aggregate — proving the second columnar format end-to-end
    (pushdown + pruning work the same as parquet; Spark's ORC reader is
    vectorized). The oracle aggregates the original parquet, so the check
    also proves the roundtrip is lossless. quantity is integer-valued →
    BIGINT sum is order-independent exact."""
    from bpspark.io import table as _table

    dst = build_once(
        "orc",
        sf,
        lambda d: _table(spark, sf, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .write.orc(f"{d}/lineitem"),
    )
    return (
        spark.read.orc(f"{dst}/lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


@op(
    "scan_schema_evolution",
    sql="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
    FROM orders WHERE o_orderkey % 50 = 0 OR o_orderkey % 2 = 1 AND o_orderkey % 25 = 0
    """,
)
def scan_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Schema drift survival: batch 1 is written WITHOUT o_orderpriority
    (the early producer), batch 2 WITH it (the evolved producer);
    mergeSchema=true reads both under the union schema, nulling the
    missing column for old files — the add-a-column evolution parquet
    handles natively (renames/type-changes need a table format). The
    oracle reproduces the same union from the source table. Spark only
    pays the footer-merge cost when mergeSchema is requested — keep it
    off for stable-schema 100 TB scans."""
    from bpspark.io import table as _table

    o = _table(spark, sf, "orders")

    def build(base: str) -> None:
        (
            o.filter(F.col("o_orderkey") % 50 == 0)
            .select("o_orderkey", "o_totalprice")
            .write.parquet(f"{base}/b1")
        )
        (
            o.filter((F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 25 == 0))
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.parquet(f"{base}/b2")
        )

    base = build_once("evo", sf, build)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/b1", f"{base}/b2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# custom Python data source (Spark 4 DataSource API)
# ---------------------------------------------------------------------------

try:  # pyspark >= 4.0 only
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _BookGenReader(DataSourceReader):
        """Partition-parallel deterministic record generator: partition i
        yields its own contiguous id slice, so the source scales out like
        any file/API-shard source (each InputPartition maps to one task)."""

        def __init__(self, options):
            self.n = int(options.get("numrecords", 1000))
            self.parts = int(options.get("numpartitions", 8))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            per = (self.n + self.parts - 1) // self.parts
            lo = partition.value * per
            for i in range(lo, min(lo + per, self.n)):
                isbn = f"9781{(i * 7919) % 1_000_000_000:09d}"
                yield (i, isbn, i % 40 + 1, 100 + (i * 31) % 900)

    class BookGenDataSource(DataSource):
        """Synthetic book-metadata source in the reference's domain
        (ISBN-keyed records, MetadataIngestionServiceImpl.java:95-123
        parses the same shape from ZIP drop folders) — exercising Spark
        4's Python DataSource API: schema(), partitions(), per-partition
        read() generators. The arithmetic is deterministic, so a DuckDB
        range() query is an exact oracle for the whole scan."""

        @classmethod
        def name(cls):
            return "bpspark_bookgen"

        def schema(self):
            return "book_id bigint, isbn string, n_chapters int, n_pages int"

        def reader(self, schema):
            return _BookGenReader(self.options)

    _HAS_PY_DATASOURCE = True
except ImportError:  # pragma: no cover — pyspark < 4
    _HAS_PY_DATASOURCE = False


@op(
    "scan_python_datasource",
    sql="""
    SELECT i AS book_id,
           concat('9781', lpad(CAST((i * 7919) % 1000000000 AS VARCHAR), 9, '0')) AS isbn,
           CAST(i % 40 + 1 AS INT) AS n_chapters,
           CAST(100 + (i * 31) % 900 AS INT) AS n_pages
    FROM range(1000) t(i)
    """,
)
def scan_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API: a
    partition-parallel generator source registered per-session and read
    with plain spark.read.format(...). This is the extension point a
    reference user gets for arbitrary upstream systems (REST shards,
    message queues, proprietary file formats): implement
    partitions()/read() in Python, and Spark schedules one task per
    InputPartition — distributed by construction, no driver funnel. The
    deterministic record arithmetic makes the DuckDB range() oracle
    exact, so this custom source is value-hash-checked like any table
    scan."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark >= 4.0 required for the Python DataSource API")
    from bpspark import ensure_worker_imports

    ensure_worker_imports(spark)
    try:
        spark.dataSource.register(BookGenDataSource)
    except Exception:  # already registered in this session
        pass
    return (
        spark.read.format("bpspark_bookgen")
        .option("numRecords", 1000)
        .option("numPartitions", 8)
        .load()
    )


@op(
    "stream_python_datasource",
    sql="""
    SELECT i AS seq,
           concat('9781', lpad(CAST((i * 7919) % 1000000000 AS VARCHAR), 9, '0')) AS isbn,
           CAST(100 + (i * 31) % 900 AS INT) AS n_pages
    FROM range(400) t(i)
    """,
)
def stream_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom STREAMING connector via the Python DataSource API: the
    feed's offset lives in the checkpoint, and the op runs the query
    TWICE against the same checkpoint + parquet sink — the second run
    resumes at the committed offset (records 200..399 follow 0..199
    with no gap, no repeat). This is the reference's polling-ingest
    loop (R1/R16 single-flight, MetadataIngestionJob.java:31-38)
    rebuilt as a real streaming source with exactly-once offsets; the
    deterministic feed makes a DuckDB range() query the exact oracle
    for the two-run union."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark >= 4.0 required for the Python DataSource API")

    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    BATCH = 200

    # Defined function-locally ON PURPOSE: the streaming source's planner
    # runs in a separate Python worker that does NOT inherit the addPyFile
    # zip (unlike batch-read workers), so a module-level class would hit
    # ModuleNotFoundError from any foreign cwd. Local classes are
    # cloudpickled BY VALUE — fully self-contained.
    class _BookFeedStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked streaming reader: each read() emits the next
        BATCH deterministic records and advances the offset — the
        Python-source analogue of a Kafka partition cursor. Spark
        checkpoints the offset, so a restarted query resumes exactly
        where the last one committed."""

        def initialOffset(self):
            return {"seq": 0}

        def read(self, start):
            lo = int(start["seq"])
            rows = [
                (i, f"9781{(i * 7919) % 1_000_000_000:09d}", 100 + (i * 31) % 900)
                for i in range(lo, lo + BATCH)
            ]
            return iter(rows), {"seq": lo + BATCH}

    class BookFeedStreamSource(DataSource):
        """Streaming twin of BookGenDataSource (simpleStreamReader)."""

        @classmethod
        def name(cls):
            return "bpspark_bookfeed"

        def schema(self):
            return "seq bigint, isbn string, n_pages int"

        def simpleStreamReader(self, schema):
            return _BookFeedStreamReader()

    try:
        spark.dataSource.register(BookFeedStreamSource)
    except Exception:
        pass
    stage = scratch("pyfeed")
    sink, ckpt = f"{stage}/sink", f"{stage}/ckpt"
    from bpspark.streaming import drain

    for _ in range(2):  # second run must RESUME from the committed offset
        feed = spark.readStream.format("bpspark_bookfeed").load()
        drain(feed.writeStream.format("parquet").option("path", sink), ckpt)
    return spark.read.parquet(sink)


@op(
    "scan_xml",
    sql="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY lang
    """,
)
def scan_xml(spark: SparkSession, sf: str) -> DataFrame:
    """XML source/sink roundtrip (Spark 4's built-in XML data source —
    the spark-xml package merged into spark-sql): the documents metadata
    projection is written once per sf_dir as multi-file XML
    (``rowTag=doc``), read BACK with a pinned schema (no sampling
    inference pass over 100 TB), and aggregated. The oracle aggregates
    the parquet original, so the check proves the XML writer/parser
    round-trip is lossless, entity-escaping included. The reference's
    Alfresco world is XML-config-driven (module.properties,
    *-context.xml — SURVEY §2.1 R1); this is the engine's native path
    for XML record corpora. Scale: one task per XML file split;
    text stays OUT of the XML profile (prose belongs in parquet/JSONL —
    same rationale as scan_csv)."""
    from bpspark.io import table as _table

    dst = build_once(
        "xml",
        sf,
        lambda d: _table(spark, sf, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .write.format("xml")
        .option("rowTag", "doc")
        .save(f"{d}/documents"),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id bigint, lang string, source string, n_chars bigint")
        .load(f"{dst}/documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@op(
    "sink_python_datasource",
    sql="SELECT c_custkey, c_acctbal FROM customer",
)
def sink_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Custom SINK via the Spark 4 Python DataSource writer API — the
    write-side twin of scan_python_datasource: ``writer()`` returns a
    DataSourceWriter whose ``write(iterator)`` runs ONE TASK PER INPUT
    PARTITION on executors (each emitting its own JSONL shard —
    distributed by construction, no driver funnel), executor commit
    messages carry the shard names back, and the driver-side ``commit()``
    writes the manifest only after every task reported success — the
    same two-phase commit contract as any production sink. The op writes
    the customer balance projection through the custom sink, reads the
    shards back, and the oracle checks the round trip against the source
    table (shortest-repr JSON doubles parse back bit-identical).
    Function-local classes on purpose: writer workers pickle them BY
    VALUE (see stream_python_datasource)."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark >= 4.0 required for the Python DataSource API")

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    from bpspark.io import table

    class _ShardCommit(WriterCommitMessage):
        def __init__(self, shard: str) -> None:
            self.shard = shard

    class _JsonlShardWriter(DataSourceWriter):
        def __init__(self, options) -> None:
            self.path = options["path"]

        def write(self, rows):
            import json as _json
            import os as _os
            import uuid as _uuid

            shard = f"shard-{_uuid.uuid4().hex}.json"
            tmp = _os.path.join(self.path, "_tmp-" + shard)
            n = 0
            with open(tmp, "w") as fh:
                for r in rows:
                    fh.write(
                        _json.dumps({"c_custkey": r[0], "c_acctbal": r[1]}) + "\n"
                    )
                    n += 1
            _os.replace(tmp, _os.path.join(self.path, shard))
            return _ShardCommit(shard)

        def commit(self, messages):
            import json as _json
            import os as _os

            manifest = sorted(m.shard for m in messages)
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
                _json.dump(manifest, fh)

        def abort(self, messages):  # pragma: no cover - failure path
            pass

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "bpspark_jsonl_sink"

        def writer(self, schema, overwrite):
            return _JsonlShardWriter(self.options)

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:  # already registered in this session
        pass
    out = scratch("pyds_sink")
    (
        table(spark, sf, "customer")
        .select("c_custkey", "c_acctbal")
        .repartition(4)
        .write.format("bpspark_jsonl_sink")
        .mode("append")
        .option("path", out)
        .save()
    )
    import json as _json
    import os as _os

    with open(_os.path.join(out, "_MANIFEST.json")) as fh:
        shards = _json.load(fh)
    if len(shards) != 4:
        # survives python -O (r11 review: bare asserts are stripped)
        raise RuntimeError(f"expected 4 shard tasks, got {len(shards)}")
    return (
        spark.read.schema("c_custkey bigint, c_acctbal double")
        .json([_os.path.join(out, s) for s in shards])
        .select("c_custkey", "c_acctbal")
    )


@op(
    "scan_python_datasource_pushdown",
    sql="""
    SELECT i AS rec_id,
           CAST((i * 31) %% 1000 AS INT) AS score,
           1 AS pushed_n
    FROM range(5000) t(i)
    WHERE (i * 31) %% 1000 >= 900
    """ % (),
)
def scan_python_datasource_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """FILTER PUSHDOWN into a Python DataSource (Spark 4.1
    ``DataSourceReader.pushFilters``): the reader receives the query's
    predicates at plan time, accepts the ones it can evaluate, and
    GENERATES ONLY MATCHING ROWS — unpushed sources must materialize
    everything and filter afterwards, which against a REST shard or a
    proprietary store is the difference between reading 10% and 100% of
    the upstream. The oracle PROVES pushdown happened: each emitted row
    carries ``pushed_n`` = how many filters the reader accepted, so if
    Spark ever stopped pushing (or the reader declined), every row's
    pushed_n flips to 0 and the value-hash breaks.

    Function-local classes on purpose (pickled by value — same note as
    stream_python_datasource); one task per InputPartition, generator
    arithmetic deterministic so DuckDB range() is an exact oracle."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark >= 4.0 required for the Python DataSource API")
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    N, PARTS = 5000, 4

    class _PushReader(DataSourceReader):
        def __init__(self) -> None:
            self.min_score = None
            self.n_pushed = 0

        def pushFilters(self, filters):
            from pyspark.sql.datasource import GreaterThanOrEqual

            for f in filters:
                if (
                    isinstance(f, GreaterThanOrEqual)
                    and f.attribute == ("score",)
                ):
                    self.min_score = f.value
                    self.n_pushed += 1
                else:
                    yield f  # decline: Spark re-applies it post-scan

        def partitions(self):
            return [InputPartition(p) for p in range(PARTS)]

        def read(self, partition):
            p = partition.value
            lo = self.min_score if self.min_score is not None else 0
            for i in range(p * (N // PARTS), (p + 1) * (N // PARTS)):
                score = (i * 31) % 1000
                if score >= lo:  # generation-time pruning — the point
                    yield (i, score, self.n_pushed)

    class ScorePushSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "bpspark_scorepush"

        def schema(self) -> str:
            return "rec_id bigint, score int, pushed_n int"

        def reader(self, schema):
            return _PushReader()

    # The pushdown conf is set/restored via _conf_scope around an EAGER
    # collect (same pattern as scan_agg_pushdown / join_runtime_bloom
    # _filter): leaving it enabled would silently change planning for any
    # later Python DataSource in the driver's single-session sweep. The
    # result is 500 rows — bounded, so rebuilding via createDataFrame is
    # the cheap price of conf hygiene.
    from bpspark.layout import _conf_scope

    restore = _conf_scope(
        spark, {"spark.sql.python.filterPushdown.enabled": "true"}
    )
    try:
        spark.dataSource.register(ScorePushSource)
    except Exception:  # already registered in this session
        pass
    try:
        rows = (
            spark.read.format("bpspark_scorepush")
            .load()
            .filter(F.col("score") >= 900)
            .orderBy("rec_id")
            .collect()
        )
    finally:
        restore()
    return spark.createDataFrame(rows, "rec_id bigint, score int, pushed_n int")


@op(
    "sink_python_datasource_stream",
    sql="SELECT c_custkey, c_acctbal FROM customer",
)
def sink_python_datasource_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Custom STREAMING sink via the Spark 4.1 Python DataSource
    DataSourceStreamWriter — the fourth quadrant of the Python
    DataSource surface (batch read / batch write / stream read already
    registered). Per micro-batch, ``write(iterator)`` runs one task per
    partition emitting a JSONL shard, executor commit messages flow
    back, and driver-side ``commit(messages, batchId)`` publishes a
    PER-BATCH manifest — so the read-back trusts only manifest-listed
    shards: an aborted batch's orphan shards are invisible, which is
    the per-batch two-phase-commit contract streaming sinks add on top
    of the batch writer's single commit. Two waves of the customer
    projection arrive through the checkpointed file source (one
    micro-batch each); the oracle is the full source projection, so
    the driver hash-proves exactly-once across both commits.

    Function-local classes on purpose: streaming writer workers pickle
    them BY VALUE (same worker-import caveat as
    stream_python_datasource)."""
    if not _HAS_PY_DATASOURCE:  # pragma: no cover
        raise RuntimeError("pyspark >= 4.0 required for the Python DataSource API")
    import glob as _glob
    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    from bpspark.io import table
    from bpspark.streaming import drain, stage_waves

    class _StreamShardCommit(WriterCommitMessage):
        def __init__(self, shard: str, n: int) -> None:
            self.shard = shard
            self.n = n

    class _JsonlStreamShardWriter(DataSourceStreamWriter):
        def __init__(self, options) -> None:
            self.path = options["path"]

        def write(self, rows):
            import json as _j
            import os as _o
            import uuid as _u

            shard = f"shard-{_u.uuid4().hex}.json"
            tmp = _o.path.join(self.path, "_tmp-" + shard)
            n = 0
            with open(tmp, "w") as fh:
                for r in rows:
                    fh.write(_j.dumps({"c_custkey": r[0], "c_acctbal": r[1]}) + "\n")
                    n += 1
            _o.replace(tmp, _o.path.join(self.path, shard))
            return _StreamShardCommit(shard, n)

        def commit(self, messages, batchId):
            import json as _j
            import os as _o

            manifest = sorted(m.shard for m in messages if m is not None)
            with open(_o.path.join(self.path, f"_MANIFEST-{batchId}.json"), "w") as fh:
                _j.dump(manifest, fh)

        def abort(self, messages, batchId):  # pragma: no cover - failure path
            import os as _o

            for m in messages:
                if m is not None:
                    try:
                        _o.remove(_o.path.join(self.path, m.shard))
                    except FileNotFoundError:
                        pass

    class JsonlStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "bpspark_jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return _JsonlStreamShardWriter(self.options)

    try:
        spark.dataSource.register(JsonlStreamSinkDataSource)
    except Exception:  # already registered in this session
        pass

    stage = scratch("pyds_ssink")
    src, out, ckpt = f"{stage}/src", f"{stage}/out", f"{stage}/ckpt"
    _os.makedirs(out)
    cust = table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    stage_waves(src, *(cust.filter(F.col("c_custkey") % 2 == i) for i in range(2)))
    stream = (
        spark.readStream.schema("c_custkey bigint, c_acctbal double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .repartition(2)
    )
    drain(stream.writeStream.format("bpspark_jsonl_stream_sink").option("path", out), ckpt)

    manifests = sorted(_glob.glob(f"{out}/_MANIFEST-*.json"))
    if len(manifests) != 2:
        # survives python -O (r11 review: bare asserts are stripped)
        raise RuntimeError(f"expected 2 per-batch manifests, got {manifests}")
    shards = [s for m in manifests for s in _json.load(open(m))]
    return (
        spark.read.schema("c_custkey bigint, c_acctbal double")
        .json([_os.path.join(out, s) for s in shards])
        .select("c_custkey", "c_acctbal")
    )
