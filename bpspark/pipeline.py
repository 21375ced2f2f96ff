"""The composed ingestion pipeline — reference operators R1→R17 as one
declarative DataFrame graph (SURVEY §3.4 path 2).

Reference flow (MetadataIngestionServiceImpl.java:95-123):
  1. isNewIsbn gate — three existence checks (:99, :181-210)   → anti-joins
  2. upload raw ZIP (:100)                                     → bronze sink
  3. extractBookAndChapterMetadata (:104, :131-162)            → parse_zips
  4. book-record presence check (:107-110)                     → entry lookup
  5. genre validation (:112-116, :170-173)                     → left join (broadcast dim)
  6. startBestPubWorkflowInstance (:119, :219-248)             → control-table rows

The unit of work is one ZIP, as in the reference: ``parse_zips`` yields ONE
row per arrival with all its entries nested, and steps 4-6, the R15
quarantine decision, the R14 metadata array and the silver chapters are
column expressions on that row — no regrouping by ISBN.

Each batch is parsed ONCE, as the reference reads each ZIP once inside one
unit of work (R17, :50): ``ingest_from_arrivals`` materializes the decided
per-ZIP frame (gate → parse → R6/R7 → R15 ``reject``) with
``io.materialize``, and every output of :class:`IngestResult` except the
gate's own frames is a projection of it — so each sink call reads those
rows instead of re-running the gate and the parse. The frame holds parsed
metadata only (``parse_zips`` drops the ZIP bytes); its blocks live as long
as the result's frames do. ``commit_batch`` writes the batch's three tables with
control last, so the R9 ledger the control table feeds is the commit
marker: a batch cut short before it is simply replayed.

Ordering mirrors the reference's cheap-predicate-first stance (§4.1): the
ledger anti-joins run BEFORE parsing, so already-seen ZIPs are never
unzipped. At 100 TB: arrivals×ledger joins shuffle on the business key
(or broadcast when the ledger side is small); parse parallelism = #files;
after the parse, every step is a map-side projection or broadcast join.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bpspark import errors
from bpspark.config import IngestionConfig
from bpspark.fixtures import default_dir
from bpspark.io import materialize, scratch
from bpspark.registry import op
from bpspark.sources import explode_entries, parse_zips, scan_drop_folder

# R12: the five projected book-record keys + ISBN (canonical key names per
# FIXTURES.md; the reference's literal constants live in the external model
# artifact — MetadataIngestionServiceImpl.java:231-236)
BOOK_KEYS = ("Title", "Genre", "Authors", "NrOfChapters", "NrOfPages")


@dataclass
class Ledgers:
    """The three idempotency ledgers (R8/R9/R10) + the genre dimension (R7)."""
    valid_genres: DataFrame
    ingested_zips: DataFrame
    workflows: DataFrame
    completed_books: DataFrame

    @staticmethod
    def load(spark: SparkSession, ledger_dir: str) -> "Ledgers":
        rd = spark.read
        return Ledgers(
            valid_genres=rd.parquet(f"{ledger_dir}/valid_genres.parquet"),
            ingested_zips=rd.parquet(f"{ledger_dir}/ingested_zips.parquet"),
            workflows=rd.parquet(f"{ledger_dir}/workflows.parquet"),
            completed_books=rd.parquet(f"{ledger_dir}/completed_books.parquet"),
        )

    def with_control(self, control_dir: str) -> "Ledgers":
        """These ledgers with R9 also holding the workflows of the control
        table at ``control_dir`` (unchanged while it has no rows), so a
        replay gates every committed book before the parse."""
        if not glob.glob(os.path.join(control_dir, "*.parquet")):
            return self
        sunk = self.workflows.sparkSession.read.parquet(control_dir).select("workflow_id", "isbn")
        return replace(self, workflows=self.workflows.select("workflow_id", "isbn").unionByName(sunk))


@dataclass
class IngestResult:
    """One batch's frames. ``arrivals`` and ``new_arrivals`` are lazy; the
    other four are projections of the batch's one materialized per-ZIP
    frame (parsed metadata, no ZIP bytes), which lives as long as they do."""
    arrivals: DataFrame        # every ZIP seen this batch
    new_arrivals: DataFrame    # after the three idempotency anti-joins
    entries: DataFrame         # parsed (isbn, entry, props) rows
    workflows_new: DataFrame   # R14 control rows for accepted books
    silver_chapters: DataFrame  # (isbn, chapter_number, chapter_title, chapter_author)
    quarantine: DataFrame      # (path, error_code, error_msg)


def ingest_batch(spark: SparkSession, drop_dir: str, ledgers: Ledgers,
                 config: IngestionConfig | None = None) -> IngestResult:
    """One batch of the R1→R14 pipeline as a single DataFrame graph."""
    return ingest_from_arrivals(spark, scan_drop_folder(spark, drop_dir), ledgers, config)


def with_book_genre(zips: DataFrame, valid_genres: DataFrame) -> DataFrame:
    """R6 + R7 on :func:`~bpspark.sources.parse_zips` rows: adds ``book``
    (the props of the entry named after the ISBN, NULL when the ZIP has
    none), ``book_genre`` (its Genre) and ``genre_ok`` (TRUE when the genre
    is in the dimension, else NULL) via one broadcast left join."""
    dim = valid_genres.select(
        F.col("genre_name").alias("book_genre"), F.lit(True).alias("genre_ok")
    ).distinct()
    book = F.get(F.filter("entries", lambda e: e.entry == F.col("isbn")), 0).props
    return (
        zips.withColumn("book", book)
        .withColumn("book_genre", F.element_at("book", F.lit("Genre")))
        .join(F.broadcast(dim), "book_genre", "left")
    )


def ingest_from_arrivals(spark: SparkSession, arrivals: DataFrame, ledgers: Ledgers,
                         config: IngestionConfig | None = None) -> IngestResult:
    """R2→R14 over an arrivals frame — shared by the batch entry point and
    the streaming foreachBatch path (each micro-batch is one arrivals set).

    Precondition (both entry points satisfy it by construction): the
    arrivals frame carries ONE row per path, as file listings do."""
    config = config or IngestionConfig()

    # --- R8/R9/R10: idempotency gate, cheapest predicates first -----------
    gated = (
        arrivals
        .join(ledgers.ingested_zips.select("zip_name"), "zip_name", "left_anti")   # R8
        .join(ledgers.workflows.select("isbn"), "isbn", "left_anti")               # R9
        .join(ledgers.completed_books.select("isbn"), "isbn", "left_anti")         # R10
    )
    # Within-batch single-flight: the ledgers only know PRIOR batches, so
    # the first path per ISBN wins, as the reference's per-file isNewIsbn
    # check (:181) sees the first file's in-flight workflow. Unkeyed
    # arrivals (isbn '' or NULL) are each their own key: every one goes on
    # to R15. Only (key, path) strings shuffle; ZIP bytes never do.
    winners = (
        gated.groupBy(F.coalesce(F.nullif("isbn", F.lit("")), F.col("path")))
        .agg(F.min("path").alias("path"))
        .select("path")
    )
    new_arrivals = gated.join(F.broadcast(winners), "path", "left_semi")

    # --- R3/R4/R5 parse, R6 book record, R7 genre: one row per ZIP ----------
    parsed = parse_zips(new_arrivals)
    zips = with_book_genre(parsed, ledgers.valid_genres)

    # --- R15: the first failing check names the error ----------------------
    def reject(code, msg):
        return F.struct(code.alias("error_code"), msg.alias("error_msg"))

    # Materialized once: every output below is a projection of these
    # rows, so no sink re-runs the gate or the parse.
    decided = materialize(zips.withColumn(
        "reject",
        F.when(F.col("error_code").isNotNull(), reject(F.col("error_code"), F.col("error_msg")))
        .when(F.col("book").isNull(), reject(
            F.lit(errors.MISSING_BOOK_METADATA),
            F.lit("no book record entry named {isbn}.txt in ZIP")))
        .when(F.col("genre_ok").isNull(), reject(
            F.lit(errors.INVALID_GENRE),
            F.concat(F.lit("genre not in dimension: "),
                     F.coalesce("book_genre", F.lit("<missing>"))))),
    ))
    quarantine = decided.filter(F.col("reject").isNotNull()).select(
        "path", "reject.error_code", "reject.error_msg"
    )
    accepted = decided.filter(F.col("reject").isNull())

    # --- R12 typed projection + R13 enrichment + R14 control row -----------
    workflows_new = accepted.select(
        "isbn",
        F.element_at("book", F.lit("Title")).alias("book_title"),
        F.col("book_genre"),
        F.element_at("book", F.lit("Authors")).alias("book_authors"),
        F.element_at("book", F.lit("NrOfChapters")).cast("int").alias("nr_of_chapters"),
        F.element_at("book", F.lit("NrOfPages")).cast("int").alias("nr_of_pages"),
        F.current_timestamp().alias("publishing_date"),          # R13 :222,:237
        F.lit(False).alias("content_found"),                     # R13 :239
        F.lit(False).alias("content_error_found"),               # :240
        F.lit(False).alias("metadata_chapter_matching_ok"),      # :241
        F.lit(False).alias("chapter_folder_hierarchy_exists"),   # :242
        F.lit(config.interrupt_t1_timer).alias("interrupt_t1_timer"),            # :243
        F.lit(config.wait2_check_content_timer).alias("wait_2_check_content_timer"),  # :244
        # R14: the full metadata map, in a deterministic entry order
        # (structs with map fields aren't orderable by sort_array)
        F.array_sort(
            "entries",
            lambda l, r: F.when(l.entry < r.entry, -1).when(l.entry > r.entry, 1).otherwise(0),
        ).alias("all_metadata"),
        F.concat(F.lit("wf-"), F.col("isbn")).alias("workflow_id"),
    )

    # --- chapters silver table ---------------------------------------------
    silver_chapters = accepted.select(
        "isbn",
        F.explode(F.filter("entries", lambda e: e.entry.rlike(r"^chapter-[0-9]+$"))).alias("c"),
    ).select(
        "isbn",
        F.element_at("c.props", F.lit("ChapterNumber")).cast("int").alias("chapter_number"),
        F.element_at("c.props", F.lit("ChapterTitle")).alias("chapter_title"),
        F.element_at("c.props", F.lit("ChapterAuthor")).alias("chapter_author"),
    )

    return IngestResult(
        arrivals=arrivals,
        new_arrivals=new_arrivals,
        entries=explode_entries(decided.filter(F.col("error_code").isNull())),
        workflows_new=workflows_new,
        silver_chapters=silver_chapters,
        quarantine=quarantine,
    )


def _append_new(df: DataFrame, out_dir: str, keys: list[str]) -> None:
    """Idempotent parquet append: rows whose ``keys`` the table at
    ``out_dir`` already holds (NULL matching NULL) are dropped before the
    append, so a replayed batch adds zero rows (exactly-once without ACID,
    SURVEY §4.3)."""
    if glob.glob(os.path.join(out_dir, "*.parquet")):
        existing = df.sparkSession.read.parquet(out_dir).select(*keys)
        df = df.join(existing, [df[k].eqNullSafe(existing[k]) for k in keys], "left_anti")
    df.write.mode("append").parquet(out_dir)


def commit_batch(res: IngestResult, out_dir: str) -> None:
    """R17: write one batch's outputs under ``out_dir`` — ``chapters``
    (keyed on isbn + chapter_number), then ``quarantine``, then
    ``control``. Control goes last because it feeds the R9 ledger: until it
    is written, a replay re-accepts the batch's books and the keyed appends
    drop what the cut-short attempt already wrote, so every row lands
    exactly once."""
    _append_new(res.silver_chapters, f"{out_dir}/chapters", ["isbn", "chapter_number"])
    sink_quarantine_table(res.quarantine, f"{out_dir}/quarantine")
    sink_control_table(res.workflows_new, f"{out_dir}/control")


def sink_control_table(workflows_new: DataFrame, control_dir: str) -> None:
    """R14/R17 sink: append control rows idempotently on ``isbn``."""
    _append_new(workflows_new, control_dir, ["isbn"])


def sink_quarantine_table(quarantine: DataFrame, quarantine_dir: str) -> None:
    """R15 sink, same idempotency contract as the control sink (ADVICE
    r10): foreachBatch is at-least-once, so a bare append would duplicate
    quarantine rows on a batch retry or a harness re-run over an existing
    stage dir. Keyed on ``path`` — the arrival's unique identity.

    ``path`` is deliberately the arrival's PERMANENT identity, matching
    the arrivals ledger (ADVICE r11): a file fixed and re-dropped at the
    same path is the same arrival to the whole pipeline — the ledger
    would not re-ingest it either — so it must not produce a second
    quarantine record; the reference's drop-folder contract likewise
    treats a path as consumed once (MetadataIngestionServiceImpl.java:
    93-248 moves each file out of the folder exactly once). Duplicate
    paths WITHIN one batch cannot occur: the stream source lists each
    file once per run and the stage dir is keyed by path."""
    _append_new(quarantine, quarantine_dir, ["path"])


# ---------------------------------------------------------------------------
# registered ops (rows-only: binary fixtures)
# ---------------------------------------------------------------------------

def _fixture_ledgers(spark: SparkSession) -> tuple[str, Ledgers]:
    d = default_dir()
    return d, Ledgers.load(spark, d)


# One fixture ingest per SparkSession: five pipeline_* ops read the same
# R1→R14 batch over the same fixture drop folder.
_FIXTURE_INGEST: dict[int, tuple[str, Ledgers, IngestResult]] = {}


def _fixture_ingest(spark: SparkSession) -> tuple[str, Ledgers, IngestResult]:
    key = id(spark)
    if key not in _FIXTURE_INGEST:
        # keep only the live session's entry: the result's frames pin their
        # (possibly stopped) SparkSession's JVM state, so entries from
        # earlier sessions in the same interpreter must not accumulate
        _FIXTURE_INGEST.clear()
        d, ledgers = _fixture_ledgers(spark)
        res = ingest_batch(spark, f"{d}/drop", ledgers)
        _FIXTURE_INGEST[key] = (d, ledgers, res)
    return _FIXTURE_INGEST[key]


@op("pipeline_ingest_batch", sql=None)
def pipeline_ingest_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Full R1→R14 batch over the fixture drop folder: accepted control rows
    (deterministic columns only — publishing_date is now())."""
    _, _, res = _fixture_ingest(spark)
    return res.workflows_new.select(
        "workflow_id", "isbn", "book_title", "book_genre", "book_authors",
        "nr_of_chapters", "nr_of_pages", "interrupt_t1_timer",
        "wait_2_check_content_timer",
    ).orderBy("isbn")


@op("pipeline_quarantine", sql=None)
def pipeline_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """R15 error channel: one row per rejected fixture ZIP."""
    _, _, res = _fixture_ingest(spark)
    return res.quarantine.select("path", "error_code").orderBy("path")


@op("pipeline_chapters", sql=None)
def pipeline_chapters(spark: SparkSession, sf: str) -> DataFrame:
    """Silver chapters exploded from accepted ZIPs (R3 explode + R12 typing)."""
    _, _, res = _fixture_ingest(spark)
    return res.silver_chapters.orderBy("isbn", "chapter_number")


@op("pipeline_idempotent_rerun", sql=None)
def pipeline_idempotent_rerun(spark: SparkSession, sf: str) -> DataFrame:
    """R8-R10 invariant: re-running ingestion with the first run's outputs in
    the ledgers yields zero new workflow rows. Returns one row with both
    counts so the check is self-evident. The rerun is structurally cheap by
    design: the R9 workflow anti-join fires BEFORE the parse, so already-
    ingested ZIPs are never re-unzipped (the reference's cheap-predicate-
    first stance, MetadataIngestionServiceImpl.java:99)."""
    d, ledgers, first = _fixture_ingest(spark)
    first_isbns = first.workflows_new.select("isbn")
    ledgers2 = Ledgers(
        valid_genres=ledgers.valid_genres,
        ingested_zips=ledgers.ingested_zips,
        workflows=ledgers.workflows.select("isbn").unionByName(first_isbns),
        completed_books=ledgers.completed_books,
    )
    rerun = ingest_batch(spark, f"{d}/drop", ledgers2)
    n_first = first.workflows_new.count()
    n_rerun = rerun.workflows_new.count()
    return spark.createDataFrame(
        [(n_first, n_rerun, n_rerun == 0)],
        "first_run_rows bigint, rerun_rows bigint, idempotent boolean",
    )


@op("sink_control_table", sql=None)
def sink_control_table_op(spark: SparkSession, sf: str) -> DataFrame:
    """R14/R17: idempotent control-table sink — write twice, read once;
    the second append contributes nothing."""
    _, _, res = _fixture_ingest(spark)
    control = scratch("control") + "/workflows"
    sink_control_table(res.workflows_new, control)
    sink_control_table(res.workflows_new, control)  # replay must be a no-op
    return spark.read.parquet(control).select("workflow_id", "isbn").orderBy("isbn")


@op("pipeline_observe_metrics", sql=None)  # driver-side metric harvest
def pipeline_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-extra-pass data-quality metrics via DataFrame.observe(): the
    silver projection runs ONCE and the observation accumulators (row
    count, null keys, revenue sum) ride along inside the same
    job — at 100 TB this replaces a whole second QC scan; metrics arrive
    on the driver through the observation listener channel, not a
    collect. Returned as a 1-row frame (rows-only: the observation API
    is engine-specific by nature; values are cross-checked against
    direct aggregation in tests/test_ingestion.py)."""
    from pyspark.sql import Observation

    from bpspark.io import table

    o = table(spark, sf, "orders")
    obs = Observation("qc")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    # one real pipeline action drives both the write-side work and the metrics
    observed.select("o_orderkey", "o_custkey", "o_totalprice").write.format("noop").mode(
        "overwrite"
    ).save()
    m = obs.get
    # SUM observations come back None on an empty input frame — report
    # zeros instead of a driver TypeError (r8; COUNT is never None)
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["null_keys"] or 0), float(m["revenue"] or 0.0))],
        "n_rows bigint, null_keys bigint, revenue double",
    )


@op(
    "pipeline_governed_batch",
    sql="""
    WITH dq AS (
        SELECT COUNT(*) FILTER (WHERE o_totalprice <= 0)
             + COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P'))
             + COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-'))
               AS viol
        FROM orders
    ),
    olds AS (
        SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 10 <> 0
    ),
    news AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    cdc AS (
        SELECT COUNT(*) FILTER (WHERE olds.o_orderkey IS NULL) AS ins,
               COUNT(*) FILTER (WHERE news.o_orderkey IS NULL) AS del,
               COUNT(*) FILTER (WHERE olds.o_orderkey IS NOT NULL
                                  AND news.o_orderkey IS NOT NULL
                                  AND olds.price <> news.price) AS upd
        FROM olds FULL OUTER JOIN news ON olds.o_orderkey = news.o_orderkey
    ),
    mv AS (
        SELECT COUNT(*) AS groups FROM (
            SELECT DISTINCT CAST(o_orderdate AS VARCHAR), o_orderpriority FROM orders
        )
    )
    SELECT 'dq_violations' AS metric, CAST(viol AS BIGINT) AS value FROM dq
    UNION ALL SELECT 'cdc_inserts', ins FROM cdc
    UNION ALL SELECT 'cdc_deletes', del FROM cdc
    UNION ALL SELECT 'cdc_updates', upd FROM cdc
    UNION ALL SELECT 'mv_groups', groups FROM mv
    ORDER BY metric
    """,
)
def pipeline_governed_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Governed-batch flagship: the round-2 governance ops as ONE run —
    (1) the DQ expectation gate (conditional counts, one orders scan;
    a real pipeline quarantines when this is non-zero — reference R6/R9
    flow), (2) the CDC change-set extraction (full-outer key diff,
    output ∝ churn), (3) the incremental-MV refresh group count (work ∝
    delta + groups). Emits the run report every production batch job
    logs: one (metric, value) row per stage, all deterministic and
    oracle-checked — composition changes nothing about each stage's
    scale posture (their standalone ops assert the plan shapes)."""
    from bpspark.io import table
    from bpspark.layout import mv_incremental_refresh
    from bpspark.relational_ext import cdc_snapshot_diff

    o = table(spark, sf, "orders")
    dq = o.agg(
        (
            F.count_if(F.col("o_totalprice") <= 0)
            + F.count_if(~F.col("o_orderstatus").isin("F", "O", "P"))
            + F.count_if(~F.col("o_orderpriority").rlike("^[1-5]-"))
        ).alias("v")
    ).select(F.lit("dq_violations").alias("metric"), F.col("v").cast("long").alias("value"))
    cdc = cdc_snapshot_diff(spark, sf)
    cdc_counts = cdc.agg(
        F.count_if(F.col("change_type") == "I").alias("ins"),
        F.count_if(F.col("change_type") == "D").alias("del"),
        F.count_if(F.col("change_type") == "U").alias("upd"),
    )
    cdc_rows = cdc_counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("cdc_inserts").alias("metric"), F.col("ins").alias("value")),
                F.struct(F.lit("cdc_deletes").alias("metric"), F.col("del").alias("value")),
                F.struct(F.lit("cdc_updates").alias("metric"), F.col("upd").alias("value")),
            )
        ).alias("s")
    ).select("s.metric", "s.value")
    mv = mv_incremental_refresh(spark, sf).agg(F.count(F.lit(1)).alias("g")).select(
        F.lit("mv_groups").alias("metric"), F.col("g").cast("long").alias("value")
    )
    return dq.unionByName(cdc_rows).unionByName(mv).orderBy("metric")
