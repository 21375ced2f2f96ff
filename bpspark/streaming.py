"""Streaming operators (SURVEY §2.3 ``stream_*``).

The reference's "streaming" is a 10-second cron poll of a drop folder with
cluster-exclusive single-flight (R1 + R16; cadence
alfresco-global.properties:7-9, lock jobs/MetadataIngestionJob.java:31-38).
Structured Streaming replaces both: the file source's checkpointed offsets
give exactly-once-per-file, and one-active-query-per-checkpoint replaces
the job lock (SURVEY §3.4.3).

Two op families:
- windowed aggregations (tumbling/sliding/session): pure event-time logic,
  identical in batch and stream — registered with a *batch-equivalent*
  DuckDB oracle (the driver can fully check them), and proven
  batch≡stream in tests/test_streaming.py.
- genuinely stateful ops (watermark late-drop, streaming dedup,
  stream-static join, the drop-folder source): run as real streaming
  queries into a memory sink → rows-only checks.

Replay harness — the one contract every op here and in ``sources.py``
that runs a real streaming query follows:
- input arrives through :func:`stage_waves`: one parquet file per wave,
  in arrival order (fixed, strictly increasing mtimes, so
  ``maxFilesPerTrigger=1`` delivers one wave per micro-batch);
- the query runs through :func:`drain`: AvailableNow trigger on a
  checkpoint the op owns (fresh, or its own from an earlier run), 8 state
  partitions, started and awaited in one call;
- memory sinks (:func:`run_to_memory`) are for tests and the op registry
  only; a deployment writes a table sink with the same checkpoint
  semantics under a ProcessingTime trigger.

Scale: windowed aggs shuffle on (window, key) with partial aggregation;
watermarks bound state size — without them a 100 TB stream's state grows
forever. Session windows use Spark's native session_window operator
(merging state store), not a per-key collect.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from bpspark.io import materialize, scratch, state_dir, table
from bpspark.registry import op
from bpspark.sources import ZIP_GLOB, with_zip_keys
from bpspark.search import _bm25_oracle as _search_mod_bm25_oracle


def drain(writer: DataStreamWriter, ckpt: str) -> StreamingQuery:
    """Run a built stream writer (sink + output mode set) to completion:
    AvailableNow from checkpoint ``ckpt``, started and awaited here.

    ``spark.sql.shuffle.partitions`` is clamped to 8 for the run and the
    caller's value restored afterwards, also when the query fails. A
    streaming query's STATE STORE count is fixed at first start from that
    setting, and every micro-batch (including no-data watermark batches)
    pays per-partition state-store open/commit I/O — on the driver's
    vanilla session (200 partitions) that overhead is ~6× the useful work
    at harness scale (measured: the outer interval join replay runs 26.8 s
    at 32 partitions, 8.7 s at 4). Harness queries always start from a
    FRESH checkpoint or resume their own, so the clamp never conflicts
    with restored state. Production deployments size this to the cluster
    instead (state partitions ≈ executor cores × small factor)."""
    spark = writer._spark
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    return q


def stage_waves(src: str, *waves: DataFrame) -> None:
    """Stage each frame as exactly one parquet file ``src/wave{i}.parquet``,
    numbered on from the files already in ``src``. File ``i`` gets the
    fixed mtime 1_700_000_000 + i seconds, strictly increasing, so a
    ``maxFilesPerTrigger=1`` stream delivers the waves in index order."""
    os.makedirs(src, exist_ok=True)
    for i, w in enumerate(waves, start=len(os.listdir(src))):
        tmp = f"{scratch('wave')}/w"
        w.coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(f"{tmp}/*.parquet")
        dst = f"{src}/wave{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


BINFILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def events_stream(spark: SparkSession, sf: str) -> DataFrame:
    """events as a file-source stream (parquet NANOS ts → µs timestamp).

    The file source needs a *directory*; the testdata table is a single
    parquet file, so it is staged (once per process and sf) into a state
    dir.

    The stream schema is not hard-coded: a one-time batch probe of the
    staged file (``io.read_events_raw``) decides whether ``ts`` arrives as
    TIMESTAMP_NTZ (Spark ≥4) or raw-nano long (legacy ``nanosAsLong``
    builds), so the batch and streaming events readers can never disagree.
    ``io.normalize_events_ts`` then applies the same UTC-pinned µs
    normalization as the batch path."""
    from bpspark import io

    d = state_dir("events_src", sf)
    if not os.path.exists(f"{d}/events.parquet"):
        os.makedirs(d, exist_ok=True)
        shutil.copy(f"{sf}/events.parquet", f"{d}/.events.parquet.tmp")
        os.replace(f"{d}/.events.parquet.tmp", f"{d}/events.parquet")
    probe = io.read_events_raw(spark, f"{d}/events.parquet")
    df = spark.readStream.schema(probe.schema).parquet(d)
    return io.normalize_events_ts(spark, df)


def run_to_memory(stream_df: DataFrame, *, output_mode: str = "append") -> DataFrame:
    """:func:`drain` a streaming plan into a memory sink; return its rows
    through ``io.materialize`` and drop the sink's temp view, so the rows
    live as long as the returned frame, not until the session ends.
    Test/driver harness only — real deployments write to a table sink
    with the same checkpoint semantics."""
    spark = stream_df.sparkSession
    name = f"bpspark_mem_{uuid.uuid4().hex[:12]}"
    writer = stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    drain(writer, scratch("ckpt"))
    try:
        return materialize(spark.table(name))
    finally:
        spark.catalog.dropTempView(name)


# ---------------------------------------------------------------------------
# event-time windows — batch twin registered (oracle-checkable), stream twin
# proven equivalent in tests
# ---------------------------------------------------------------------------

def tumbling_count_plan(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@op(
    "stream_tumbling_count",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY window_start
    """,
)
def stream_tumbling_count(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed 1h event-time windows over events.ts (R1 cadence generalized).
    Same plan runs on readStream + watermark; batch twin is the oracle."""
    return tumbling_count_plan(table(spark, sf, "events"))


def sliding_agg_plan(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@op(
    "stream_sliding_agg",
    sql="""
    SELECT ws AS window_start, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS ws,
               value
        FROM events CROSS JOIN (VALUES (0), (1)) AS offs(k)
    )
    GROUP BY ws
    """,
)
def stream_sliding_agg(spark: SparkSession, sf: str) -> DataFrame:
    """1h windows sliding every 30min — each event lands in exactly two
    windows (starts: its 30m bucket and the one before)."""
    return sliding_agg_plan(table(spark, sf, "events"))


def session_window_plan(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@op(
    "stream_session_window",
    sql="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM gaps
    )
    SELECT user_id,
           date_trunc('microseconds', MIN(ts)) AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30min) per user via native session_window.
    Oracle emulates with lag/cumsum — a new session starts when the gap is
    >= the timeout (Spark sessions span [start, last_ts + gap))."""
    return session_window_plan(table(spark, sf, "events"))


# ---------------------------------------------------------------------------
# genuinely stateful streaming — rows-only
# ---------------------------------------------------------------------------

@op(
    "stream_watermark_late",
    sql="""
    WITH on_time AS (
      SELECT date_trunc('hour', ts) AS w, COUNT(*) AS c
      FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ), wm AS (
      SELECT MAX(ts) - INTERVAL 1 HOUR AS horizon
      FROM events WHERE event_id % 2 = 0
    ), emitted AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n
      FROM on_time, wm WHERE w + INTERVAL 1 HOUR <= horizon
    )
    SELECT n AS rows_after_batch1, n AS rows_after_batch2,
           TRUE AS late_rows_dropped
    FROM emitted
    """,
)
def stream_watermark_late(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked tumbling count across two checkpointed runs of the same
    query: run 1 ingests the on-time events and advances the watermark to
    max(ts) - 1h; run 2 delivers the same events shifted 10 days earlier —
    entirely behind the watermark — and must emit zero additional rows.
    This is the bounded-state guarantee that matters at 100 TB: without the
    watermark, window state (and the late replay) would grow forever.

    ORACLE-BACKED STREAMING (upgraded from rows-only in r5): append-mode
    emission is deterministic — a window row is emitted exactly when its
    END falls at or below the final watermark (max on-time ts − 1h), so
    rows_after_batch1 is the plain SQL sum of hourly on-time counts for
    windows inside that horizon, and the behind-watermark replay provably
    adds nothing (rows_after_batch2 identical). Integer counts only —
    hash-exact across engines (verified at sf0.001 and sf0.01 before the
    upgrade: 499/4986 emitted rows both engines).

    Returns one summary row so the invariant is self-evident."""
    stage = scratch("wm")
    src, ckpt = f"{stage}/src", f"{stage}/ckpt"
    ev = table(spark, sf, "events")
    on_time = ev.filter(F.col("event_id") % 2 == 0)
    late = ev.filter(F.col("event_id") % 2 == 1).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 10 DAYS")
    )

    # bounded driver state: only the RUNNING TOTAL of emitted window
    # counts crosses to the driver (one aggregated row per micro-batch),
    # never the window rows themselves — at 100× the window count the
    # harness footprint is unchanged
    totals = {"rows": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.agg(F.sum("n_events")).collect()[0][0]
        totals["rows"] += int(s or 0)

    def run_once() -> None:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )
        drain(stream.writeStream.foreachBatch(sink).outputMode("append"), ckpt)

    stage_waves(src, on_time)
    run_once()
    rows_after_b1 = totals["rows"]
    stage_waves(src, late)
    run_once()
    rows_after_b2 = totals["rows"]
    return spark.createDataFrame(
        [(rows_after_b1, rows_after_b2, rows_after_b2 == rows_after_b1)],
        "rows_after_batch1 bigint, rows_after_batch2 bigint, late_rows_dropped boolean",
    )


def _two_delivery_stage(tag: str) -> str:
    """Stage the two-delivery ZIP fixture under a fresh ``scratch(tag)``:
    drop dirs ``a`` and ``b`` both deliver ISBN …001 and ``a`` also …002,
    copied in that order. Returns the ``{stage}/*`` glob to stream."""
    from bpspark.fixtures import default_dir

    fx, stage = default_dir(), scratch(tag)
    for sub, isbn in (("a", "9780000000001"), ("b", "9780000000001"), ("a", "9780000000002")):
        os.makedirs(f"{stage}/{sub}", exist_ok=True)
        shutil.copy(f"{fx}/drop/{isbn}.zip", f"{stage}/{sub}/{isbn}.zip")
    return f"{stage}/*"


@op("stream_dedup_state", sql=None)
def stream_dedup_state(spark: SparkSession, sf: str) -> DataFrame:
    """R8-R10 streaming form: exactly-once per ISBN across micro-batches via
    watermarked dropDuplicates (state-store backed). Two drop dirs deliver
    the same ISBN twice; one row survives."""
    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINFILE_SCHEMA)
        .option("pathGlobFilter", ZIP_GLOB)
        .option("maxFilesPerTrigger", 1)
        .load(_two_delivery_stage("dedup"))
        .transform(with_zip_keys)
        .withWatermark("modificationTime", "1 hour")
        .dropDuplicates(["isbn"])
        .select("isbn", "length")
    )
    return run_to_memory(stream)


@op("stream_static_join", sql=None)
def stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join (R7 streaming form): streaming arrivals parsed and
    validated against the static genre dimension per micro-batch, by the
    batch pipeline's own R6/R7 rule (the stream is the join's left side)."""
    from bpspark.fixtures import default_dir
    from bpspark.pipeline import with_book_genre
    from bpspark.sources import parse_zips

    fx = default_dir()
    arrivals = (
        spark.readStream.format("binaryFile")
        .schema(BINFILE_SCHEMA)
        .option("pathGlobFilter", ZIP_GLOB)
        .load(f"{fx}/drop")
    )
    books = with_book_genre(
        parse_zips(arrivals), spark.read.parquet(f"{fx}/valid_genres.parquet")
    ).filter(F.col("genre_ok")).select("isbn", "book_genre")
    return run_to_memory(books)


@op(
    "stream_stateful_counter",
    sql="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY north star: "applyInPandasWithState for custom stateful
    operators"): a per-user running event counter + running value sum whose
    state persists across micro-batches in the state store.

    Two micro-batches (file adds between checkpointed AvailableNow runs)
    prove state persistence: the final counts equal the full-data batch
    aggregate. State is keyed by user_id and GC'd via ProcessingTimeTimeout
    in production; NoTimeout here since the fixture stream is finite.

    ORACLE-BACKED STREAMING (upgraded from rows-only in r5): state
    accumulates the value sum as EXACT INTEGER CENTS (events.value is
    exact-2dp; round(v*100) snaps the sub-ULP noise identically in pandas
    and SQL), so the final per-user state is batch-split-invariant and
    the emitted total (cents / 100.0, one IEEE division) hash-matches the
    whole-table aggregate — streamed ≡ recompute, same certification as
    stream_mv_refresh. The pre-r5 float-state form rounded a
    pandas-summation-ordered double into the state each batch, which
    could never be hash-certified."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stage = scratch("state")
    src, ckpt = f"{stage}/src", f"{stage}/ckpt"
    ev = table(spark, sf, "events").select("user_id", "event_id", "value")
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)

    updates_dir = f"{stage}/updates"

    def count_events(key, pdfs, state: GroupState):
        import numpy as np  # runs in the Python worker
        import pandas as pd

        (user_id,) = key
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer cents: summation order can't matter, so the
            # state is identical under ANY batch split (oracle contract).
            # floor(v*100 + 0.5) is the ONE tie-free rounding shared with
            # the oracle SQL and the batch test mirror — pandas .round()
            # (half-even), DuckDB ROUND (half-away) and Spark F.round
            # (HALF_UP) only coincide while the data stays exact-2dp
            # (ADVICE r5).
            cents += int(np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [cents / 100.0]}
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # executor-side append, nothing to the driver: per-user update
        # rows land in a parquet log; the final state is last-update-wins
        # (max running count per user) read back distributed
        batch_df.write.mode("append").parquet(updates_dir)

    def run_once() -> None:
        stream = (
            spark.readStream.schema("user_id long, event_id long, value double")
            .parquet(src)
            .groupBy("user_id")
            .applyInPandasWithState(
                count_events,
                outputStructType="user_id long, n_events long, total_value double",
                stateStructType="n long, total_cents long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        drain(stream.writeStream.foreachBatch(sink).outputMode("update"), ckpt)

    stage_waves(src, half1)
    run_once()
    stage_waves(src, half2)
    run_once()
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.read.parquet(updates_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


@op("stream_ingest_pipeline", sql=None)
def stream_ingest_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's whole loop in streaming form (R1→R17, SURVEY §3.4.2):
    drop-folder stream → per-micro-batch R1→R15 pipeline (idempotency
    anti-joins, parse, validation, typed projection) → ``commit_batch``:
    keyed chapters, quarantine and control sinks, control last.
    Checkpointed offsets = R16 single-flight; the THIRD run (same
    checkpoint, no new files) processes nothing — exactly-once end to
    end. Wave 2 re-delivers one wave-1 ZIP under a
    NEW path (a fresh stream offset) — the R9 workflow ledger, refreshed
    from the control table per batch (r10 review), drops it BEFORE the
    parse (cheap-predicate-first, the reference's stance; the control
    sink's anti-join remains the backstop) — plus one keyed-but-corrupt
    ZIP that must land in the R15 quarantine sink, not vanish (r10
    review: res.quarantine was previously discarded in-stream).
    Returns the control table after two runs + a replay; the test drives
    _stream_ingest_run directly to inspect the chapters/quarantine/control
    dirs."""
    return _stream_ingest_run(spark, scratch("stream_ingest"))


def _stream_ingest_run(spark: SparkSession, stage: str) -> DataFrame:
    from bpspark.fixtures import default_dir
    from bpspark.pipeline import Ledgers, commit_batch, ingest_from_arrivals

    fx = default_dir()
    drop = f"{stage}/drop"
    os.makedirs(drop)
    control = f"{stage}/control"
    ckpt = f"{stage}/ckpt"
    # first wave: 5 ZIPs; second wave: 3 more + one RE-DELIVERED wave-1
    # ZIP in a subfolder (new offset, same ISBN → the refreshed workflow
    # ledger must drop it BEFORE the parse) + one CORRUPT ZIP (exercises
    # the R15 quarantine channel in-stream, r10 review — it was silently
    # discarded before)
    names = sorted(os.listdir(f"{fx}/drop"))[:8]
    for n in names[:5]:
        shutil.copy(f"{fx}/drop/{n}", f"{drop}/{n}")

    base_ledgers = Ledgers.load(spark, fx)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # run the R1→R14 graph over this micro-batch's arrivals only,
        # keyed by THE shared R2 rule (with_zip_keys). The workflow
        # ledger is REFRESHED from the control table per batch (r10
        # review): a cross-batch duplicate delivery is then dropped by
        # the cheap R9 anti-join BEFORE the ZIP parse — the reference's
        # cheap-predicate-first stance — instead of being fully parsed
        # and only discarded at the control sink.
        ledgers = base_ledgers.with_control(control)
        res = ingest_from_arrivals(spark, with_zip_keys(batch_df), ledgers)
        # chapters, quarantine (R15: rejected files get a durable record
        # too), then control — every write keyed, because foreachBatch is
        # at-least-once and a batch retry must not duplicate rows
        commit_batch(res, stage)

    def run_once() -> None:
        stream = (
            spark.readStream.format("binaryFile")
            .schema(BINFILE_SCHEMA)
            .option("pathGlobFilter", ZIP_GLOB)
            .option("recursiveFileLookup", "true")
            .load(drop)
        )
        drain(stream.writeStream.foreachBatch(process_batch), ckpt)

    run_once()
    for n in names[5:]:
        shutil.copy(f"{fx}/drop/{n}", f"{drop}/{n}")
    # re-deliver one wave-1 file at a new path: fresh offset, known ISBN —
    # the refreshed R9 ledger (control-table contents) must drop it
    # pre-parse; the control sink's anti-join remains the backstop
    os.makedirs(f"{drop}/redelivery")
    shutil.copy(f"{fx}/drop/{names[0]}", f"{drop}/redelivery/{names[0]}")
    # a keyed-but-corrupt arrival: must produce a QUARANTINE row (R15),
    # never a control row, and never abort the batch
    with open(f"{drop}/9780999999999.zip", "wb") as fh:
        fh.write(b"this is not a zip archive")
    run_once()
    run_once()  # replay with no new files — must be a no-op
    return spark.read.parquet(control).select("workflow_id", "isbn").orderBy("isbn")


@op("stream_drop_folder", sql=None)
def stream_drop_folder(spark: SparkSession, sf: str) -> DataFrame:
    """R1+R16 as Structured Streaming: the drop folder consumed with
    checkpointed exactly-once-per-file offsets. Production trigger is
    ProcessingTime("10 seconds") (the reference's cronExpression
    0/10 * * * * ?); AvailableNow here so the op terminates."""
    from bpspark.fixtures import default_dir

    fx = default_dir()
    arrivals = (
        spark.readStream.format("binaryFile")
        .schema(BINFILE_SCHEMA)
        .option("pathGlobFilter", ZIP_GLOB)
        .load(f"{fx}/drop")
        .transform(with_zip_keys)
        .select("isbn", "length", "modificationTime")
    )
    return run_to_memory(arrivals)


@op(
    "stream_interval_join",
    sql="""
    SELECT e1.event_id AS a_event_id, e2.event_id AS b_event_id, e1.user_id
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_id % 2 = 0
     AND e2.event_id % 2 = 1
     AND e2.ts >= e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition: for
    each even-id event, the odd-id events of the same user within the next
    5 minutes. Both sides carry a 1h watermark and the join condition bounds
    event time in both directions, so Spark's symmetric hash join can evict
    state — the form that holds up on an unbounded 100 TB/day stream.
    Replayed here via file source + AvailableNow; the complete replay makes
    the batch theta join the exact oracle."""
    stage = scratch("ssj")
    src = f"{stage}/src"
    table(spark, sf, "events").select("event_id", "ts", "user_id").write.parquet(src)
    schema = "event_id long, ts timestamp, user_id long"

    def side(parity: int, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_id") % 2 == parity)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user_id"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    left, right = side(0, "a"), side(1, "b")
    joined = left.join(
        right,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("a_event_id", "b_event_id", F.col("a_user_id").alias("user_id"))
    return run_to_memory(joined)


@op("stream_dedup_within_watermark", sql=None)
def stream_dedup_within_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """The bounded-state form of streaming dedup (Spark 3.5
    dropDuplicatesWithinWatermark): duplicate arrivals are suppressed only
    while their key is inside the watermark horizon, after which state is
    EVICTED — unlike plain dropDuplicates whose state grows with the
    all-time key count. At 100 TB/day of arrivals that difference is the
    whole game: state size is bounded by (rate × watermark), not by
    history. Same two-delivery fixture as stream_dedup_state; one row
    per ISBN survives."""
    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINFILE_SCHEMA)
        .option("pathGlobFilter", ZIP_GLOB)
        .option("maxFilesPerTrigger", 1)
        .load(_two_delivery_stage("dedup_wm"))
        .transform(with_zip_keys)
        .withWatermark("modificationTime", "1 hour")
        .dropDuplicatesWithinWatermark(["isbn"])
        .select("isbn", "length")
    )
    return run_to_memory(stream)


@op(
    "stream_mv_refresh",
    sql="""
    SELECT user_id, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_mv_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance — the
    foreachBatch twin of mv_incremental_refresh: the events stream is
    replayed in ≥4 micro-batches (maxFilesPerTrigger=1 over a 4-file
    stage), and each batch folds into the MV state by partial-aggregating
    ONLY that batch and full-outer-merging with the parquet state
    (copy-on-write version directories — the swap a table format turns
    into a metadata commit). Work per batch ∝ batch + |groups|; the
    stream is never re-scanned. Sums run in DECIMAL(18,2) (events.value
    is exact-2dp), so any batch split produces bit-identical state — the
    oracle is the plain batch aggregate over ALL events, proving
    stream-merge ≡ recompute. State versions double as the audit trail
    (tests assert ≥4 versions and version-monotone group counts)."""
    stage = scratch("smv")
    src = f"{stage}/src"
    (
        table(spark, sf, "events")
        .select("user_id", "event_type", F.col("value").cast("decimal(18,2)").alias("v"))
        .repartition(4)
        .write.parquet(src)
    )

    state: dict[str, str | None] = {"cur": None, "n": 0}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = batch_df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum(decimal(18,2)) widens to decimal(28,2); pin the state
            # schema so EVERY version directory carries the same type
            F.sum("v").cast("decimal(18,2)").alias("total_v"),
        )
        if state["cur"] is None:
            merged = part
        else:
            s, d = spark.read.parquet(state["cur"]).alias("s"), part.alias("d")
            merged = s.join(
                d,
                (F.col("s.user_id") == F.col("d.user_id"))
                & (F.col("s.event_type") == F.col("d.event_type")),
                "full",
            ).select(
                F.coalesce(F.col("s.user_id"), F.col("d.user_id")).alias("user_id"),
                F.coalesce(F.col("s.event_type"), F.col("d.event_type")).alias("event_type"),
                (
                    F.coalesce(F.col("s.n_events"), F.lit(0))
                    + F.coalesce(F.col("d.n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("s.total_v"), F.lit(0).cast("decimal(18,2)"))
                    + F.coalesce(F.col("d.total_v"), F.lit(0).cast("decimal(18,2)"))
                ).cast("decimal(18,2)")
                .alias("total_v"),
            )
        nxt = f"{stage}/state_v{state['n']}"
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"], state["n"] = nxt, state["n"] + 1

    stream = (
        spark.readStream.schema("user_id long, event_type string, v decimal(18,2)")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(merge_batch), f"{stage}/ckpt")
    if state["cur"] is None:
        # survives python -O (r11 review: bare asserts are stripped)
        raise RuntimeError("SCD merge stream produced no snapshot")
    return spark.read.parquet(state["cur"]).select(
        "user_id",
        "event_type",
        "n_events",
        F.col("total_v").cast("double").alias("total_value"),
    )


# NOTE: Spark 4's transformWithStateInPandas (successor of
# applyInPandasWithState) was evaluated and works API-wise, but its state
# server requires google.protobuf, which this container lacks — the
# StreamingPythonRunner crashes at init. Custom stateful streaming is
# covered by applyInPandasWithState (stream_stateful_counter) instead;
# migrate when the runtime ships protobuf.


def session_dynamic_gap_plan(events: DataFrame) -> DataFrame:
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@op(
    "stream_session_dynamic_gap",
    sql="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN INTERVAL '60 minutes' ELSE INTERVAL '15 minutes'
               END AS gap
        FROM events
    ), marks AS (
        SELECT user_id, ts, event_id, gap,
               CASE WHEN LAG(ts + gap) OVER w IS NULL
                         OR MAX(ts + gap) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                            <= ts
                    THEN 1 ELSE 0 END AS is_new
        FROM g
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM marks
    )
    SELECT user_id,
           date_trunc('microseconds', MIN(ts)) AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sess_id
    """,
)
def stream_session_dynamic_gap(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows whose gap is a PER-ROW expression (Spark's
    session_window accepts a column): purchases keep a session alive for
    60 min, everything else 15 min — the realistic engagement-dependent
    timeout no fixed-gap sessionizer expresses. Semantics: a session's
    end extends to max(event_ts + that event's gap); a new session
    starts when the running max close-time is ≤ the next event's ts.
    The oracle emulates exactly that with a running MAX(ts+gap) window.
    Same merging-state-store execution as stream_session_window — state
    per open session, watermark-evicted on a real stream."""
    return session_dynamic_gap_plan(table(spark, sf, "events"))


@op(
    "stream_outer_interval_join",
    sql="""
    SELECT e1.event_id AS a_event_id, e2.event_id AS b_event_id, e1.user_id
    FROM events e1
    LEFT JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.event_id % 2 = 1
     AND e2.user_id % 4 = 0
     AND e2.ts >= e1.ts
     AND e2.ts <= e1.ts + INTERVAL 5 MINUTE
    WHERE e1.event_id % 2 = 0
      AND e1.user_id % 4 = 0
    """,
)
def stream_outer_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hard streaming case:
    unmatched left rows can only be emitted with NULL right columns once
    the watermark PROVES no match can still arrive (state eviction), so
    null emission is driven by watermark advancement, not data. The
    replay harness appends a far-future sentinel pair (user_id -1) to the
    staged events; after the data batch the watermark jumps past every
    real event's join horizon and Spark's no-data micro-batch evicts all
    remaining left state, flushing the null-extended rows — making the
    memory-sink result COMPLETE and therefore equal to the batch LEFT
    JOIN oracle (the sentinel is filtered back out post-join). Scale:
    symmetric hash join state is bounded by rate × (watermark + interval)
    on both sides — the only outer-join form that survives an unbounded
    stream."""
    src = scratch("ssoj")
    # harness subsets to a quarter of the users: per-user join semantics are
    # unchanged (the interval join never crosses users) and the replay
    # costs 4x less state/probe work per micro-batch — the sweep runs this
    # op once per round, so its cost is pure verification overhead
    ev = (
        table(spark, sf, "events")
        .filter(F.col("user_id") % 4 == 0)
        .select("event_id", "ts", "user_id")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # Sentinel ids must pass BOTH parity filters or the un-advanced side
    # pins the GLOBAL watermark (min of the two sides) at max_real - 1h
    # and the last hour's unmatched left rows are never evicted. Spark's
    # % keeps the dividend sign (-1 % 2 == -1), so negative ids silently
    # miss the odd filter — use large positive ids clear of real ones.
    sentinel = spark.createDataFrame(
        [(10_000_000_000, max_ts, -1), (10_000_000_001, max_ts, -1)],
        "event_id long, ts timestamp, user_id long",
    ).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
        "user_id",
    )
    # sentinel parity: 10_000_000_000 even (left side), ..._001 odd (right).
    # Staged as ONE file on purpose: if the file source split the replay
    # across micro-batches, real events in later batches would arrive
    # behind the sentinel-advanced watermark and be dropped as late input
    # (observed: 7/5000 rows lost at sf0.01 with a multi-file stage).
    stage_waves(src, ev.unionByName(sentinel))
    schema = "event_id long, ts timestamp, user_id long"

    def side(parity: int, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_id") % 2 == parity)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("user_id").alias(f"{prefix}_user_id"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    left, right = side(0, "a"), side(1, "b")
    joined = left.join(
        right,
        (F.col("a_user_id") == F.col("b_user_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select("a_event_id", "b_event_id", F.col("a_user_id").alias("user_id"))
    return run_to_memory(joined).filter(F.col("user_id") != -1)


@op("stream_scd_join", sql=None)
def stream_scd_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream ⋈ SLOWLY-CHANGING dimension via per-batch dim refresh — the
    broadcast-state pattern: a plain stream-static join resolves the dim
    ONCE at plan time and never sees updates, so inside foreachBatch the
    dim is RE-READ (and re-broadcast) at every micro-batch, giving each
    batch the dim version current at its processing time. The harness
    stages events as two files processed as two batches
    (maxFilesPerTrigger=1, mod-time ordered); the foreachBatch body joins
    the current dim, sinks the tagged rows, then APPLIES the pending dim
    update — so wave-1 rows must carry v1 labels and wave-2 rows v2
    (pinned by tests/test_streaming.py). Rows-only: output depends on
    batch boundaries by design. Scale: the dim re-read is one small
    broadcast per micro-batch; facts never shuffle."""
    stage = scratch("scdj")
    src, out, dim_cur = f"{stage}/src", f"{stage}/out", f"{stage}/dim_current"
    ev = table(spark, sf, "events").select("event_id", "ts", "user_id", "event_type")
    cutoff = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    stage_waves(src, ev.filter(F.col("event_id") <= cutoff), ev.filter(F.col("event_id") > cutoff))

    types = ev.select("event_type").distinct()

    def write_dim(version: str) -> None:
        types.select(
            "event_type", F.concat(F.lit(version + "_"), F.col("event_type")).alias("dim_label")
        ).write.mode("overwrite").parquet(dim_cur)

    write_dim("v1")

    def handle(batch: DataFrame, bid: int) -> None:
        d = spark.read.parquet(dim_cur)
        (
            batch.join(F.broadcast(d), "event_type")
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .parquet(out)
        )
        write_dim("v2")  # the dim update lands between batches

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(handle), f"{stage}/ckpt")
    return spark.read.parquet(out).select(
        "event_id", "event_type", "dim_label", "batch_id"
    )


@op(
    "stream_state_introspection",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS sum_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_state_introspection(spark: SparkSession, sf: str) -> DataFrame:
    """Operational state-store introspection (Spark 4 ``statestore`` /
    ``state-metadata`` readers): run a stateful streaming aggregation to
    completion, then read its CHECKPOINTED STATE back as a DataFrame and
    return the flattened per-key state rows. The oracle is the batch
    aggregate of the same input — for a complete replay, the state IS
    the aggregate, so this proves checkpoint state is externally
    auditable and byte-faithful (the debugging/repair workflow for a
    production stateful job: inspect hot keys, verify totals, locate a
    poisoned group WITHOUT touching the running query).

    The state-metadata probe is asserted inside the op (operator name +
    partition count); integer measures (count, sum of bigint) keep the
    state values engine-exact. Scale: the statestore reader is one task
    per state partition — reading 100 TB of job state parallelizes like
    any other scan, and the read is against the checkpoint, never the
    live store."""
    src = scratch("ssintro_src")
    stage_waves(src, table(spark, sf, "events").select("event_type", "user_id"))
    ckpt = scratch("ssintro_ckpt")
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .parquet(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("s"))
    )
    # the state store under ``ckpt`` is the output; the sink is discarded
    drain(stream.writeStream.format("noop").outputMode("complete"), ckpt)
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    if not meta or meta[0]["operatorName"] != "stateStoreSave":
        # survives python -O (r11 review: bare asserts are stripped)
        raise RuntimeError(f"unexpected state-store metadata: {meta}")
    return (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").alias("sum_users"),
        )
        .orderBy("event_type")
    )


@op(
    "stream_chained_stateful",
    sql="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n_events
    FROM events
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def stream_chained_stateful(spark: SparkSession, sf: str) -> DataFrame:
    """TWO stateful operators chained in one streaming query —
    watermarked dedup feeding a tumbling event-time aggregate. Chaining
    stateful operators is the capability production pipelines need for
    "dedup at the edge, aggregate downstream" in ONE checkpointed query
    (historically Spark required two queries with an intermediate sink);
    each operator keeps its own state store and the watermark drives
    both evictions.

    Harness: the staged input is the events table DOUBLED (every row
    twice — at-least-once delivery), plus a far-future sentinel that
    advances the watermark past every real event so append mode flushes
    ALL real windows (same sentinel discipline as
    stream_outer_interval_join). The dedup stage must collapse the
    duplicates exactly, so the oracle is simply the hourly count over
    the ORIGINAL events — any dedup leak or window loss breaks the
    hash. Scale: dedup state ∝ rate × watermark (keys expire), window
    state ∝ open windows; both shuffle on their own keys."""
    ev = table(spark, sf, "events").select("event_id", "ts", "user_id")
    src = scratch("chain_src")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(10_000_000_000, max_ts, -1)],
        "event_id long, ts timestamp, user_id long",
    ).select("event_id", (F.col("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"), "user_id")
    # one file so no real event arrives behind the sentinel-advanced watermark
    stage_waves(src, ev.unionByName(ev).unionByName(sentinel))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .filter(F.col("user_id") != -1)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_to_memory(stream).orderBy("window_start")


@op(
    "stream_session_timeout",
    sql="""
    WITH ev AS (
        SELECT user_id, ts, event_id FROM events WHERE user_id % 5 = 0
    ),
    gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM gaps
    )
    SELECT user_id, epoch_us(MIN(ts)) AS session_start_us, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sess_id
    ORDER BY user_id, session_start_us
    """,
)
def stream_session_timeout(spark: SparkSession, sf: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMERS: an
    ``applyInPandasWithState`` operator that keeps each user's open
    session in state and registers a timeout at session_end + 30 min —
    when the WATERMARK crosses it, Spark calls the function with
    ``state.hasTimedOut`` and the session is emitted and its state
    removed. This is the timer capability (Flink's registerEventTimeTimer
    equivalent) that native session_window can't express when the
    close-action is custom (emit, alert, write-back); state is evicted
    by time, so it is bounded by ACTIVE sessions, not history.

    Replay harness: a fifth of the users, staged as one file,
    plus a far-future sentinel (user -1, filtered from the output) whose
    watermark advance fires every pending timer in the trailing no-data
    micro-batch — making the memory-sink result complete and equal to
    the batch gap-sessionization oracle. Session starts are emitted as
    epoch MICROSECONDS (integers) so no timezone convention can touch
    the comparison."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = (
        table(spark, sf, "events")
        .filter(F.col("user_id") % 5 == 0)
        .select("user_id", "ts", "event_id")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts, 10_000_000_000)], "user_id long, ts timestamp, event_id long"
    ).select("user_id", (F.col("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"), "event_id")
    src = scratch("sesst")
    stage_waves(src, ev.unionByName(sentinel))

    GAP_US = 30 * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "session_start_us": [start_us], "n_events": [n]}
            )
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out = []
        cur = state.get if state.exists else None  # (start_us, end_us, n)
        for ts in rows["ts"]:
            t_us = ts.value // 1000
            if cur is None:
                cur = (t_us, t_us, 1)
            elif t_us - cur[1] >= GAP_US:
                out.append(cur)
                cur = (t_us, t_us, 1)
            else:
                cur = (cur[0], t_us, cur[2] + 1)
        state.update(cur)
        # fire when the watermark passes session_end + gap (event-time timer)
        state.setTimeoutTimestamp((cur[1] + GAP_US) // 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start_us": [s for s, _, _ in out],
                    "n_events": [n for _, _, n in out],
                }
            )

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType="user_id long, session_start_us long, n_events long",
            stateStructType="start_us long, end_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        run_to_memory(stream)
        .filter(F.col("user_id") != -1)
        .orderBy("user_id", "session_start_us")
    )


from bpspark.llm_ops import _jaccard_pairs_sql as _jac_sql


def _stream_minhash_oracle() -> str:
    """Oracle for stream_minhash_dedup (upgraded r7): the streamed
    decisions replayed as a 3-step novelty recursion over brute-force
    shingle-Jaccard — wave 0 is all novel (empty index), a later doc is
    duplicate iff it clears jaccard >= 0.5 against some doc that was
    NOVEL in a STRICTLY EARLIER wave (the index grows by novel docs
    only; in-batch pairs are the batch LSH op's job). Honest because the
    band-index probe at >= _INC_MIN_BANDS collisions measures as exactly
    the jaccard >= 0.5 relation on this corpus (r7 probe: streamed ==
    recursion at sf0.001/0.01/0.1, zero single-band collisions, min
    matched jaccard 0.889) — the streamed ≡ recompute pattern of
    stream_er_resolve/stream_watermark_late, with the measured-LSH
    equivalence of dedup_near_minhash supplying the jaccard ground
    truth. Wave membership is a pure function of doc_id (file mtimes
    pin arrival order), so batch_id is derivable in SQL."""
    return f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, text || ' perturbed' AS text
      FROM documents WHERE doc_id < 10 OR (doc_id >= 200 AND doc_id < 210)
    ),{_jac_sql("docs")},
    adj AS (
      SELECT doc_a AS a, doc_b AS b FROM jac WHERE jaccard >= 0.5
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM jac WHERE jaccard >= 0.5
    ),
    wv AS (
      SELECT doc_id,
             CASE WHEN doc_id >= 5000000 THEN
                    CASE WHEN doc_id < 5000200 THEN 1 ELSE 2 END
                  WHEN doc_id < 200 THEN 0
                  WHEN doc_id < 400 THEN 1
                  ELSE 2 END AS wave
      FROM docs
    ),
    n0 AS (SELECT doc_id FROM wv WHERE wave = 0),
    d1 AS (
      SELECT DISTINCT w.doc_id FROM wv w
      JOIN adj ON adj.a = w.doc_id
      JOIN n0 ON n0.doc_id = adj.b
      WHERE w.wave = 1
    ),
    n1 AS (
      SELECT doc_id FROM wv
      WHERE wave = 1 AND doc_id NOT IN (SELECT doc_id FROM d1)
    ),
    d2 AS (
      SELECT DISTINCT w.doc_id FROM wv w
      JOIN adj ON adj.a = w.doc_id
      WHERE w.wave = 2
        AND adj.b IN (SELECT doc_id FROM n0 UNION ALL SELECT doc_id FROM n1)
    )
    SELECT w.doc_id,
           CAST(w.wave AS BIGINT) AS batch_id,
           (w.doc_id NOT IN (SELECT doc_id FROM d1
                             UNION ALL SELECT doc_id FROM d2)) AS is_novel
    FROM wv w
    ORDER BY w.doc_id
    """


@op("stream_minhash_dedup", sql=_stream_minhash_oracle())
def stream_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING near-dup dedup — dedup_incremental_minhash run as a
    checkpointed streaming query: document waves arrive through the file
    source (maxFilesPerTrigger=1 → one micro-batch per wave, mod-time
    ordered), and each foreachBatch probes the MinHash-LSH band index
    built by all PRIOR waves, emits per-doc novel/duplicate decisions,
    and appends the novel docs' band rows to the index — the streaming
    front door of a training-data pipeline, where near-dup screening
    must happen at ingest, not in a nightly corpus-wide job.

    Waves: docs 0-199, then 200-399 + perturbed twins of wave-1 docs,
    then 400-499 + perturbed twins of wave-2 docs. Twins (ids +5M) must
    be flagged duplicate against the index state their originals wrote
    in an EARLIER micro-batch; the test also pins that every original
    was novel when it arrived.

    100 TB shape: identical to the batch incremental op (index is
    signatures only, probe is a co-partitionable (band,bucket)
    equi-join) with streaming semantics on top — checkpointed file
    offsets give exactly-once per wave, and the index append is the
    idempotent-by-batch-id pattern every foreachBatch sink needs.
    In-batch (same-wave) near-dups are the batch LSH op's job
    (minhash_candidate_pairs) before the index append; this op verifies
    the cross-batch state path."""
    from bpspark.llm_ops import _band_index_probe, _minhash_bands

    d = table(spark, sf, "documents").select("doc_id", "text")
    stage = scratch("smhd")
    src = f"{stage}/src"
    idx = f"{stage}/index"
    out = f"{stage}/decisions"
    ckpt = f"{stage}/ckpt"

    def twins(lo: int, n: int = 10) -> DataFrame:
        """Near-duplicate twins of docs [lo, lo+n): shifted ids + one
        appended word (within MinHash tolerance of the originals)."""
        return (
            d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + n))
            .select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
            )
        )

    stage_waves(
        src,
        d.filter(F.col("doc_id") < 200),
        d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400)).unionByName(twins(0)),
        d.filter(F.col("doc_id") >= 400).unionByName(twins(200)),
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # IDEMPOTENT BY BATCH ID: both sinks write to a batch={id}
        # subdirectory with mode=overwrite, so a replayed micro-batch
        # (foreachBatch's at-least-once contract after a failure)
        # overwrites its own output instead of appending duplicates —
        # duplicate index band rows would inflate n_bands and could flip
        # borderline decisions on replay.
        s = batch_df.sparkSession
        bands = materialize(_minhash_bands(batch_df).select("doc_id", "band", "bucket"))
        # index = all PRIOR batches' committed subdirs (never this
        # batch's own, even on replay)
        prior = [
            d for d in glob.glob(f"{idx}/batch=*")
            if int(d.rsplit("=", 1)[1]) < batch_id
        ]
        if prior:
            index = s.read.parquet(*prior).select(
                F.col("doc_id").alias("index_doc"), "band", "bucket"
            )
            hits = _band_index_probe(bands, index).select("doc_id", "n_matches")
        else:
            hits = s.createDataFrame([], "doc_id long, n_matches long")
        # emitted decisions carry only hash-independent columns (the
        # novel/duplicate verdict); the band-collision strength stays
        # internal — its VALUE depends on Spark's private xxhash64 and
        # could never be certified cross-engine (re-grounded r7)
        decisions = (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col("n_matches").isNull().alias("is_novel"),
            )
        )
        decisions.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        # index grows by the NOVEL docs' signatures only
        bands.join(
            decisions.filter("is_novel").select("doc_id"), "doc_id", "left_semi"
        ).write.mode("overwrite").parquet(f"{idx}/batch={batch_id}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(process), ckpt)
    # read the committed batch subdirs explicitly (batch_id is already a
    # data column; listing leaves avoids partition-discovery adding a
    # second one)
    return spark.read.parquet(*sorted(glob.glob(f"{out}/batch=*"))).orderBy("doc_id")


def _ivf_stream_quantizer(e_train: DataFrame):
    """Frozen quantizer for the streaming IVF index: trained ONCE on the
    pre-stream corpus slice and never updated by the stream. Shared by the
    op and its batch-equivalence test so both sides provably assign
    against the identical centroid literal."""
    from bpspark.llm_ops import _ivf_centroid_literal

    return _ivf_centroid_literal(e_train)


def _ivf_postings(spark: SparkSession, path: str) -> DataFrame:
    """The (vec_id, cluster_id) postings under ``path`` — per batch
    (batch={i}/cluster_id={c}, ``batch`` then reads as a column too) or
    compacted (cluster_id={c}). The explicit schema reads an empty
    corpus's index, partition dirs with no data file, as 0 rows instead
    of failing schema inference."""
    return spark.read.schema("vec_id long, cluster_id int").parquet(path)


def _ivf_index_cell_summary(assigned: DataFrame) -> DataFrame:
    """Per-cell scalar summary of an IVF postings table — (cluster_id,
    n_vecs, vec_hash) with vec_hash a sha2 over the canonically sorted
    member ids. Scalars only (driver canonicalizer contract); identical
    input rows ⇒ identical frame, which is what the streamed≡batch test
    compares."""
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sha2(
                F.concat_ws(
                    ",",
                    F.array_sort(F.collect_list(F.col("vec_id").cast("string"))),
                ),
                256,
            ).alias("vec_hash"),
        )
        .orderBy("cluster_id")
    )


def _stream_ivf_index_build(spark: SparkSession, sf: str, stage: str):
    """Core of stream_ivf_index_append, staged under ``stage`` so tests can
    inspect the on-disk layout. Returns (summary_df, cent_lit, index_dir).

    Wave split is vec_id % 3 (deterministic, no density assumption); the
    quantizer trains on wave-0 only and is FROZEN before the stream
    starts — batches 1-2 are assigned against centroids their vectors
    never influenced, which is the production contract under test."""
    from bpspark.llm_ops import _assign_home, _with_norm

    e = _with_norm(table(spark, sf, "embeddings")).select("vec_id", "embedding", "norm")
    src, idx, ckpt = f"{stage}/src", f"{stage}/index", f"{stage}/ckpt"
    waves = [e.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
    cent_lit, _k = _ivf_stream_quantizer(waves[0])
    stage_waves(src, *waves)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Map-side assignment against the frozen broadcast-literal
        # quantizer — no shuffle except the cell-partitioned write; the
        # batch={id} subdir + overwrite makes a replayed micro-batch
        # rewrite its own postings instead of appending duplicates
        # (same idempotency pattern as stream_minhash_dedup).
        _assign_home(batch_df, cent_lit).select(
            "vec_id", F.col("home_cent").alias("cluster_id")
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(
            f"{idx}/batch={batch_id}"
        )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, norm double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(process), ckpt)
    return _ivf_index_cell_summary(_ivf_postings(spark, idx)), cent_lit, idx


@op("stream_ivf_index_append", sql=None)
def stream_ivf_index_append(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ANN index maintenance — the similarity-family analog of
    stream_minhash_dedup, completing the batch / incremental / streaming
    matrix for the IVF stack (sim_cosine_ivf builds per call,
    sim_ivf_index_persist builds once and persists, sim_incremental_topk
    maintains query results incrementally; THIS op maintains the index
    itself online): embedding waves arrive through the checkpointed file
    source (maxFilesPerTrigger=1, mod-time ordered), and each foreachBatch
    assigns the batch's vectors to their home cells ENTIRELY MAP-SIDE
    against a FROZEN quantizer, then appends cell-partitioned postings
    idempotently by batch id.

    The quantizer is trained once on the pre-stream slice (wave 0) and
    frozen — the standard IVF operating mode (FAISS `add` vs `train`):
    index APPEND is online and cheap, quantizer (re)training is an
    offline job, because moving cell boundaries would force re-bucketing
    every existing posting. Output: per-cell (cluster_id, n_vecs,
    vec_hash) summary of the drained index — deterministic scalars.

    Tests pin (a) streamed index ≡ one-shot batch assignment of the same
    corpus under the same frozen quantizer (row-identical summaries —
    the strongest equivalence this family admits), (b) the on-disk
    layout is cell-partitioned per batch (appends touch only the cells
    present in the batch), (c) in-process re-run reproduces identical
    output (driver may sweep twice).

    100 TB shape: per-micro-batch cost is batch_rows × k × d map-only
    flops plus a partition-targeted write of batch_rows postings — no
    corpus-wide work ever happens on the hot path (the one full pass
    happened offline at quantizer training); queries partition-prune
    exactly as sim_ivf_index_persist, reading nprobe/k of the postings.
    Checkpointed file offsets give exactly-once per wave."""
    stage = scratch("sivf")
    summary, _cent, _idx = _stream_ivf_index_build(spark, sf, stage)
    return summary


def _ivf_batched_index_build(spark: SparkSession, sf: str, stage: str) -> str:
    """The per-batch index layout stream_ivf_index_append produces —
    batch={i}/cluster_id={c} postings under one root — built with plain
    batch writes (same vec_id % 3 wave split, same wave-0-frozen
    quantizer, same map-side assignment; the streaming harness adds
    nothing to the LAYOUT, and streamed ≡ batch assignment is already
    row-identical by stream_ivf_index_append's own tests). Returns the
    index root."""
    from bpspark.llm_ops import _assign_home, _with_norm

    e = _with_norm(table(spark, sf, "embeddings")).select("vec_id", "embedding", "norm")
    idx = f"{stage}/index"
    waves = [e.filter(F.pmod("vec_id", F.lit(3)) == i) for i in range(3)]
    cent_lit, _k = _ivf_stream_quantizer(waves[0])
    for i, w in enumerate(waves):
        _assign_home(w, cent_lit).select(
            "vec_id", F.col("home_cent").alias("cluster_id")
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(f"{idx}/batch={i}")
    return idx


def _ivf_compact_index(spark: SparkSession, idx: str, compacted: str) -> None:
    """Consolidate a per-batch IVF postings index (batch={i}/cluster_id=…)
    into ONE file per cell. Pure layout work — postings rows are moved,
    never recomputed: one hash repartition on cluster_id routes every
    cell's rows (across all batches) to exactly one task, and the
    partitionBy write then emits exactly one file per cell. Queries see
    identical postings through nprobe cell-pruned reads, but open
    O(cells) files instead of O(batches × cells) — the streaming append's
    small-files debt, paid down offline (FAISS merge / Lucene compaction
    for the ANN index)."""
    (
        _ivf_postings(spark, idx)
        .select("vec_id", "cluster_id")
        .repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(compacted)
    )


_SBM25_QUERY_TERMS = ("table", "row", "group")


def _stream_bm25_segments_build(spark: SparkSession, sf: str, stage: str) -> list[str]:
    """Core of stream_bm25_index_append, staged under ``stage`` so tests
    can inspect the flushed-segment layout. Three document waves
    (doc_id % 3, mtime-ordered) drain through the checkpointed file
    source; each foreachBatch flushes one immutable segment
    (seg={batch_id}, idempotent overwrite on replay). Returns the sorted
    segment dirs."""
    from bpspark.search import _bm25_build_segment

    src, idx, ckpt = f"{stage}/src", f"{stage}/index", f"{stage}/ckpt"
    d = table(spark, sf, "documents").select("doc_id", "text")
    stage_waves(src, *(d.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _bm25_build_segment(batch_df, f"{idx}/seg={batch_id}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(process), ckpt)
    return sorted(glob.glob(f"{idx}/seg=*"))


@op("stream_bm25_index_append", sql=_search_mod_bm25_oracle(_SBM25_QUERY_TERMS))
def stream_bm25_index_append(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING lexical index maintenance — Lucene's NRT flush model as
    a structured-streaming query, completing the text-retrieval matrix
    (text_bm25_rank one-shot / search_bm25_incremental append /
    search_bm25_segment_merge compact / THIS streaming) exactly as
    stream_ivf_index_append completed the similarity family's: document
    waves arrive through the checkpointed file source (mtime-ordered,
    maxFilesPerTrigger=1) and each foreachBatch FLUSHES the micro-batch
    as one immutable index segment (seg={batch_id} — reusing
    search.py's `_bm25_build_segment` verbatim, so a streamed segment is
    bit-compatible with a batch-built one); the query then merges all
    flushed segments through the shared `_bm25_query_segments` read path.

    ORACLE-BACKED STREAMING (rare — most streaming ops are rows-only by
    nature): because per-segment statistics are integer partials, the
    streamed segments' merged scores equal a whole-corpus rebuild
    EXACTLY, so the DuckDB oracle is full-corpus BM25 — streamed ≡
    rebuilt, hash-proven every sweep.

    Idempotency: a replayed micro-batch rewrites its own seg={id} dir
    (per-table overwrite inside `_bm25_build_segment`) instead of
    appending duplicates — the same batch-id pattern as
    stream_ivf_index_append; checkpointed file offsets give exactly-once
    per wave.

    100 TB shape: per-micro-batch cost ∝ batch tokens (the segment
    build's two map-side aggregates + term-sorted write) — earlier
    segments are never re-read, let alone re-tokenized; segment count
    grows 1/micro-batch until search_bm25_segment_merge compacts, which
    is exactly Lucene's flush-then-merge tiering; query cost ∝ probed
    terms' postings across live segments."""
    from bpspark.search import _bm25_query_segments

    stage = scratch("sbm25")
    segs = _stream_bm25_segments_build(spark, sf, stage)
    return _bm25_query_segments(spark, segs, list(_SBM25_QUERY_TERMS))


@op("sim_ivf_index_retrain", sql=None)
def sim_ivf_index_retrain(spark: SparkSession, sf: str) -> DataFrame:
    """IVF quantizer RETRAIN + re-bucket — the offline job
    stream_ivf_index_append's contract defers to ("quantizer
    (re)training is an offline job, because moving cell boundaries would
    force re-bucketing every existing posting" — this op IS that
    re-bucketing), completing the ANN index lifecycle: train (wave 0) →
    append (streaming) → compact → RETRAIN (full corpus).

    Shape: the appended index is built under the wave-0 frozen
    quantizer; a NEW quantizer is trained on the FULL corpus; every
    existing posting is re-bucketed by joining posting ids back to their
    vectors (the index stores ids only — 8-16 B/vector — so re-bucketing
    is the one operation that must touch embeddings again, which is
    exactly why it is offline) and map-assigning against the new
    centroid literal, then cell-partitioned rewritten.

    Output: 2 rows — ('after'|'before', n_cells, n_vecs, max_cell,
    imbalance = max/avg cell size) — the capacity-planning numbers a
    retrain decision reads. The conservation invariant (n_vecs identical
    before/after, every id exactly once) is what the tests pin;
    deterministic scalars only (rows-only driver check by design — cell
    geometry depends on the engine quantizer).

    100 TB shape: one equi-join of posting ids against the embeddings
    table (co-partition both by vec_id in production for a shuffle-free
    probe), map-side assignment O(n·k·d), one cell-partitioned write —
    a full-corpus pass by design, scheduled like quantizer training
    itself; the online append path never pays it."""
    from bpspark.llm_ops import _assign_home, _with_norm

    stage = scratch("sivfr")
    idx = _ivf_batched_index_build(spark, sf, stage)
    e = _with_norm(table(spark, sf, "embeddings")).select("vec_id", "embedding", "norm")
    new_cent, _k = _ivf_stream_quantizer(e)
    old = _ivf_postings(spark, idx).select("vec_id", "cluster_id")
    rebucketed = _assign_home(old.select("vec_id").join(e, "vec_id"), new_cent).select(
        "vec_id", F.col("home_cent").alias("cluster_id")
    )
    new_idx = f"{stage}/retrained"
    (
        rebucketed.repartition("cluster_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(new_idx)
    )

    def balance(postings: DataFrame, phase: str) -> DataFrame:
        per = postings.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_vecs"),
            F.max("n").alias("max_cell"),
            F.round(F.max("n") / F.avg("n"), 6).alias("imbalance"),
        ).select(F.lit(phase).alias("phase"), "*").filter(
            F.col("n_cells") > 0  # an index with no cells has no balance row
        )

    return (
        balance(old, "before")
        .unionAll(balance(_ivf_postings(spark, new_idx), "after"))
        .orderBy("phase")
    )


@op("sim_ivf_index_compact", sql=None)
def sim_ivf_index_compact(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index COMPACTION — closes the index lifecycle that
    stream_ivf_index_append opens (append writes per-batch cell files;
    compaction consolidates them, exactly as search_bm25_segment_merge
    does for the lexical index): the per-batch postings layout is built
    under the frozen wave-0 quantizer, then compacted to ONE file per
    cell (_ivf_compact_index), and the op emits the compacted index's
    per-cell summary with the observed file fan-out.

    Output: (cluster_id, n_vecs, n_files, vec_hash) — n_files counted
    distributively via input_file_name() and equal to 1 for every cell
    after compaction; n_vecs/vec_hash are the same canonical member
    summary stream_ivf_index_append emits, so compaction provably moved
    rows without dropping, duplicating, or reassigning any posting
    (tests compare the summaries row-identically; rows-only driver check
    by design — the cell assignment depends on the engine quantizer).

    100 TB shape: compaction cost is one shuffle of the postings rows
    being compacted (8-16 B/vector — ids only, never embeddings),
    embarrassingly partition-parallel by cell; it runs offline like
    quantizer training and is idempotent (overwrite into a versioned
    target). The query-side win is file-metadata pressure: nprobe
    cell-pruned reads open O(cells) files instead of
    O(batches × cells) — after a day of 1-minute micro-batches that is
    1440× fewer footer reads for identical bytes of postings."""
    stage = scratch("sivfc")
    idx = _ivf_batched_index_build(spark, sf, stage)
    compacted = f"{stage}/compacted"
    _ivf_compact_index(spark, idx, compacted)
    comp = _ivf_postings(spark, compacted)
    n_files = (
        comp.select("cluster_id", F.input_file_name().alias("_f"))
        .groupBy("cluster_id")
        .agg(F.count_distinct("_f").alias("n_files"))
    )
    return (
        _ivf_index_cell_summary(comp)
        .join(n_files, "cluster_id")
        .select("cluster_id", "n_vecs", "n_files", "vec_hash")
        .orderBy("cluster_id")
    )


@op(
    "stream_drift_monitor",
    sql="""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bucket,
             COUNT(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-16') AS n_ref,
             COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS n_cur
      FROM events GROUP BY 1
    ), tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM b)
    SELECT bucket, n_ref, n_cur,
           CASE WHEN n_ref > 0 THEN ROUND(
             (n_cur - n_ref * (t_cur / CAST(t_ref AS DOUBLE)))
             * (n_cur - n_ref * (t_cur / CAST(t_ref AS DOUBLE)))
             / (n_ref * (t_cur / CAST(t_ref AS DOUBLE))), 6
           ) END AS chi2_contrib
    FROM b, tot
    ORDER BY bucket
    """,
)
def stream_drift_monitor(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING data-drift monitor — profile_distribution_drift's
    production form: the reference histogram is frozen from the batch
    table (the first 15 days), while the CURRENT window's histogram
    accumulates as a streaming aggregation over the event stream
    (value buckets, complete-mode groupBy — the state is |buckets|
    rows, constant forever). After the replay the two histograms join
    full-outer on bucket and the per-bucket chi-square contribution
    against the expected-under-reference-mix count comes out exactly as
    in the batch op.

    ORACLE-BACKED STREAMING: bucket counts are integer-additive across
    micro-batches, so the streamed histogram equals the batch histogram
    EXACTLY and the DuckDB oracle is the whole-table chi-square — the
    same streamed ≡ recompute certification as stream_bm25_index_append.
    Integer counts + one rounded float per bucket keep the row set
    hash-exact.

    At 100 TB/day this is the nightly gate that never rescans: the
    reference histogram is a |buckets|-row literal loaded from the
    monitoring store, each micro-batch folds into |buckets| rows of
    state map-side, and alerting reads Σ chi2_contrib off a 10-row
    frame. Swap the memory sink for the metrics table and the plan is
    unchanged (AvailableNow here so the op terminates)."""
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    # F.floor, not cast("int"): the cast truncates toward zero while the
    # oracle's FLOOR rounds toward -inf — they fork for negative values
    # (ADVICE r4; events.value is non-negative today, but don't rely on it).
    bucket = F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)).alias("bucket")

    from bpspark.io import table as _table

    ref = (
        _table(spark, sf, "events")
        .filter(F.col("ts") < cut)
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    cur_stream = (
        events_stream(spark, sf)
        .filter(F.col("ts") >= cut)
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    cur = run_to_memory(cur_stream, output_mode="complete")
    b = (
        ref.join(cur, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = b.agg(F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur"))
    expected = F.col("n_ref") * (F.col("t_cur") / F.col("t_ref").cast("double"))
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_ref",
            "n_cur",
            F.when(
                F.col("n_ref") > 0,
                F.round(
                    (F.col("n_cur") - expected) * (F.col("n_cur") - expected) / expected,
                    6,
                ),
            ).alias("chi2_contrib"),
        )
        .orderBy("bucket")
    )


from bpspark.analytics import _HH_ORACLE_SQL as _HH_ORACLE_REF


@op("stream_heavy_hitters", sql=_HH_ORACLE_REF)
def stream_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING heavy hitters — agg_heavy_hitters_mg's production
    form, on the segment model every other streaming index op here
    uses: each micro-batch (three mtime-pinned document waves through a
    checkpointed file source) flushes (a) its per-batch EXACT (term,
    cnt) partial-count segment, term-sorted so the final probe can
    row-group-skip, and (b) its Misra-Gries candidate set (the bounded
    summary — the thing that lets the final query prune to candidate
    terms instead of the full vocabulary). The final answer sums
    integer partials for the candidate union and keeps 50·cnt > n — and
    because per-batch MG candidates are a guaranteed superset of
    global heavy hitters (the batch averaging argument applies to
    micro-batches exactly as to partitions), streamed ≡ whole-corpus
    recompute EXACTLY: ORACLE-BACKED STREAMING, the
    stream_bm25_index_append certification pattern.

    Replayed batches rewrite their own seg={id}/cand={id} dirs —
    idempotent by batch id. 100 TB shape: per-micro-batch cost ∝ batch
    tokens (one vocab-bounded aggregate + one bounded MG map pass);
    the nightly heavy-hitter report reads candidate postings across
    segments, never the token stream; segment compaction is plain
    count addition (search_bm25_segment_merge's contract)."""
    from bpspark.analytics import _HH_K, _mg_partition

    import bpspark

    bpspark.ensure_worker_imports(spark)
    stage = scratch("shh")
    src, idx, ckpt = f"{stage}/src", f"{stage}/index", f"{stage}/ckpt"
    d = table(spark, sf, "documents").select("doc_id", "text")
    stage_waves(src, *(d.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tok = batch_df.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        (
            tok.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .repartitionByRange(1, "tok")
            .sortWithinPartitions("tok")
            .write.mode("overwrite")
            .parquet(f"{idx}/seg={batch_id}")
        )
        tok.mapInPandas(_mg_partition, "term string").distinct().write.mode(
            "overwrite"
        ).parquet(f"{idx}/cand={batch_id}")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(process), ckpt)
    segs = spark.read.parquet(*sorted(glob.glob(f"{idx}/seg=*")))
    cands = spark.read.parquet(*sorted(glob.glob(f"{idx}/cand=*"))).distinct()
    n = segs.agg(F.sum("cnt").alias("c"))
    out = (
        segs.join(F.broadcast(cands), segs.tok == cands.term, "left_semi")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(_HH_K * F.col("cnt") > F.col("c"))
        .select(F.col("tok").alias("term"), "cnt")
        .orderBy(F.col("cnt").desc(), "term")
    )
    return out


from bpspark.llm_ops import _ER_FULL_RECOMPUTE_SQL as _ER_ORACLE
from bpspark.llm_ops import (
    _er_candidate_pairs,
    _er_entity_output,
    _er_variant_corpus,
    _min_label_cc,
)


@op("stream_er_resolve", sql=_ER_ORACLE)
def stream_er_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING entity resolution — the ER family's third form (batch
    er_resolve_entities / incremental er_incremental_resolve / THIS):
    three record waves (the base suppliers, then the 'x' variants, then
    the 'yz' variants) drain through a checkpointed file source, and
    each micro-batch resolves against a VERSIONED on-disk registry:
    pair generation only in the blocks the batch touches, the previous
    registry version contributing its member→cluster closure edges,
    min-label CC over the union, and the merged labels written as
    registry version v{batch_id} — computed FROM v{batch_id-1}, so a
    replayed batch rewrites its own version from its own input state:
    idempotent by construction, the versioned twist on the
    idempotent-by-batch-id sink pattern.

    ORACLE-BACKED STREAMING: the closure-edge equivalence
    (er_incremental_resolve's proof) applies INDUCTIVELY across
    batches, so the final registry equals the full recompute over all
    records exactly — the oracle is the batch op's SQL, hash-proving
    streamed ≡ recompute every sweep, merges included (wave 3 bridges
    the entities wave 2 created). Per-batch cost at 100 TB: touched
    blocks only; the registry is (id, attrs, cluster) rows — read one
    version, write one version, never re-pair history."""
    stage = scratch("ser")
    src, reg, ckpt = f"{stage}/src", f"{stage}/reg", f"{stage}/ckpt"

    s = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nat"),
        F.col("s_acctbal").alias("bal"),
    )
    base_with_v1, v2 = _er_variant_corpus(s)
    stage_waves(src, s, base_with_v1.filter(F.col("id") >= 1_000_000), v2)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        prev = f"{reg}/v{batch_id - 1}"
        batch = batch_df.select("id", "name", "nat", "bal")
        if os.path.isdir(prev):
            registry = spark.read.parquet(prev)
            touched = batch.select("nat", "bal").distinct()
            in_scope = (
                registry.select("id", "name", "nat", "bal")
                .join(F.broadcast(touched), ["nat", "bal"], "left_semi")
                .unionByName(batch)
            )
            new_pairs = _er_candidate_pairs(in_scope)
            closure = registry.select(
                F.col("id").alias("src"), F.col("cluster_id").alias("dst")
            )
            all_recs = registry.select("id", "name", "nat", "bal").unionByName(batch)
            labels = _min_label_cc(
                all_recs.select("id"), closure.unionByName(new_pairs)
            )
        else:
            all_recs = batch
            labels = _min_label_cc(batch.select("id"), _er_candidate_pairs(batch))
        all_recs.join(labels, "id").write.mode("overwrite").parquet(
            f"{reg}/v{batch_id}"
        )

    stream = (
        spark.readStream.schema("id long, name string, nat int, bal double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(stream.writeStream.foreachBatch(process), ckpt)
    last = sorted(glob.glob(f"{reg}/v*"), key=lambda p: int(p.rsplit("v", 1)[1]))[-1]
    final = spark.read.parquet(last)
    out = _er_entity_output(
        final.select("id", F.col("cluster_id")), final.select("id", "name")
    )
    return out
