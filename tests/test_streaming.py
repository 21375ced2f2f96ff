"""Batch≡stream equivalence (SURVEY §5.2.3) + stateful streaming behavior.

Every windowed op's streaming twin (readStream + AvailableNow) must produce
exactly the batch plan's rows; the stateful ops' semantics are asserted
directly (late rows dropped, duplicates collapsed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bpspark.io import table
from bpspark.streaming import (
    session_dynamic_gap_plan,
    events_stream,
    run_to_memory,
    session_window_plan,
    sliding_agg_plan,
    tumbling_count_plan,
)
from tests.conftest import SF_SMALL
from tests.oracle_compare import compare_frames


def _batch_vs_stream(spark, plan_fn, output_mode="complete"):
    batch = plan_fn(table(spark, SF_SMALL, "events")).toPandas()
    stream = run_to_memory(
        plan_fn(events_stream(spark, SF_SMALL)), output_mode=output_mode
    ).toPandas()
    return compare_frames(stream, batch, plan_fn.__name__)


def test_tumbling_batch_equals_stream(spark):
    assert not _batch_vs_stream(spark, tumbling_count_plan)


def test_sliding_batch_equals_stream(spark):
    assert not _batch_vs_stream(spark, sliding_agg_plan)


def test_session_batch_equals_stream(spark):
    assert not _batch_vs_stream(spark, session_window_plan)


def test_session_dynamic_gap_batch_equals_stream(spark):
    assert not _batch_vs_stream(spark, session_dynamic_gap_plan)


def test_watermark_drops_late_rows(spark):
    from bpspark.registry import all_ops

    res = all_ops()["stream_watermark_late"].fn(spark, SF_SMALL).toPandas()
    row = res.iloc[0]
    # run 1 emits the closed windows of the on-time half; the 10-day-late
    # replay in run 2 is behind the watermark and contributes nothing
    assert bool(row.late_rows_dropped)
    assert row.rows_after_batch1 > 0
    # emitted (append-mode) rows are only the windows closed by the final
    # watermark: everything except the last hour's
    ev = table(spark, SF_SMALL, "events")
    n_on_time = ev.filter(F.col("event_id") % 2 == 0).count()
    assert row.rows_after_batch1 <= n_on_time


def test_stream_dedup_collapses_isbn(spark):
    from bpspark.registry import all_ops

    res = all_ops()["stream_dedup_state"].fn(spark, SF_SMALL).toPandas()
    assert sorted(res["isbn"]) == ["9780000000001", "9780000000002"]


def test_stateful_counter_matches_batch(spark):
    """applyInPandasWithState across two micro-batches must converge to the
    plain batch aggregate (state persisted through the checkpoint)."""
    from bpspark.registry import all_ops

    res = all_ops()["stream_stateful_counter"].fn(spark, SF_SMALL).toPandas()
    batch = (
        table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # mirror the op's exact-integer-cents state contract — the SAME
            # tie-free floor(v*100 + 0.5) as the op and its oracle SQL
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).cast("double")
                / 100.0
            ).alias("total_value"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert not compare_frames(res, batch, "stateful_counter")


def test_stream_ingest_pipeline_exactly_once(spark, tmp_path):
    """Two file waves + an empty replay through the checkpointed R1→R15
    pipeline: every ZIP ingested exactly once, replay adds nothing, the
    corrupt wave-2 arrival lands in the quarantine sink (r10 review: it
    was silently discarded in-stream before) and never in control."""
    from bpspark import errors
    from bpspark.streaming import _stream_ingest_run

    stage = str(tmp_path / "stage")
    __import__("os").makedirs(stage)
    res = _stream_ingest_run(spark, stage).toPandas()
    assert len(res) == 8
    assert res["isbn"].is_unique
    assert (res["workflow_id"] == "wf-" + res["isbn"]).all()
    assert "9780999999999" not in set(res["isbn"])  # corrupt: no control row
    q = spark.read.parquet(f"{stage}/quarantine").toPandas()
    byfile = dict(zip(q["path"].str.rsplit("/", n=1).str[-1], q["error_code"]))
    assert byfile["9780999999999.zip"] == errors.EXTRACT_ZIP
    # ADVICE r10: the quarantine sink is idempotent on path — an
    # at-least-once batch retry (or a harness re-run over the same stage
    # dir) must not duplicate rows
    assert q["path"].is_unique


def test_stream_ingest_pipeline_writes_chapters_once(spark, tmp_path):
    """The streaming path commits chapters too: after two waves and a
    replay run, each accepted book's silver chapters sit in the stage's
    chapters table exactly once — the rows a batch ingest of the fixture
    folder gives for those books."""
    from bpspark.fixtures import default_dir
    from bpspark.pipeline import Ledgers, ingest_batch
    from bpspark.streaming import _stream_ingest_run

    stage = tmp_path / "stage"
    stage.mkdir()
    isbns = {r.isbn for r in _stream_ingest_run(spark, str(stage)).collect()}
    cols = ["isbn", "chapter_number", "chapter_title", "chapter_author"]
    got = sorted(tuple(r) for r in spark.read.parquet(f"{stage}/chapters").select(cols).collect())
    fx = default_dir()
    batch = ingest_batch(spark, f"{fx}/drop", Ledgers.load(spark, fx)).silver_chapters
    want = sorted(tuple(r) for r in batch.select(cols).collect() if r.isbn in isbns)
    assert {r[0] for r in got} == isbns
    assert got == want
    assert len(got) == len(set(got))


def test_stream_mv_refresh_versions_and_monotone_groups(spark):
    """The foreachBatch MV maintains copy-on-write state versions: ≥4
    micro-batches (maxFilesPerTrigger=1 over 4 files) each write one, and
    the group count never shrinks across versions (groups only ever gain
    members or appear)."""
    import glob
    import os

    from bpspark.io import _root
    from bpspark.registry import all_ops

    before = set(glob.glob(os.path.join(_root(), "smv_*")))
    all_ops()["stream_mv_refresh"].fn(spark, SF_SMALL).count()
    new_stage = [d for d in glob.glob(os.path.join(_root(), "smv_*")) if d not in before]
    assert len(new_stage) == 1
    versions = sorted(
        glob.glob(os.path.join(new_stage[0], "state_v*")),
        key=lambda p: int(p.rsplit("state_v", 1)[1]),
    )
    assert len(versions) >= 4, versions
    counts = [spark.read.parquet(v).count() for v in versions]
    assert counts == sorted(counts), counts


def test_stream_python_datasource_resumes_exactly_once(spark):
    """Two availableNow runs against one checkpoint: the second must
    resume at the committed offset — 400 contiguous seqs, no gap, no
    repeat."""
    from bpspark.registry import all_ops

    rows = all_ops()["stream_python_datasource"].fn(spark, SF_SMALL).collect()
    seqs = sorted(r.seq for r in rows)
    assert seqs == list(range(400))


def test_scd_join_each_batch_sees_current_dim(spark):
    """Wave-1 rows must be labeled with dim version v1 and wave-2 rows
    with v2 — proving the foreachBatch dim re-read actually picks up the
    update that landed between micro-batches (a plan-time static join
    would label every row v1)."""
    from bpspark.registry import all_ops

    rows = all_ops()["stream_scd_join"].fn(spark, SF_SMALL).collect()
    assert rows, "no output"
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r["batch_id"], set()).add(r["dim_label"].split("_")[0])
    assert len(by_batch) == 2, f"expected 2 micro-batches, got {sorted(by_batch)}"
    assert by_batch[0] == {"v1"}
    assert by_batch[1] == {"v2"}


def test_stream_minhash_dedup_cross_batch_state(spark):
    """Streaming near-dup front door: every perturbed twin arriving in a
    LATER micro-batch than its original must be flagged duplicate (the
    LSH index state crossed the batch boundary), every twin's original
    must have been novel when it arrived, and decisions are one per
    arriving doc across exactly 3 waves. Deterministic across runs."""
    from bpspark.registry import all_ops

    OPS = all_ops()
    a = OPS["stream_minhash_dedup"].fn(spark, SF_SMALL).toPandas()
    b = OPS["stream_minhash_dedup"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)
    assert sorted(a.batch_id.unique()) == [0, 1, 2]
    assert len(a) == 520 and a.doc_id.is_unique
    twins = a[a.doc_id >= 5_000_000]
    assert len(twins) == 20
    assert (~twins.is_novel).all(), "cross-batch twin not flagged duplicate"
    originals = a[a.doc_id.isin(twins.doc_id - 5_000_000)]
    assert originals.is_novel.all(), "a twin's original was not novel at arrival"
    # twins always arrive in a strictly later wave than their original
    merged = twins.merge(
        originals, left_on=twins.doc_id - 5_000_000, right_on="doc_id",
        suffixes=("_t", "_o"),
    )
    assert (merged.batch_id_t > merged.batch_id_o).all()


def test_stream_ivf_index_streamed_equals_batch(spark, tmp_path):
    """The streamed IVF index must be ROW-IDENTICAL (per-cell count +
    member-id hash) to a one-shot batch assignment of the same corpus
    under the same frozen quantizer — streaming adds delivery semantics,
    never different postings. Also pins the on-disk claim: each batch's
    append is cell-partitioned (cluster_id= subdirs), i.e. appends touch
    only the cells present in that batch."""
    import glob
    import os

    from bpspark.llm_ops import _assign_home, _with_norm
    from bpspark.streaming import _ivf_index_cell_summary, _stream_ivf_index_build

    summary, cent_lit, idx = _stream_ivf_index_build(spark, SF_SMALL, str(tmp_path))
    streamed = summary.toPandas()

    e = _with_norm(table(spark, SF_SMALL, "embeddings")).select(
        "vec_id", "embedding", "norm"
    )
    batch = _ivf_index_cell_summary(
        _assign_home(e, cent_lit).select(
            "vec_id", F.col("home_cent").alias("cluster_id")
        )
    ).toPandas()
    assert not compare_frames(streamed, batch, "stream_ivf_vs_batch")

    batch_dirs = sorted(glob.glob(f"{idx}/batch=*"))
    assert len(batch_dirs) == 3  # one micro-batch per wave
    for d in batch_dirs:
        cells = [p for p in os.listdir(d) if p.startswith("cluster_id=")]
        assert cells, f"{d} not cell-partitioned"


def test_stream_ivf_index_rerun_identical(spark):
    """Driver may run an op twice in one session — two full runs (fresh
    stage dirs each) must produce byte-identical summaries."""
    from bpspark.registry import all_ops

    fn = all_ops()["stream_ivf_index_append"].fn
    a = fn(spark, SF_SMALL).toPandas()
    b = fn(spark, SF_SMALL).toPandas()
    assert not compare_frames(a, b, "stream_ivf_rerun")
    assert len(a) >= 2  # multiple cells actually populated
    assert int(a["n_vecs"].sum()) == table(spark, SF_SMALL, "embeddings").count()


def test_ivf_compact_preserves_postings_and_consolidates_files(spark, tmp_path):
    """Compaction contract for the streamed IVF index: the compacted
    index's per-cell member summary must be row-identical to the
    per-batch layout's (no posting dropped, duplicated, or reassigned),
    and every cell must land in exactly ONE file where the per-batch
    layout had one file per (batch, cell) — the small-files debt the op
    exists to pay down."""
    import glob

    from bpspark.registry import all_ops
    from bpspark.streaming import (
        _ivf_batched_index_build,
        _ivf_compact_index,
        _ivf_index_cell_summary,
    )

    idx = _ivf_batched_index_build(spark, SF_SMALL, str(tmp_path))
    pre = spark.read.option("basePath", idx).parquet(
        *sorted(glob.glob(f"{idx}/batch=*"))
    )
    pre_summary = _ivf_index_cell_summary(pre).toPandas()
    files_before = len(glob.glob(f"{idx}/batch=*/cluster_id=*/*.parquet"))

    compacted = str(tmp_path / "compacted")
    _ivf_compact_index(spark, idx, compacted)
    post = spark.read.parquet(compacted)
    post_summary = _ivf_index_cell_summary(post).toPandas()
    assert not compare_frames(post_summary, pre_summary, "ivf_compact_summary")

    cell_dirs = glob.glob(f"{compacted}/cluster_id=*")
    assert cell_dirs
    for cd in cell_dirs:
        assert len(glob.glob(f"{cd}/*.parquet")) == 1, f"{cd} not single-file"
    assert files_before > len(cell_dirs), "nothing to compact — layout changed?"

    out = all_ops()["sim_ivf_index_compact"].fn(spark, SF_SMALL).toPandas()
    assert (out["n_files"] == 1).all()
    assert int(out["n_vecs"].sum()) == table(spark, SF_SMALL, "embeddings").count()


def test_stream_bm25_flushes_segment_per_batch_and_reruns_identical(spark, tmp_path):
    """Lucene NRT flush contract: each of the 3 micro-batches must land
    as one complete immutable segment (seg={batch_id} holding all four
    index tables), and a second full op run (fresh stage + checkpoint)
    must reproduce byte-identical query output. Streamed ≡ whole-corpus
    rebuild is the op's DuckDB oracle (test_oracle_parity); this test
    covers the on-disk flush behavior the oracle can't see (the
    registered op deletes its stage after materializing — the build is
    staged here under tmp_path to inspect the layout)."""
    import glob

    from bpspark.registry import all_ops
    from bpspark.streaming import _stream_bm25_segments_build

    segs = _stream_bm25_segments_build(spark, SF_SMALL, str(tmp_path))
    assert len(segs) == 3, segs  # one flushed segment per micro-batch
    for s in segs:
        for t in ("postings", "doclens", "df", "stats"):
            assert glob.glob(f"{s}/{t}/*.parquet"), f"{s}/{t} missing"

    fn = all_ops()["stream_bm25_index_append"].fn
    a = fn(spark, SF_SMALL).toPandas()
    b = fn(spark, SF_SMALL).toPandas()
    assert not compare_frames(a, b, "stream_bm25_rerun")
    assert len(a) == 10 and a["bm25"].is_monotonic_decreasing


def test_ivf_retrain_conserves_postings(spark):
    """Re-bucketing contract: retraining moves every posting to its new
    home cell without losing or duplicating any — n_vecs identical
    before/after and equal to the corpus; deterministic across runs.
    The 'after' phase must cover every vector exactly once even though
    cell boundaries moved."""
    from bpspark.io import table
    from bpspark.registry import all_ops

    fn = all_ops()["sim_ivf_index_retrain"].fn
    a = fn(spark, SF_SMALL).toPandas()
    b = fn(spark, SF_SMALL).toPandas()
    assert a.equals(b), "retrain output not deterministic"
    assert list(a["phase"]) == ["after", "before"]
    n_corpus = table(spark, SF_SMALL, "embeddings").count()
    assert (a["n_vecs"] == n_corpus).all(), a
    assert (a["n_cells"] >= 2).all()
    assert (a["imbalance"] >= 1.0).all()  # max/avg is >= 1 by construction


def test_drift_monitor_stream_equals_batch_counts(spark):
    """The streamed current-window histogram must account for every
    post-cutoff event (Σ n_cur) and the frozen baseline for every
    pre-cutoff one (Σ n_ref) — integer-additive micro-batch folding
    loses nothing."""
    from bpspark.registry import all_ops

    pdf = all_ops()["stream_drift_monitor"].fn(spark, SF_SMALL).toPandas()
    import duckdb

    n_ref, n_cur = duckdb.sql(
        f"""SELECT COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16'),
                   COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16')
            FROM '{SF_SMALL}/events.parquet'"""
    ).fetchone()
    assert pdf["n_ref"].sum() == n_ref
    assert pdf["n_cur"].sum() == n_cur
    assert pdf["chi2_contrib"].dropna().ge(0).all()


def test_stream_heavy_hitters_equals_batch(spark):
    """Streamed heavy hitters (3-wave segment flushes + MG candidate
    pruning) must equal the batch two-pass op row-for-row — integer
    partials make the merge exact."""
    from bpspark.registry import all_ops

    ops = all_ops()
    got = (
        ops["stream_heavy_hitters"].fn(spark, SF_SMALL).toPandas()
        .sort_values(["term"]).reset_index(drop=True)
    )
    want = (
        ops["agg_heavy_hitters_mg"].fn(spark, SF_SMALL).toPandas()
        .sort_values(["term"]).reset_index(drop=True)
    )
    assert got.equals(want)


def test_stream_er_equals_batch_and_incremental(spark):
    """All three ER forms must produce identical entities row-for-row:
    the closure-edge equivalence applies inductively across the
    streamed waves (the third wave bridges entities the second
    created)."""
    from bpspark.registry import all_ops

    ops = all_ops()
    frames = {
        name: ops[name].fn(spark, SF_SMALL).toPandas()
        .sort_values(["entity_id", "member_id"]).reset_index(drop=True)
        for name in ("stream_er_resolve", "er_resolve_entities", "er_incremental_resolve")
    }
    assert frames["stream_er_resolve"].equals(frames["er_resolve_entities"])
    assert frames["stream_er_resolve"].equals(frames["er_incremental_resolve"])


# ---------------------------------------------------------------------------
# the replay harness: drain (one runner) and stage_waves (one stager)
# ---------------------------------------------------------------------------


def test_drain_failure_restores_conf_and_leaves_no_active_query(spark, tmp_path):
    """A foreachBatch that raises surfaces as StreamingQueryException from
    drain; the caller's shuffle-partition value is back and no query is
    left running."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from bpspark.streaming import drain, stage_waves

    src = str(tmp_path / "src")
    stage_waves(src, spark.range(3))

    def boom(batch_df, batch_id):
        raise RuntimeError("sink failed")

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        writer = spark.readStream.schema("id long").parquet(src).writeStream.foreachBatch(boom)
        with pytest.raises(StreamingQueryException):
            drain(writer, str(tmp_path / "ckpt"))
        assert spark.conf.get(key) == "3"
        assert spark.streams.active == []
    finally:
        spark.conf.set(key, prev)


def test_stage_waves_one_file_per_wave_in_arrival_order(spark, tmp_path):
    """Two stage_waves calls on one dir give wave0 then wave1, each one
    parquet file (even from a multi-partition frame), with strictly
    increasing mtimes; a maxFilesPerTrigger=1 stream sees one batch per
    wave, in order."""
    import os

    from bpspark.streaming import drain, stage_waves

    src = str(tmp_path / "src")
    stage_waves(src, spark.range(0, 5).repartition(3))
    stage_waves(src, spark.range(5, 8))
    assert sorted(os.listdir(src)) == ["wave0.parquet", "wave1.parquet"]
    assert all(os.path.isfile(f"{src}/wave{i}.parquet") for i in range(2))
    m0, m1 = (os.stat(f"{src}/wave{i}.parquet").st_mtime_ns for i in range(2))
    assert m0 < m1

    seen = []

    def collect(batch_df, batch_id):
        seen.append((batch_id, sorted(r.id for r in batch_df.collect())))

    stream = spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    drain(stream.writeStream.foreachBatch(collect), str(tmp_path / "ckpt"))
    assert seen == [(0, [0, 1, 2, 3, 4]), (1, [5, 6, 7])]


HARNESS_MICRO_BATCHES = {
    # one data batch, then one no-data batch whose watermark advance
    # evicts state / fires timers
    "stream_outer_interval_join": 2,
    "stream_chained_stateful": 2,
    "stream_session_timeout": 2,
}


def test_harness_micro_batch_counts(spark):
    """Each replay runs the fixed number of micro-batches its staging
    implies, counted as progress events by a StreamingQueryListener."""
    from pyspark.sql.streaming import StreamingQueryListener

    from bpspark.registry import all_ops

    progress = []

    class Count(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress.batchId)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    bus = spark.sparkContext._jsc.sc().listenerBus()
    listener = Count()
    spark.streams.addListener(listener)
    try:
        counts = {}
        for name in HARNESS_MICRO_BATCHES:
            bus.waitUntilEmpty(30_000)
            progress.clear()
            all_ops()[name].fn(spark, SF_SMALL).collect()
            bus.waitUntilEmpty(30_000)
            counts[name] = len(progress)
    finally:
        spark.streams.removeListener(listener)
    assert counts == HARNESS_MICRO_BATCHES


def test_run_to_memory_leaves_no_sink_view(spark):
    """run_to_memory drops its memory sink's temp view and returns rows
    that no longer read it: three calls of stream_session_timeout leave no
    ``bpspark_mem_*`` table in the catalog, and every returned frame,
    the first one included, still reads the first call's rows."""
    from bpspark.registry import all_ops

    fn = all_ops()["stream_session_timeout"].fn
    frames = [fn(spark, SF_SMALL) for _ in range(3)]
    leftover = [t.name for t in spark.catalog.listTables() if t.name.startswith("bpspark_mem_")]
    assert leftover == []
    first = sorted(frames[0].collect())
    assert first
    for f in frames:
        assert sorted(f.collect()) == first
