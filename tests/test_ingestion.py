"""Golden-fixture ingestion tests (SURVEY §5.2.2): the R1→R14 pipeline over
the FIXTURES.md drop folder — acceptance counts, the four error/skip paths,
typed projection, and the idempotent-rerun invariant."""

from __future__ import annotations

import pytest

from bpspark import errors, fixtures
from bpspark.pipeline import Ledgers, ingest_batch


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    return fixtures.generate(str(tmp_path_factory.mktemp("fix")))


@pytest.fixture(scope="module")
def result(spark, fixture_dir):
    ledgers = Ledgers.load(spark, fixture_dir)
    return ingest_batch(spark, f"{fixture_dir}/drop", ledgers)


def test_arrival_and_gate_counts(result):
    assert result.arrivals.count() == 46  # 40 clean + 3 ledger-dups + 3 error
    # R8/R9/R10 remove the three ledger-known arrivals before parsing
    assert result.new_arrivals.count() == 43
    gated_isbns = {r.isbn for r in result.new_arrivals.select("isbn").collect()}
    assert fixtures.DUP_ZIP_NAME_ISBN not in gated_isbns
    assert fixtures.DUP_WORKFLOW_ISBN not in gated_isbns
    assert fixtures.DUP_COMPLETED_ISBN not in gated_isbns


def test_accepted_books(result):
    rows = result.workflows_new.collect()
    assert len(rows) == 40  # 43 new - missing-book - bad-genre - corrupt
    byisbn = {r.isbn: r for r in rows}
    assert fixtures.MISSING_BOOK_ISBN not in byisbn
    assert fixtures.BAD_GENRE_ISBN not in byisbn
    assert fixtures.CORRUPT_ISBN not in byisbn
    # R12 typed projection + R13 enrichment on a sample row
    r = byisbn["9780000000000"]
    assert r.book_title == "Book 00"
    assert r.book_genre in fixtures.GENRES
    assert isinstance(r.nr_of_chapters, int) and 1 <= r.nr_of_chapters <= 8
    assert isinstance(r.nr_of_pages, int)
    assert r.content_found is False and r.content_error_found is False
    assert r.interrupt_t1_timer == "PT5M"
    assert r.wait_2_check_content_timer == "PT1M"
    assert r.workflow_id == "wf-9780000000000"
    # R14: full metadata map rides along (book + chapters entries)
    assert len(r.all_metadata) == r.nr_of_chapters + 1
    # continuation + latin-1 + \uXXXX parsing survived the full pipeline
    props = dict(next(m.props for m in r.all_metadata if m.entry == r.isbn))
    assert props["Authors"].endswith("(et al.)")
    assert props["Publisher"] == "BestPub éditions"
    assert props["Imprint"] == "Caf\xe9 Press"


def test_quarantine_paths(result):
    q = {r.path.rsplit("/", 1)[-1]: r.error_code for r in result.quarantine.collect()}
    assert q == {
        f"{fixtures.MISSING_BOOK_ISBN}.zip": errors.MISSING_BOOK_METADATA,
        f"{fixtures.BAD_GENRE_ISBN}.zip": errors.INVALID_GENRE,
        f"{fixtures.CORRUPT_ISBN}.zip": errors.EXTRACT_ZIP,
    }


def test_chapters_silver(result):
    ch = result.silver_chapters.collect()
    assert all(c.chapter_number >= 1 and c.chapter_title for c in ch)
    # chapters only from accepted books (the bad-genre book's chapters excluded)
    isbns = {c.isbn for c in ch}
    assert fixtures.BAD_GENRE_ISBN not in isbns
    # every accepted book contributes its NrOfChapters rows
    books = {r.isbn: r.nr_of_chapters for r in result.workflows_new.collect()}
    per_isbn: dict[str, int] = {}
    for c in ch:
        per_isbn[c.isbn] = per_isbn.get(c.isbn, 0) + 1
    assert per_isbn == books


def test_idempotent_rerun(spark, fixture_dir, result):
    """Re-run with the first run's ISBNs in the workflows ledger → 0 new rows."""
    ledgers = Ledgers.load(spark, fixture_dir)
    ledgers2 = Ledgers(
        valid_genres=ledgers.valid_genres,
        ingested_zips=ledgers.ingested_zips,
        workflows=ledgers.workflows.select("isbn").unionByName(
            result.workflows_new.select("isbn")
        ),
        completed_books=ledgers.completed_books,
    )
    rerun = ingest_batch(spark, f"{fixture_dir}/drop", ledgers2)
    assert rerun.workflows_new.count() == 0
    # quarantine re-reports the still-unresolved error files (no ledger entry)
    assert rerun.quarantine.count() == 3


def test_sink_quarantine_table_replay_is_noop(spark, tmp_path):
    """ADVICE r10: the R15 quarantine sink must carry the same
    idempotency contract as the control sink — a replayed (at-least-once)
    batch appends zero rows; a genuinely new path still lands."""
    from bpspark.pipeline import sink_quarantine_table

    qdir = str(tmp_path / "quarantine")
    q = spark.createDataFrame(
        [("/drop/a.zip", "EXTRACT_ZIP", "bad archive")],
        "path string, error_code string, error_msg string",
    )
    sink_quarantine_table(q, qdir)
    sink_quarantine_table(q, qdir)  # retry of the same batch: no-op
    assert spark.read.parquet(qdir).count() == 1
    q2 = spark.createDataFrame(
        [("/drop/b.zip", "EXTRACT_ZIP", "bad archive")],
        "path string, error_code string, error_msg string",
    )
    sink_quarantine_table(q2, qdir)
    assert spark.read.parquet(qdir).count() == 2


def test_observe_metrics_match_direct_aggregation(spark):
    """observe() accumulators must equal a direct aggregation pass."""
    from bpspark.registry import all_ops
    from tests.conftest import SF_SMALL

    import duckdb

    row = all_ops()["pipeline_observe_metrics"].fn(spark, SF_SMALL).collect()[0]
    exp = duckdb.sql(
        f"SELECT COUNT(*) n, ROUND(SUM(o_totalprice),2) r FROM '{SF_SMALL}/orders.parquet'"
    ).fetchone()
    assert row["n_rows"] == exp[0]
    assert row["null_keys"] == 0
    assert abs(row["revenue"] - float(exp[1])) < 1e-6


def test_key_rule_single_definition(spark):
    """R2 business-key rule: the Spark-side regexp (sources.ISBN_ZIP_KEY_RE)
    and the worker-side parse.extract_isbn_from_path must agree on every
    name — r8 fixed a fork where a 13-digit SUFFIX of a longer stem
    matched the regex but not the strict stem rule."""
    from pyspark.sql import functions as F

    from bpspark.parse import extract_isbn_from_path
    from bpspark.sources import ISBN_ZIP_KEY_RE

    paths = [
        "9780000000123.zip",
        "x9780000000123.zip",              # 13-digit suffix, longer stem
        "/drop/a/9780000000123.zip",
        "/drop/9780000000123.ZIP",         # case-insensitive extension
        "97800000001234.zip",              # 14 digits
        "978000000012.zip",                # 12 digits
        "9780000000123.txt",
        "٠١٢٣٤٥٦٧٨٩٠١٢.zip",  # non-ASCII digits
        "9780000000123",                   # no extension
        "/drop/redelivery/9780000000123.zip",
        "9780000000123.zip\n",             # trailing newline: Java '$'
        # matched before the final line terminator while the worker's
        # endswith() did not — \z closes the fork (r10 review)
        "9780000000123.zip\nx",            # newline mid-name
        "9780000000123.Zip",               # mixed-case extension
    ]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = {
        r["path"]: r["isbn"]
        for r in df.select(
            "path", F.regexp_extract("path", ISBN_ZIP_KEY_RE, 1).alias("isbn")
        ).collect()
    }
    for p in paths:
        assert got[p] == extract_isbn_from_path(p), p


def test_empty_zip_quarantined(spark, fixture_dir, tmp_path):
    """R15 (r8 fix): a ZIP that parses to ZERO entries must land in the
    quarantine (MISSING_BOOK_METADATA), not silently vanish."""
    import io as _io
    import zipfile

    drop = tmp_path / "drop_empty"
    drop.mkdir()
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w"):
        pass  # zero entries
    (drop / "9799999999999.zip").write_bytes(buf.getvalue())

    ledgers = Ledgers.load(spark, fixture_dir)
    res = ingest_batch(spark, str(drop), ledgers)
    assert res.workflows_new.count() == 0
    q = res.quarantine.collect()
    assert len(q) == 1
    assert q[0]["error_code"] == errors.MISSING_BOOK_METADATA


def test_within_batch_duplicate_isbn_single_flight(spark, fixture_dir, tmp_path):
    """r8 fix: two arrivals carrying the same ISBN in ONE batch must
    produce exactly one control row (the lexicographically-first path),
    mirroring the reference's per-file isNewIsbn in-flight check."""
    import shutil

    from bpspark.pipeline import ingest_from_arrivals
    from bpspark.sources import scan_drop_folder

    src = sorted(
        n for n in __import__("os").listdir(f"{fixture_dir}/drop")
        if n.endswith(".zip")
    )[0]
    a = tmp_path / "wave_a"
    b = tmp_path / "wave_b"
    a.mkdir()
    b.mkdir()
    shutil.copy(f"{fixture_dir}/drop/{src}", a / src)
    shutil.copy(f"{fixture_dir}/drop/{src}", b / src)

    ledgers = Ledgers.load(spark, fixture_dir)
    arrivals = scan_drop_folder(spark, str(a)).unionByName(
        scan_drop_folder(spark, str(b))
    )
    res = ingest_from_arrivals(spark, arrivals, ledgers)
    rows = res.workflows_new.select("isbn").collect()
    assert len(rows) == 1
    assert rows[0]["isbn"] == src[:-4]
    kept = res.new_arrivals.select("path").collect()
    assert len(kept) == 1 and "/wave_a/" in kept[0]["path"]


def test_null_isbn_arrivals_survive_the_single_flight_gate(spark, fixture_dir):
    """r9 review fix: an arrivals row whose isbn is NULL (a caller that
    bypasses with_zip_keys' regexp_extract, which returns '' on no
    match) is UNKEYED — it must survive the single-flight gate like the
    '' rows do, not be silently dropped by the keyed-branch filters
    (R15: every file is accounted for). Downstream the parser
    re-derives the business key from the path, so well-named parseable
    files still ingest normally."""
    from pyspark.sql import functions as F

    from bpspark.pipeline import Ledgers, ingest_from_arrivals
    from bpspark.sources import scan_drop_folder

    arrivals = scan_drop_folder(spark, f"{fixture_dir}/drop").limit(2).withColumn(
        "isbn", F.lit(None).cast("string")
    )
    n = arrivals.count()
    assert n == 2
    ledgers = Ledgers.load(spark, fixture_dir)
    res = ingest_from_arrivals(spark, arrivals, ledgers)
    # every NULL-keyed file survives the gate and is processed per-file
    assert res.new_arrivals.count() == n
    assert res.workflows_new.count() + res.quarantine.count() == n


def test_uppercase_zip_extension_is_ingested(spark, fixture_dir, tmp_path):
    """R1/R15 (r10 review): the drop-folder glob must accept any case mix
    of the .zip extension — pathGlobFilter is case-sensitive, so the old
    bare '*.zip' made a '.ZIP' file invisible (neither ingested nor
    quarantined) while the key rule and the worker parser both accept it."""
    import os
    import shutil

    from bpspark.sources import scan_drop_folder

    src = sorted((fixture_dir + "/drop/" + n) for n in os.listdir(f"{fixture_dir}/drop"))[0]
    drop = tmp_path / "drop_case"
    drop.mkdir()
    shutil.copy(src, drop / "9780000000001.ZIP")
    shutil.copy(src, drop / "9780000000002.Zip")
    shutil.copy(src, drop / "9780000000003.zip")

    got = scan_drop_folder(spark, str(drop)).select("zip_name", "isbn").collect()
    assert sorted(r["zip_name"] for r in got) == [
        "9780000000001.ZIP", "9780000000002.Zip", "9780000000003.zip",
    ]
    assert sorted(r["isbn"] for r in got) == [
        "9780000000001", "9780000000002", "9780000000003",
    ]


def test_duplicate_book_basename_keeps_last_entry(spark, fixture_dir, tmp_path):
    """A ZIP holding two entries with one basename (``{isbn}.txt`` and
    ``dup/{isbn}.txt``) keeps one record per basename, the later archive
    entry, like the reference's HashMap.put — so one control row."""
    import zipfile

    isbn = "9780999000001"
    drop = tmp_path / "drop_dup"
    drop.mkdir()
    with zipfile.ZipFile(drop / f"{isbn}.zip", "w") as zf:
        zf.writestr(f"{isbn}.txt", "Title=First\nGenre=Fiction\nNrOfChapters=1\n")
        zf.writestr("chapter-1.txt", "ChapterNumber=1\nChapterTitle=One\n")
        zf.writestr(f"dup/{isbn}.txt", "Title=Second\nGenre=Fiction\nNrOfChapters=1\n")

    res = ingest_batch(spark, str(drop), Ledgers.load(spark, fixture_dir))
    rows = res.workflows_new.collect()
    assert len(rows) == 1
    assert rows[0]["book_title"] == "Second"
    assert len(rows[0]["all_metadata"]) == 2
    assert res.quarantine.count() == 0


def test_append_new_matches_null_keys(spark, tmp_path):
    """The keyed append treats a NULL key part as a value: a chapter row
    with no ChapterNumber is not appended a second time on a replay."""
    from bpspark.pipeline import _append_new

    df = spark.createDataFrame([("978", None, "t"), ("978", 1, "u")],
                               "isbn string, chapter_number int, chapter_title string")
    out = str(tmp_path / "chapters")
    _append_new(df, out, ["isbn", "chapter_number"])
    _append_new(df, out, ["isbn", "chapter_number"])
    assert spark.read.parquet(out).count() == 2


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_each_batch_parses_once(spark, fixture_dir, monkeypatch):
    """Parse once per batch: the batch materializes ONE per-ZIP frame,
    whose plan parses the folder through exactly one MapInPandas node and
    needs no regrouping by ISBN; the four parsed outputs plan no parse of
    their own and all read that one frame. Built fresh: an executed
    adaptive plan prints its initial and final forms."""
    import re

    frame_cls = type(spark.range(1))
    real = frame_cls.localCheckpoint
    materialized = []

    def spy(self, *args, **kwargs):
        materialized.append(_plan(self))
        return real(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(frame_cls, "localCheckpoint", spy)
        result = ingest_batch(spark, f"{fixture_dir}/drop", Ledgers.load(spark, fixture_dir))

    assert len(materialized) == 1
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", materialized[0]))
    assert len(nodes) == 1, f"materialized frame: MapInPandas nodes {sorted(nodes)}"
    assert "collect_list" not in materialized[0]

    read = set()
    for name in ("workflows_new", "quarantine", "silver_chapters", "entries"):
        df = getattr(result, name)
        assert "MapInPandas" not in _plan(df), name
        leaves = df._jdf.queryExecution().logical().collectLeaves()
        assert leaves.size() == 1, name
        leaf = leaves.apply(0)
        assert leaf.getClass().getSimpleName() == "LogicalRDD", name
        read.add(leaf.rdd().id())
    assert len(read) == 1, f"outputs read {len(read)} frames"
    assert "collect_list" not in _plan(result.workflows_new)


def _sorted_rows(spark, path: str) -> list[tuple]:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = [F.to_json(c).alias(c) if c == "all_metadata" else F.col(c)
            for c in df.columns if c != "publishing_date"]
    return sorted(tuple(r) for r in df.select(cols).collect())


@pytest.mark.parametrize("crash_after", [1, 2])
def test_commit_batch_replay_after_crash_writes_each_row_once(
        spark, fixture_dir, tmp_path, monkeypatch, crash_after):
    """R17: a commit cut short after its first (chapters) or second
    (quarantine) write leaves no control rows, so the replay — R9 refreshed
    from control, as every replay runs — re-accepts the batch, and the
    keyed appends drop what the cut-short attempt wrote: each table then
    holds every row of an uninterrupted commit exactly once. A further
    replay adds nothing."""
    from bpspark import pipeline

    drop, ledgers = f"{fixture_dir}/drop", Ledgers.load(spark, fixture_dir)
    clean, out = str(tmp_path / "clean"), str(tmp_path / "out")
    pipeline.commit_batch(ingest_batch(spark, drop, ledgers), clean)

    real, written = pipeline._append_new, []

    def crashing(df, out_dir, keys):
        real(df, out_dir, keys)
        written.append(out_dir)
        if len(written) == crash_after:
            raise RuntimeError("injected crash")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "_append_new", crashing)
        with pytest.raises(RuntimeError, match="injected crash"):
            pipeline.commit_batch(ingest_batch(spark, drop, ledgers), out)
    assert [p.rsplit("/", 1)[1] for p in written] == ["chapters", "quarantine"][:crash_after]

    for _ in range(2):
        res = ingest_batch(spark, drop, ledgers.with_control(f"{out}/control"))
        pipeline.commit_batch(res, out)
        for table in ("chapters", "quarantine", "control"):
            got = _sorted_rows(spark, f"{out}/{table}")
            assert got == _sorted_rows(spark, f"{clean}/{table}"), table
            assert len(got) == len(set(got)), table


def test_fixture_default_dir_lies_under_scratch_root(monkeypatch, tmp_path):
    """Unset ``BPSPARK_FIXTURE_DIR``, the shared fixture set is generated
    under the process's scratch root, so a run leaves nothing behind in
    the temp dir; the variable still overrides it."""
    import os

    from bpspark.io import _root

    monkeypatch.delenv("BPSPARK_FIXTURE_DIR", raising=False)
    d = fixtures.default_dir()
    assert os.path.commonpath([d, _root()]) == _root()
    assert os.path.isdir(os.path.join(d, "drop"))
    monkeypatch.setenv("BPSPARK_FIXTURE_DIR", str(tmp_path))
    assert fixtures.default_dir() == str(tmp_path)
