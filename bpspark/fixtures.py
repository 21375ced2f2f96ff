"""Deterministic ingestion-domain fixtures (FIXTURES.md §B).

Generates the drop-folder ZIPs and ledger tables that exercise the
reference's R1-R17 pipeline semantics, including the adversarial
java-Properties parsing cases (R4 parity, SURVEY §7.4.1) and the four
error/idempotency paths. Seed=42, fixed timestamps — byte-stable across
runs so rows-only checks are reproducible.

Layout under the target dir:
  drop/{isbn}.zip            45 clean + 4 error-path arrivals (B1)
  valid_genres.parquet       genre dimension (B2)
  ingested_zips.parquet      idempotency ledger #1 (B3)
  workflows.parquet          control table / ledger #2 (B4, pre-populated)
  completed_books.parquet    idempotency ledger #3 (B5)
"""

from __future__ import annotations

import io
import os
import random
import zipfile
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

GENRES = [
    "Fiction", "NonFiction", "Science", "History", "Biography",
    "Mystery", "Romance", "Fantasy", "Poetry", "Travel",
]

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

# ISBNs of arrivals that ledgers already know about (R8/R9/R10 skip paths)
DUP_ZIP_NAME_ISBN = "9780000000041"    # in ingested_zips   → R8 skip
DUP_WORKFLOW_ISBN = "9780000000042"    # in workflows       → R9 skip
DUP_COMPLETED_ISBN = "9780000000043"   # in completed_books → R10 skip
MISSING_BOOK_ISBN = "9780000000044"    # no {isbn}.txt      → R6 reject
BAD_GENRE_ISBN = "9780000000045"       # genre not in dim   → R7 reject
CORRUPT_ISBN = "9780000000046"         # truncated ZIP      → R15 quarantine

N_CLEAN = 40  # isbn 9780000000000..39 are plain-clean arrivals


def _isbn(i: int) -> str:
    return f"97800000000{i:02d}"


def _book_txt(rng: random.Random, isbn: str, genre: str, n_chapters: int) -> bytes:
    title = f"Book {isbn[-2:]}"
    authors = f"Author {rng.randint(1, 20)}"
    pages = rng.randint(80, 900)
    # exercise every documented Properties syntax form (R4 parity):
    #   comments, key=value, key: value, key value, whitespace padding,
    #   line continuation, \uXXXX escape, latin-1 bytes
    body = (
        "# book record\n"
        "! alt comment\n"
        f"Title={title}\n"
        f"Genre: {genre}\n"
        f"Authors {authors} \\\n"
        "   (et al.)\n"
        f"NrOfChapters\t=\t{n_chapters}\n"
        f"NrOfPages : {pages}\n"
        "Publisher=BestPub \\u00e9ditions\n"
    )
    return body.encode("iso-8859-1") + "Imprint=Caf\xe9 Press\n".encode("iso-8859-1")


def _chapter_txt(rng: random.Random, n: int) -> bytes:
    return (
        f"ChapterNumber={n}\n"
        f"ChapterTitle=Chapter {n}\n"
        f"ChapterAuthor=Author {rng.randint(1, 20)}\n"
    ).encode("iso-8859-1")


def _make_zip(rng: random.Random, isbn: str, genre: str, *, with_book: bool = True,
              with_dir_entry: bool = False) -> bytes:
    n_chapters = rng.randint(1, 8)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        if with_dir_entry:
            zf.writestr(zipfile.ZipInfo("chapters/"), b"")  # must be skipped (R3)
        if with_book:
            zf.writestr(f"{isbn}.txt", _book_txt(rng, isbn, genre, n_chapters))
        for n in range(1, n_chapters + 1):
            zf.writestr(f"chapter-{n}.txt", _chapter_txt(rng, n))
    return buf.getvalue()


def generate(target_dir: str) -> str:
    """Generate the fixture set; idempotent via a marker file."""
    marker = os.path.join(target_dir, ".bpspark_fixtures_v1")
    if os.path.exists(marker):
        return target_dir
    drop = os.path.join(target_dir, "drop")
    os.makedirs(drop, exist_ok=True)
    rng = random.Random(42)

    def write_zip(isbn: str, data: bytes) -> None:
        with open(os.path.join(drop, f"{isbn}.zip"), "wb") as fh:
            fh.write(data)

    for i in range(N_CLEAN):
        isbn = _isbn(i)
        write_zip(isbn, _make_zip(rng, isbn, rng.choice(GENRES), with_dir_entry=(i % 7 == 0)))

    # arrivals that the ledgers should skip (content valid)
    for isbn in (DUP_ZIP_NAME_ISBN, DUP_WORKFLOW_ISBN, DUP_COMPLETED_ISBN):
        write_zip(isbn, _make_zip(rng, isbn, rng.choice(GENRES)))
    # R6: book record missing
    write_zip(MISSING_BOOK_ISBN, _make_zip(rng, MISSING_BOOK_ISBN, "Fiction", with_book=False))
    # R7: invalid genre
    write_zip(BAD_GENRE_ISBN, _make_zip(rng, BAD_GENRE_ISBN, "Cooking"))
    # R15: corrupt ZIP (truncated)
    write_zip(CORRUPT_ISBN, _make_zip(rng, CORRUPT_ISBN, "Fiction")[:40])

    pq.write_table(pa.table({"genre_name": GENRES}),
                   os.path.join(target_dir, "valid_genres.parquet"))
    pq.write_table(
        pa.table({"zip_name": [f"{DUP_ZIP_NAME_ISBN}.zip"], "ingest_ts": [BASE_TS]}),
        os.path.join(target_dir, "ingested_zips.parquet"),
    )
    pq.write_table(
        pa.table({
            "workflow_id": ["wf-0001"],
            "isbn": [DUP_WORKFLOW_ISBN],
            "book_title": ["Existing Book"],
            "book_genre": ["Fiction"],
            "book_authors": ["Author 1"],
            "nr_of_chapters": pa.array([3], pa.int32()),
            "nr_of_pages": pa.array([120], pa.int32()),
            "publishing_date": [BASE_TS],
        }),
        os.path.join(target_dir, "workflows.parquet"),
    )
    pq.write_table(
        pa.table({
            "isbn": [DUP_COMPLETED_ISBN],
            "year": pa.array([2025], pa.int32()),
            "completed_ts": [BASE_TS],
        }),
        os.path.join(target_dir, "completed_books.parquet"),
    )
    with open(marker, "w") as fh:
        fh.write("v1\n")
    return target_dir


def default_dir() -> str:
    """Shared fixture dir for registered rows-only ops: the deployment path
    ``BPSPARK_FIXTURE_DIR`` when set, else ``fixtures`` under the process's
    scratch root (generated once per process, removed with the root)."""
    from bpspark.io import _root

    return generate(os.environ.get("BPSPARK_FIXTURE_DIR") or os.path.join(_root(), "fixtures"))
