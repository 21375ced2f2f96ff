"""Seeded benchmark inputs.

Everything the program reads is generated here from the seed, inside the
run directory: drop-folder ZIPs with their ledgers for the ingestion
workloads, and TPC-H-shaped parquet tables for the corpus/iterative
workload. Each generator also returns what a correct program must
produce, so the workloads can check outputs without trusting the program.
"""

from __future__ import annotations

import io
import os
import random
import zipfile
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

GENRES = [
    "Fiction", "NonFiction", "Science", "History", "Biography",
    "Mystery", "Romance", "Fantasy", "Poetry", "Travel",
]
BAD_GENRES = ["Cooking", "Gardening", "Horror"]
BASE_TS = datetime(2026, 1, 1)

# error codes the program writes to the quarantine table (bpspark/errors.py)
MISSING_BOOK = "MISSING_BOOK_METADATA"
INVALID_GENRE = "INVALID_GENRE"
EXTRACT_ZIP = "EXTRACT_ZIP"

# key/value separators of java.util.Properties (FIXTURES.md §B1)
_SEPS = ("=", ": ", " ", "\t=\t", " : ", ":")


@dataclass
class Expected:
    """What one ingestion of the generated files must leave in the sinks."""
    books: dict[str, tuple] = field(default_factory=dict)   # isbn -> control-row tuple
    quarantine: set[tuple[str, str]] = field(default_factory=set)  # (rel path, code)
    chapters: int = 0
    zips: int = 0     # files offered to the program
    entries: int = 0  # non-directory ZIP entries in all readable files


def _props(pairs: list[tuple[str, str]], rng: random.Random) -> bytes:
    """Render key/value pairs in a random mix of the Properties syntax forms:
    comments, the separators above, a line continuation, a \\uXXXX escape
    and raw latin-1 bytes. Values must contain no trailing whitespace."""
    lines = ["# generated metadata", "! alternate comment style", "   "]
    for key, value in pairs:
        sep = rng.choice(_SEPS)
        text = value.replace("\\", "\\\\")
        if "\xe9" in text and rng.random() < 0.5:
            text = text.replace("\xe9", "\\u00e9")
        if " " in text and rng.random() < 0.4:
            head, tail = text.split(" ", 1)
            text = f"{head} \\\n    {tail}"
        lines.append(f"{key}{sep}{text}")
    return ("\r\n" if rng.random() < 0.2 else "\n").join(lines).encode("iso-8859-1") + b"\n"


@dataclass
class Book:
    isbn: str
    title: str
    genre: str
    authors: str
    chapters: int
    pages: int

    def row(self) -> tuple:
        return (self.isbn, self.title, self.genre, self.authors, self.chapters, self.pages)


def _book(rng: random.Random, isbn: str, genre: str | None = None) -> Book:
    return Book(
        isbn=isbn,
        title=f"Caf\xe9 Stories {rng.randint(1, 999)}",
        genre=genre or rng.choice(GENRES),
        authors=f"Author {rng.randint(1, 50)} and Author {rng.randint(51, 99)}",
        chapters=rng.randint(3, 9),
        pages=rng.randint(80, 900),
    )


def _zip(rng: random.Random, book: Book, *, with_book: bool = True) -> bytes:
    buf = io.BytesIO()
    nested = rng.random() < 0.3
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        if nested:
            zf.writestr(zipfile.ZipInfo("chapters/"), b"")  # directory entry: skipped
        if with_book:
            zf.writestr(f"{book.isbn}.txt", _props([
                ("Title", book.title), ("Genre", book.genre), ("Authors", book.authors),
                ("NrOfChapters", str(book.chapters)), ("NrOfPages", str(book.pages)),
            ], rng))
        for n in range(1, book.chapters + 1):
            name = f"chapters/chapter-{n}.txt" if nested else f"chapter-{n}.txt"
            zf.writestr(name, _props([
                ("ChapterNumber", str(n)), ("ChapterTitle", f"Chapter {n}"),
                ("ChapterAuthor", f"Author {rng.randint(1, 99)}"),
            ], rng))
    return buf.getvalue()


class DropGenerator:
    """Drop-folder ZIPs and idempotency ledgers with a planted error mix.

    Every error class of the reference pipeline appears in every batch:
    R6 missing book record, R7 genre outside the dimension, R8/R9/R10
    ledger hits, R15 garbage and truncated ZIPs, a file name that carries
    no ISBN, an upper-case ``.ZIP`` extension, and one ISBN delivered twice
    in the same batch. The batch ISBNs and the ledger ISBNs come from
    disjoint prefixes, so only the planted rows hit a ledger."""

    def __init__(self, seed: int, root: str):
        self.rng = random.Random(seed)
        self.root = root
        self.ledger_dir = os.path.join(root, "ledgers")
        self._next = self.rng.randrange(10**8)
        self.accepted: list[str] = []  # ISBNs already accepted by an earlier batch
        self.hits: dict[str, list[str]] = {"zips": [], "workflows": [], "completed": []}
        os.makedirs(self.ledger_dir, exist_ok=True)

    def _isbn(self) -> str:
        self._next += 1 + self.rng.randrange(3)
        return f"979{self._next % 10**10:010d}"

    def _count_entries(self, data: bytes) -> int:
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            return sum(not i.is_dir() for i in zf.infolist())

    def batch(self, n: int, dest: str, rel: str | None = None,
              redeliveries: int = 0) -> Expected:
        """Write about ``n`` ZIPs to ``root/dest`` and return what their
        ingestion must produce, with quarantine paths given relative to
        ``root`` as if the files lay in ``root/rel`` (default: ``dest``).
        Ledger hits are recorded for write_ledgers."""
        rng, exp, hits = self.rng, Expected(), self.hits
        os.makedirs(os.path.join(self.root, dest), exist_ok=True)

        def put(name: str, data: bytes, readable: bool = True) -> str:
            with open(os.path.join(self.root, dest, name), "wb") as fh:
                fh.write(data)
            exp.zips += 1
            if readable:
                exp.entries += self._count_entries(data)
            return os.path.join(rel or dest, name)

        def clean(name_fmt: str = "{}.zip") -> None:
            b = _book(rng, self._isbn())
            put(name_fmt.format(b.isbn), _zip(rng, b))
            exp.books[b.isbn] = b.row()
            exp.chapters += b.chapters
            self.accepted.append(b.isbn)

        n_err = max(1, n // 50)
        # ledger hits: skipped before the parse, no output at all
        for kind in ("zips", "workflows", "completed"):
            for _ in range(n_err):
                b = _book(rng, self._isbn())
                put(f"{b.isbn}.zip", _zip(rng, b))
                hits[kind].append(f"{b.isbn}.zip" if kind == "zips" else b.isbn)
        # re-deliveries of ISBNs accepted by an earlier batch, at a new path
        for isbn in rng.sample(self.accepted, min(redeliveries, len(self.accepted))):
            put(f"{isbn}.zip", _zip(rng, _book(rng, isbn)))
        for _ in range(n_err):
            b = _book(rng, self._isbn())
            exp.quarantine.add((put(f"{b.isbn}.zip", _zip(rng, b, with_book=False)), MISSING_BOOK))
            b = _book(rng, self._isbn(), genre=rng.choice(BAD_GENRES))
            exp.quarantine.add((put(f"{b.isbn}.zip", _zip(rng, b)), INVALID_GENRE))
            b = _book(rng, self._isbn())
            garbage = rng.randbytes(rng.randint(20, 400))
            exp.quarantine.add((put(f"{b.isbn}.zip", garbage, readable=False), EXTRACT_ZIP))
            b = _book(rng, self._isbn())
            truncated = _zip(rng, b)[: rng.randint(10, 60)]
            exp.quarantine.add((put(f"{b.isbn}.zip", truncated, readable=False), EXTRACT_ZIP))
            # a readable ZIP whose name carries no ISBN has no book record key
            b = _book(rng, self._isbn())
            exp.quarantine.add((put(f"catalog-{b.isbn[-6:]}.zip", _zip(rng, b)), MISSING_BOOK))
            clean("{}.ZIP")
            # the same ISBN twice in one batch: one control row, no quarantine
            b = _book(rng, self._isbn())
            data = _zip(rng, b)
            put(f"{b.isbn}.zip", data)
            put(f"{b.isbn}.ZIP", data)
            exp.books[b.isbn] = b.row()
            exp.chapters += b.chapters
            self.accepted.append(b.isbn)
        while exp.zips < n:
            clean()
        return exp

    def write_ledgers(self, size: int) -> None:
        """Write the three ledgers (``size`` filler rows each plus every hit
        planted so far) and the genre dimension."""
        rng, hits = self.rng, self.hits
        filler = [f"978{rng.randrange(10**10):010d}" for _ in range(3 * size)]
        zips = hits["zips"] + [f"{i}.zip" for i in filler[:size]]
        wf = hits["workflows"] + filler[size: 2 * size]
        done = hits["completed"] + filler[2 * size:]
        ts = pa.array([BASE_TS] * len(zips), pa.timestamp("us"))
        pq.write_table(pa.table({"genre_name": GENRES}),
                       os.path.join(self.ledger_dir, "valid_genres.parquet"))
        pq.write_table(pa.table({"zip_name": zips, "ingest_ts": ts}),
                       os.path.join(self.ledger_dir, "ingested_zips.parquet"))
        pq.write_table(pa.table({
            "workflow_id": [f"wf-{i}" for i in wf],
            "isbn": wf,
            "book_title": ["Existing Book"] * len(wf),
            "book_genre": [rng.choice(GENRES) for _ in wf],
            "book_authors": ["Author 1"] * len(wf),
            "nr_of_chapters": pa.array([3] * len(wf), pa.int32()),
            "nr_of_pages": pa.array([120] * len(wf), pa.int32()),
            "publishing_date": pa.array([BASE_TS] * len(wf), pa.timestamp("us")),
        }), os.path.join(self.ledger_dir, "workflows.parquet"))
        pq.write_table(pa.table({
            "isbn": done,
            "year": pa.array([2025] * len(done), pa.int32()),
            "completed_ts": pa.array([BASE_TS] * len(done), pa.timestamp("us")),
        }), os.path.join(self.ledger_dir, "completed_books.parquet"))


# --- corpus / iterative inputs (schemas of FIXTURES.md §A) -----------------

_VOCAB = (
    "the a fast slow big small data table row column key value join merge sort "
    "hash scan filter group agg window order line part customer query batch "
    "stream spark vector index search rank graph edge node tree split leaf"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh", "ja"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def corpus_tables(seed: int, out_dir: str, *, docs: int, orders: int,
                  customers: int, suppliers: int) -> dict[str, int]:
    """Write documents/orders/lineitem parquet files in the testdata schemas.

    Documents are space-separated words from a small vocabulary (so the
    quality gate, shingling and LSH banding all do work) with a few exact
    copies for the exact-dedup stage. Prices are exact two-decimal values
    and quantities whole numbers, as the oracles' float contracts assume."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for _ in range(docs):
        if texts and rng.random() < 0.03:
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(8, 90))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    day = timedelta(days=1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(customers) for _ in range(orders)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(orders)],
        "o_totalprice": [rng.randint(100_00, 500_000_00) / 100 for _ in range(orders)],
        "o_orderdate": pa.array([BASE_TS - rng.randrange(3000) * day for _ in range(orders)],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(orders)],
    }), os.path.join(out_dir, "orders.parquet"))

    types = {
        "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(), "l_quantity": pa.float64(),
        "l_extendedprice": pa.float64(), "l_discount": pa.float64(), "l_tax": pa.float64(),
        "l_returnflag": pa.string(), "l_linestatus": pa.string(),
        "l_shipdate": pa.timestamp("us"),
    }
    rows: dict[str, list] = {k: [] for k in types}
    for o in range(orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = rng.randint(1, 50)
            for k, v in zip(types, (
                o, rng.randrange(200), rng.randrange(suppliers), ln, float(qty),
                qty * rng.randint(900_00, 2_100_00) / 100, rng.randint(0, 10) / 100,
                rng.randint(0, 8) / 100, rng.choice("ANR"), rng.choice("FO"),
                BASE_TS - rng.randrange(3000) * day,
            )):
                rows[k].append(v)
    pq.write_table(pa.table({k: pa.array(v, types[k]) for k, v in rows.items()}),
                   os.path.join(out_dir, "lineitem.parquet"))
    return {"documents": docs, "orders": orders, "lineitem": len(rows["l_orderkey"])}
