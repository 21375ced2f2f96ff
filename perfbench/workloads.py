"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), warms the
session with a small probe (``warm``), runs its timed work through the
program's public functions (``run``), and then compares every output with
what the generator or the DuckDB oracle says it must be (``check``).
Checks run outside the timed work.

Every workload reports the same end-to-end metrics: ``pass_s`` (the first
run of the workload's main work in the process), ``replay_s`` (median time
of the same input processed again), ``latency_s`` (median time until one
request's result is back) and ``units`` (requests timed for ``latency_s``).

The timed work is a fixed part (the first pass, and for ``ingest`` the
closed-loop waves) followed by replays repeated until ``seconds`` have
passed since the timed work began, at least one. Replays are the
steady-state unit, so a faster or slower host changes how many samples
their median has, not what the other metrics measure.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

from perfbench import gen

BULK_ZIPS = 80      # ZIPs in the backfill drop folder
WAVE_ZIPS = 12      # ZIPs per trickle wave
WAVES = 1           # closed-loop waves per run
LEDGER_FACTOR = 5   # ledger rows per ZIP the ledgers guard


def _rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet sink, read without Spark."""
    if not os.path.isdir(path):
        return []
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}

    def expect(self, ok: bool, what: str) -> None:
        """Count one checked operation; record it if its output was wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Ingest(Workload):
    """The paper's pipeline used two ways on one set of sinks.

    Backfill: ``ingest_batch`` over a drop folder into the control,
    quarantine and chapters tables. Polling: a closed loop with one
    client, where a wave of ZIPs is dropped only after the previous wave's
    control rows are committed, each wave ingested by an ``availableNow``
    Structured Streaming run whose ``foreachBatch`` calls
    ``ingest_from_arrivals`` and both sinks. Replay: the backfill folder
    again, with the R9 ledger refreshed from the control table."""
    name = "ingest"

    def generate(self, root: str) -> None:
        g = gen.DropGenerator(self.seed, root)
        self.root = root
        self.drop, self.stream = f"{root}/drop", f"{root}/stream"
        self.ledger_dir, self.out = g.ledger_dir, f"{root}/out"
        self.bulk = g.batch(BULK_ZIPS, "drop")
        self.waves = [g.batch(WAVE_ZIPS, f"staging/w{k:04d}", f"stream/w{k:04d}", redeliveries=1)
                      for k in range(WAVES)]
        g.write_ledgers(LEDGER_FACTOR * (BULK_ZIPS + WAVE_ZIPS * WAVES))
        os.makedirs(self.stream)

    def warm(self, spark) -> None:
        """Parse a two-ZIP folder: starts the Python workers and loads the
        binaryFile and mapInPandas code paths."""
        from bpspark.sources import parse_zip_entries, scan_drop_folder

        gen.DropGenerator(0, self.root).batch(2, "warm")
        parse_zip_entries(scan_drop_folder(spark, f"{self.root}/warm")) \
            .write.format("noop").mode("overwrite").save()

    def _counts(self) -> tuple[int, int, int]:
        return tuple(len(_rows(f"{self.out}/{t}", [c])) for t, c in
                     (("control", "isbn"), ("quarantine", "path"), ("chapters", "isbn")))

    def _sinks(self, probe, res, prefix: str) -> None:
        from bpspark.pipeline import sink_control_table, sink_quarantine_table

        with probe.layer(f"{prefix}sink_control_table"):
            sink_control_table(res.workflows_new, f"{self.out}/control")
        with probe.layer(f"{prefix}sink_quarantine_table"):
            sink_quarantine_table(res.quarantine, f"{self.out}/quarantine")
        with probe.layer(f"{prefix}silver_chapters"):
            res.silver_chapters.write.mode("append").parquet(f"{self.out}/chapters")

    def _refreshed(self, spark, base):
        """The ledgers with R9 refreshed from the control table."""
        from bpspark.pipeline import Ledgers

        if not os.path.isdir(f"{self.out}/control"):
            return base
        sunk = spark.read.parquet(f"{self.out}/control").select("workflow_id", "isbn")
        return Ledgers(
            valid_genres=base.valid_genres,
            ingested_zips=base.ingested_zips,
            workflows=base.workflows.select("workflow_id", "isbn").unionByName(sunk),
            completed_books=base.completed_books,
        )

    def run(self, spark, probe, seconds: float) -> None:
        from bpspark.pipeline import Ledgers, ingest_batch, ingest_from_arrivals, \
            sink_control_table, sink_quarantine_table
        from bpspark.sources import ZIP_GLOB, with_zip_keys
        from bpspark.streaming import BINFILE_SCHEMA

        t_end = time.perf_counter() + seconds
        base = Ledgers.load(spark, self.ledger_dir)

        t0 = time.perf_counter()
        with probe.span("pass"):
            with probe.layer("pipeline.ingest_batch"):
                res = ingest_batch(spark, self.drop, base)
            probe.force("sources.scan_drop_folder", res.arrivals)
            probe.force("pipeline.ingest_batch.gate", res.new_arrivals)
            probe.force("sources.parse_zip_entries", res.entries)
            self._sinks(probe, res, "pipeline.")
        pass_s = time.perf_counter() - t0

        def process_batch(batch_df, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            res = ingest_from_arrivals(spark, with_zip_keys(batch_df),
                                       self._refreshed(spark, base))
            with probe.layer("pipeline.sink_control_table"):
                sink_control_table(res.workflows_new, f"{self.out}/control")
            with probe.layer("pipeline.sink_quarantine_table"):
                sink_quarantine_table(res.quarantine, f"{self.out}/quarantine")

        stream = (
            spark.readStream.format("binaryFile")
            .schema(BINFILE_SCHEMA)
            .option("pathGlobFilter", ZIP_GLOB)
            .option("recursiveFileLookup", "true")
            .load(self.stream)
        )

        def trigger():
            q = (stream.writeStream.foreachBatch(process_batch)
                 .option("checkpointLocation", f"{self.out}/ckpt")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            return [p for p in q.recentProgress if p.numInputRows > 0]

        latencies: list[float] = []
        expected = list(self._counts()[:2])
        for k, wave in enumerate(self.waves):
            probe.pass_id = k + 1
            t0 = time.perf_counter()
            with probe.span("wave"):
                os.rename(f"{self.root}/staging/w{k:04d}", f"{self.stream}/w{k:04d}")
                progress = trigger()
            latencies.append(time.perf_counter() - t0)
            for p in progress:
                for key in ("addBatch", "triggerExecution", "latestOffset", "walCommit"):
                    probe.add("streaming.batch", key, p.durationMs.get(key, 0))
                probe.add("streaming.batch", "batches", 1)
            probe.add("streaming.wave", "wait_s", latencies[-1] - sum(
                p.durationMs.get("triggerExecution", 0) for p in progress) / 1e3)
            expected[0] += len(wave.books)
            expected[1] += len(wave.quarantine)
            got = self._counts()[:2]
            self.expect(got == tuple(expected), f"wave {k}: sinks hold {got}, expected {expected}")
        before = self._counts()
        trigger()  # no new files: the restarted stream must add nothing
        self.expect(self._counts() == before, "no-new-files trigger added rows")

        replays: list[float] = []
        while not replays or time.perf_counter() < t_end:
            probe.pass_id = len(self.waves) + len(replays) + 1
            t0 = time.perf_counter()
            with probe.span("replay"):
                self._sinks(probe, ingest_batch(spark, self.drop, self._refreshed(spark, base)),
                            "pipeline.replay.")
            replays.append(time.perf_counter() - t0)
            self.expect(self._counts() == before,
                        f"replay {len(replays)} changed sink row counts "
                        f"{before} -> {self._counts()}")

        self.metrics.update(
            pass_s=pass_s, replay_s=statistics.median(replays),
            latency_s=statistics.median(latencies), units=len(latencies),
            replays=len(replays), zips_per_s=self.bulk.zips / pass_s,
            zips=self.bulk.zips + sum(w.zips for w in self.waves),
            entries=self.bulk.entries + sum(w.entries for w in self.waves),
        )
        self.wave_latencies = latencies

    def check(self, spark) -> None:
        exp = gen.Expected(books=dict(self.bulk.books), quarantine=set(self.bulk.quarantine))
        for w in self.waves:
            exp.books.update(w.books)
            exp.quarantine |= w.quarantine
        control = _rows(f"{self.out}/control", ["isbn", "book_title", "book_genre",
                                                "book_authors", "nr_of_chapters", "nr_of_pages"])
        self.expect(sorted(control) == sorted(exp.books.values()),
                    f"control rows differ from the expected accepted books "
                    f"({len(control)} rows vs {len(exp.books)} books)")
        rows = _rows(f"{self.out}/quarantine", ["path", "error_code"])
        quarantine = {(p.split(self.root + "/", 1)[1], c) for p, c in rows}
        self.expect(quarantine == exp.quarantine and len(rows) == len(exp.quarantine),
                    f"quarantine rows differ: extra {sorted(quarantine - exp.quarantine)[:3]} "
                    f"missing {sorted(exp.quarantine - quarantine)[:3]}")
        n = len(_rows(f"{self.out}/chapters", ["isbn"]))  # the stream writes no chapters
        self.expect(n == self.bulk.chapters, f"{n} chapter rows, expected {self.bulk.chapters}")


# corpus/iterative op list in funnel order: (layer module, op name)
CORPUS_OPS = [
    ("selection", "dedup_url_canonicalized"),
    ("quality", "text_perplexity_ngram"),
    ("llm_ops", "dedup_simhash"),
    ("graph", "graph_pagerank"),
    ("analytics", "ml_gbdt_hist"),
]


class CorpusIter(Workload):
    """The corpus operators (URL-canonical dedup, n-gram perplexity scoring,
    SimHash dedup, MinHash-LSH candidate pairs) and the driver-round-trip
    bound iterative operators (PageRank, histogram GBDT), one call each per
    pass. The first pass is cold; the replays run the same op list again on
    the unchanged corpus, and each operator call in them is one request for
    ``latency_s``."""
    name = "corpus_iter"

    def generate(self, root: str) -> None:
        self.data = f"{root}/data"
        self.sizes = gen.corpus_tables(self.seed, self.data, docs=500, orders=1500,
                                       customers=150, suppliers=10)

    def warm(self, spark) -> None:
        spark.read.parquet(f"{self.data}/documents.parquet").mapInPandas(
            lambda it: it, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.format("noop").mode("overwrite").save()

    def _pass(self, spark, probe, suffix: str) -> tuple[dict, list[float]]:
        """One call of each operator; returns the outputs and each call's
        latency. Layer names carry ``suffix`` so replays count apart."""
        import importlib

        from bpspark.llm_ops import minhash_candidate_pairs

        ops = [(f"{m}.{n}", getattr(importlib.import_module(f"bpspark.{m}"), n))
               for m, n in CORPUS_OPS]
        ops.append(("llm_ops.minhash_candidate_pairs", lambda spark, data: minhash_candidate_pairs(
            spark.read.parquet(f"{data}/documents.parquet").select("doc_id", "text"))))
        outputs, latencies = {}, []
        for layer, fn in ops:
            t0 = time.perf_counter()
            with probe.layer(layer + suffix):
                outputs[layer] = fn(spark, self.data).toPandas()
            latencies.append(time.perf_counter() - t0)
        return outputs, latencies

    def run(self, spark, probe, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        t0 = time.perf_counter()
        with probe.span("pass"):
            self.outputs = self._pass(spark, probe, "")[0]
        pass_s = time.perf_counter() - t0
        self.pairs = self.outputs["llm_ops.minhash_candidate_pairs"]
        probe.add("llm_ops.minhash_candidate_pairs", "pairs", len(self.pairs))

        replays, latencies, self.replayed = [], [], []
        while not replays or time.perf_counter() < t_end:
            probe.pass_id = 1 + len(replays)
            t0 = time.perf_counter()
            with probe.span("replay"):
                outputs, op_latencies = self._pass(spark, probe, ".replay")
            replays.append(time.perf_counter() - t0)
            self.replayed.append(outputs)
            latencies += op_latencies
        self.metrics.update(pass_s=pass_s, replay_s=statistics.median(replays),
                            latency_s=statistics.median(latencies), units=len(latencies),
                            replays=len(replays))

    def check(self, spark) -> None:
        import duckdb

        import __spark_entry__
        from tests.oracle_compare import canonical_rows, compare_frames

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in self.sizes:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for layer, pdf in self.outputs.items():
            name = layer.split(".", 1)[1]
            if name in oracle:
                problems = compare_frames(pdf, con.sql(oracle[name]).df(), name)
                self.expect(not problems, f"{name}: {problems[:3]}")
        for r, outputs in enumerate(self.replayed):
            same = all(canonical_rows(outputs[k]) == canonical_rows(v)
                       for k, v in self.outputs.items())
            self.expect(same, f"replay {r} output differs from the first pass")
        docs = pq.read_table(f"{self.data}/documents.parquet", columns=["doc_id", "text"])
        seen: dict[str, int] = {}
        dups = set()
        for d, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
            if t in seen:
                dups.add((seen[t], d))
            else:
                seen[t] = d
        found = set(zip(self.pairs["doc_a"], self.pairs["doc_b"]))
        self.expect(dups <= found, f"minhash_candidate_pairs missed exact duplicates "
                                   f"{sorted(dups - found)[:3]}")


WORKLOADS = {w.name: w for w in (Ingest, CorpusIter)}
