"""Per-layer metrics of a traced run.

``PER_LAYER`` is the fixed list every traced run reports, whatever the
workload: a layer that a workload bypasses reports 0, which is what it
did. Counts and times are totals over the run's fixed work (the first
pass, and for ``ingest`` its waves); replay figures are per replay, and the
streaming figures per micro-batch and per wave, because the number of
replays depends on how fast the host is. The "real pass" counters are
summed over the calls an untraced run also makes, never over the ``noop``
writes a traced run adds at layer boundaries.
"""

from __future__ import annotations

import time

_SPARK = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
          "gc_s", "shuffle_write_bytes", "spill_bytes", "job_gap_s")
_UNIT = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
         "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
_OPS = ("selection.dedup_url_canonicalized", "quality.text_perplexity_ngram",
        "llm_ops.dedup_simhash", "graph.graph_pagerank", "analytics.ml_gbdt_hist")
# calls whose Python and file-scan counters make up one ingestion pass
_PASS_CALLS = ("pipeline.sink_control_table", "pipeline.sink_quarantine_table",
               "pipeline.silver_chapters")
_REPLAY_CALLS = tuple(c.replace("pipeline.", "pipeline.replay.") for c in _PASS_CALLS)

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.build_s", "s", "lower"),
    ("spark.jvm_launch_s", "s", "lower"),
    ("config.scratch_left_bytes", "bytes", "lower"),
    ("sources.scan_drop_folder.s", "s", "lower"),
    ("sources.scan_drop_folder.files_read_per_zip", "ratio", "lower"),
    ("sources.parse_zip_entries.s", "s", "lower"),
    ("sources.parse_zip_entries.parses_per_zip", "ratio", "lower"),
    ("sources.parse_zip_entries.python_run_task_s", "s", "lower"),
    ("sources.parse_zip_entries.python_init_task_s", "s", "lower"),
    ("sources.parse_zip_entries.python_start_task_s", "s", "lower"),
    ("parse.parse_metadata_zip.zips_per_s_1core", "1/s", "higher"),
    ("pipeline.ingest_batch.s", "s", "lower"),
    ("pipeline.ingest_batch.gate_s", "s", "lower"),
    ("pipeline.replay.s", "s", "lower"),
    ("pipeline.replay.parse_rows", "count", "lower"),
    *[(f"pipeline.{sink}.{k}", _UNIT.get(k, "s"), "lower")
      for sink in ("sink_control_table", "sink_quarantine_table")
      for k in ("s", "jobs", "stages", "tasks")],
    ("pipeline.silver_chapters.s", "s", "lower"),
    ("streaming.batch.add_batch_ms", "ms", "lower"),
    ("streaming.batch.trigger_ms", "ms", "lower"),
    ("streaming.batch.latest_offset_ms", "ms", "lower"),
    ("streaming.batch.wal_commit_ms", "ms", "lower"),
    ("streaming.wave.wait_s", "s", "lower"),
    ("streaming.wave.latency_max_s", "s", "lower"),
    *[(f"{op}.{k}", _UNIT.get(k, "s"), "lower")
      for op in _OPS for k in ("s", "jobs", "stages", "shuffle_write_bytes")],
    ("llm_ops.minhash_candidate_pairs.s", "s", "lower"),
    ("llm_ops.minhash_candidate_pairs.pairs", "count", "higher"),
    *[(f"spark.{k}", _UNIT.get(k, "s"), "lower") for k in _SPARK],
    ("trace.pass_s", "s", "lower"),
    ("trace.glue_s", "s", "lower"),
]


def _kernel_zips_per_s(drop: str) -> float:
    """The worker-side parse kernel, timed in this process on one core over
    every generated ZIP it can open."""
    import os

    from bpspark.parse import parse_metadata_zip

    blobs = []
    for d, _, files in os.walk(drop):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                blobs.append(fh.read())
    t0, n = time.perf_counter(), 0
    for b in blobs:
        try:
            parse_metadata_zip(b)
        except Exception:  # noqa: BLE001 — corrupt ZIPs count as parse attempts
            pass
        n += 1
    return n / (time.perf_counter() - t0)


def per_layer(probe, workload, *, jvm_launch_s: float, build_s: float) -> dict[str, tuple[float, str]]:
    c, selfs = probe.counters, probe.self_times()
    v: dict[str, float] = {k: 0.0 for k, _, _ in PER_LAYER}

    def total(calls, key):
        return sum(c[n][key] for n in calls if n in c)

    v["session.build_s"] = build_s
    v["spark.jvm_launch_s"] = jvm_launch_s
    for name in list(c) + list(selfs):
        if f"{name}.s" in v:
            v[f"{name}.s"] = selfs.get(name, 0.0)
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            if f"{name}.{k}" in v:
                v[f"{name}.{k}"] = c[name][k] if name in c else 0.0

    if hasattr(workload, "drop"):  # the ingestion workloads
        zips, entries = workload.metrics["zips"], workload.metrics["entries"]
        v["sources.scan_drop_folder.files_read_per_zip"] = total(_PASS_CALLS, "files_read") / zips
        v["sources.parse_zip_entries.parses_per_zip"] = total(_PASS_CALLS, "python_rows") / entries
        for k in ("run", "init", "start"):
            v[f"sources.parse_zip_entries.python_{k}_task_s"] = \
                total(_PASS_CALLS, f"python_{k}_s")
        v["parse.parse_metadata_zip.zips_per_s_1core"] = _kernel_zips_per_s(workload.drop)
        v["pipeline.ingest_batch.gate_s"] = selfs.get("pipeline.ingest_batch.gate", 0.0)
        replays = workload.metrics["replays"]
        v["pipeline.replay.s"] = sum(
            s["end"] - s["start"] for s in probe.spans if s["name"] == "replay") / replays
        v["pipeline.replay.parse_rows"] = total(_REPLAY_CALLS, "python_rows") / replays

    if "streaming.batch" in c:
        b = c["streaming.batch"]
        for key, name in (("addBatch", "add_batch_ms"), ("triggerExecution", "trigger_ms"),
                          ("latestOffset", "latest_offset_ms"), ("walCommit", "wal_commit_ms")):
            v[f"streaming.batch.{name}"] = b[key] / max(b["batches"], 1)
        v["streaming.wave.wait_s"] = c["streaming.wave"]["wait_s"] / len(workload.wave_latencies)
        v["streaming.wave.latency_max_s"] = max(workload.wave_latencies)
    if "llm_ops.minhash_candidate_pairs" in c:
        v["llm_ops.minhash_candidate_pairs.pairs"] = c["llm_ops.minhash_candidate_pairs"]["pairs"]

    first = next(s for s in probe.spans if s["name"] == "pass")
    engine = probe.run_totals(first["start"], first["end"])
    for k in _SPARK:
        v[f"spark.{k}"] = engine[k]
    v["trace.pass_s"] = first["end"] - first["start"]
    v["trace.glue_s"] = selfs["pass"]
    units_of = {k: u for k, u, _ in PER_LAYER}
    return {k: (float(x), units_of[k]) for k, x in v.items()}
