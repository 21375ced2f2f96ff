"""Per-layer counters and spans for traced runs.

``Probe.layer(name)`` wraps one call into a layer of the program. With
tracing on it tags the call's Spark jobs with their own job group, records
a span (name, start, end, parent, pass id) and, right after the call, reads
the call's counters from Spark's status stores: jobs, stages and tasks
from the status tracker and ``AppStatusStore.lastStageAttempt``, and plan
node metrics (binaryFile files read, MapInPandas rows and Python worker
times) from the SQL status store. Reading right after each call keeps the
stores' retention limits from dropping them. With tracing off every method
is a no-op, so untraced runs time the program alone.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL plan metrics read per layer call: (node-name prefix, metric name) -> counter
_PLAN_METRICS = {
    ("Scan binaryFile", "number of files read"): "files_read",
    ("MapInPandas", "number of output rows"): "python_rows",
    ("MapInPandas", "time to run Python workers"): "python_run_s",
    ("MapInPandas", "time to initialize Python workers"): "python_init_s",
    ("MapInPandas", "time to start Python workers"): "python_start_s",
}
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """Parse the SQL status store's rendering of one metric: a plain count
    ('1,257') or, for timings, the total line ('total (min, med, max ...)'
    followed by '10.6 s (236 ms, ...)')."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([a-z]*)", line)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_S[m.group(2)] if m.group(2) else value


class Probe:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.pass_id = 0
        self.spans: list[dict] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.forced: set[str] = set()  # layer names of the traced-only noop writes
        self._stack: list[int] = []
        self._seq = 0
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._tracker = sc.statusTracker()
            self._app = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._bus = sc._jsc.sc().listenerBus()

    @contextmanager
    def span(self, name: str):
        """A span with no Spark counters (pass, wave, driver-side steps)."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "pass": self.pass_id, "start": time.time(), "end": None,
               "parent": self.spans[self._stack[-1]]["name"] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def layer(self, name: str):
        """One call into a program layer; counters accumulate under ``name``."""
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        self._sc.setJobGroup(group, name)
        try:
            with self.span(name):
                yield
        finally:
            self._sc.setJobGroup("", "")
            self._harvest(name, group)

    def force(self, name: str, df) -> None:
        """Traced runs only: run a lazy frame at a layer boundary with a
        ``noop`` write, so the layer's work has a span of its own."""
        if self.enabled:
            self.forced.add(name)
            with self.layer(name):
                df.write.format("noop").mode("overwrite").save()

    def _harvest(self, name: str, group: str) -> None:
        self._bus.waitUntilEmpty(30_000)
        c = self.counters[name]
        job_ids = set(self._tracker.getJobIdsForGroup(group))
        c["calls"] += 1
        c["jobs"] += len(job_ids)
        for jid in job_ids:
            self._add_stages(c, self._tracker.getJobInfo(jid).stageIds)
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in ex.jobs().keys().toSeq().mkString(",").split(",") if j}
            if not ex_jobs & job_ids:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = next((v for (prefix, mname), v in _PLAN_METRICS.items()
                                if node.name().startswith(prefix) and m.name() == mname), None)
                    opt = values.get(m.accumulatorId()) if key else None
                    if key and opt.isDefined():
                        c[key] += _metric_value(opt.get())

    def _add_stages(self, c: dict[str, float], stage_ids) -> None:
        for sid in stage_ids:
            st = self._app.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def run_totals(self, start: float, end: float) -> dict[str, float]:
        """Engine counters of every job submitted in [start, end] (epoch
        seconds) except the traced-only noop writes, and ``job_gap_s``: the
        part of the interval in which no job was running (driver planning
        and round-trips)."""
        self._bus.waitUntilEmpty(30_000)
        c: dict[str, float] = defaultdict(float)
        windows = []
        jobs = self._app.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            t0 = job.submissionTime().get().getTime() / 1e3
            if not start <= t0 <= end:
                continue
            group = job.jobGroup().get() if job.jobGroup().isDefined() else ""
            if group.split("#")[0] in self.forced:
                continue
            c["jobs"] += 1
            self._add_stages(c, [job.stageIds().apply(k) for k in range(job.stageIds().size())])
            windows.append((t0, job.completionTime().get().getTime() / 1e3))
        covered, cur = 0.0, start
        for a, b in sorted(windows):
            a, b = max(a, cur), min(b, end)
            if b > a:
                covered += b - a
                cur = b
        c["job_gap_s"] = (end - start) - covered
        return c

    def add(self, name: str, key: str, value: float) -> None:
        """A counter measured by the benchmark itself (rows, pairs, waits)."""
        if self.enabled:
            self.counters[name][key] += value

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its child spans, summed
        per span name over the run."""
        child = [0.0] * len(self.spans)
        for i, s in enumerate(self.spans):
            for j in range(i - 1, -1, -1):  # parent = nearest enclosing earlier span
                p = self.spans[j]
                if p["name"] == s["parent"] and p["start"] <= s["start"] and s["end"] <= p["end"]:
                    child[j] += s["end"] - s["start"]
                    break
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "counters": {k: dict(v) for k, v in self.counters.items()}}, fh, indent=1)
