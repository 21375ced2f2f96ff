"""Per-call Spark counters: what one call of an op or pipeline step ran.

``profile(spark, fn)`` runs ``fn()`` under a job group of its own, waits
for the listener bus to drain (the status stores are listener-fed) and sums
the stages of the group's jobs from ``AppStatusStore.lastStageAttempt``.
A stage a job lists but never runs, because its shuffle output already
exists (the map side of a frame collected twice, an adaptive plan's final
job), is SKIPPED and counts nothing; the status tracker's per-stage task
count would add its tasks all the same.

Counters:

  jobs                 Spark jobs the call submitted
  stages, tasks        stages that ran, and their tasks
  shuffle_write_bytes  bytes the call's map tasks wrote
  shuffle_read_bytes   bytes its reduce tasks read
  spill_bytes          memory plus disk bytes spilled
  result_bytes         task results sent to the driver (collects,
                       broadcasts, checkpoint and map statuses)
  materializations     ``io.materialize`` calls made inside ``fn``
"""

from __future__ import annotations

import itertools
from typing import Any, Callable

from pyspark.sql import SparkSession

from bpspark import io

_GROUPS = itertools.count()


def profile(spark: SparkSession, fn: Callable[[], Any]) -> tuple[Any, dict[str, int]]:
    """``(fn(), counters)`` for one call; see the module docstring."""
    sc = spark.sparkContext
    group = f"bpspark.obs#{next(_GROUPS)}"
    sc.setJobGroup(group, "bpspark.obs.profile")
    start = next(io._MATERIALIZE_CALLS)
    try:
        value = fn()
    finally:
        sc.setJobGroup("", "")
        calls = next(io._MATERIALIZE_CALLS) - start - 1
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store, tracker = jsc.statusStore(), sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    c = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_write_bytes",
                       "shuffle_read_bytes", "spill_bytes", "result_bytes"), 0)
    c["jobs"], c["materializations"] = len(jobs), calls
    for sid in sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds}):
        # Past spark.ui.retainedStages the store evicts SKIPPED stages
        # first (their completion time is -1), so a stage it no longer
        # has did not run.
        if tracker.getStageInfo(sid) is None:
            continue
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["shuffle_write_bytes"] += st.shuffleWriteBytes()
        c["shuffle_read_bytes"] += st.shuffleReadBytes()
        c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        c["result_bytes"] += st.resultSize()
    return value, c
