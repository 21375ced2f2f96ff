"""SparkSession builder with the engine's tuned configuration.

Scale posture (SURVEY.md §4.4): AQE on (runtime coalesce + skew-join
splitting), Arrow for every pandas-UDF boundary, UTC session time, small
dims broadcast. On a real cluster the same build() is used with a cluster
master URL; nothing here is local-mode-specific. Scratch placement is left
to the deployment: temp files follow ``TMPDIR``, spill and shuffle files
follow ``spark.local.dir`` / ``SPARK_LOCAL_DIRS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configuration that matters at 100 TB and costs nothing at sf0.001:
#  - AQE re-plans shuffles at runtime (partition coalescing, skew splits,
#    dynamic broadcast demotion/promotion).
#  - shuffle.partitions is only the pre-AQE upper bound; AQE coalesces.
#  - Arrow makes every pandas UDF batch-vectorized instead of row pickled.
#  - UTC pins timestamp semantics so results are tz-independent.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": os.environ.get("BPSPARK_SHUFFLE_PARTITIONS", "32"),
    # 10 MB default is fine for TPC-H dims; raise slightly so nation/region/
    # customer-at-small-sf always broadcast without a hint.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def build(app_name: str = "bpspark", master: str | None = None,
          extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("BPSPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
