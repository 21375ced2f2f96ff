"""Table loaders for the driver-provided parquet testdata (TESTDATA.md).

One function so every operator reads through the same path: a plain
columnar parquet scan that Catalyst can push filters/projections into.
The module also holds the package's one materialization call
(:func:`materialize`) and its scratch directories (:func:`scratch`,
:func:`state_dir`).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """Version-adaptive raw read of an events parquet (TIMESTAMP(NANOS) ts).

    Spark 4.x reads NANOS natively as TIMESTAMP_NTZ (floor-truncated to µs —
    identical to DuckDB's µs arithmetic), so the plain read succeeds and no
    legacy conf is ever touched. Older builds reject the NANOS logical type
    unless ``spark.sql.legacy.parquet.nanosAsLong`` is set, which yields raw
    nano LongType — only then is the conf set, and it is left set
    deliberately: on such a build *every* events read (batch and streaming)
    needs it, so batch and stream stay consistent by construction.
    """
    try:
        return _read_parquet_cached_schema(spark, path)
    except Exception as ex:
        # Only the NANOS-rejection case warrants the legacy conf — a
        # transient failure (missing file, permissions) must re-raise
        # untouched, or it would flip every later events read in the
        # session to raw-nano LongType.
        msg = str(ex)
        if "NANOS" not in msg and "nanosAsLong" not in msg:
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC (tz-stability contract).

    Every testdata timestamp column is tz-naive (parquet MICROS/NANOS,
    isAdjustedToUTC=false → TIMESTAMP_NTZ on Spark ≥4), and the DuckDB
    oracle does naive-timestamp arithmetic. Any NTZ↔LTZ coercion Spark
    inserts — ``lit(...).cast('timestamp')`` predicate boundaries, the
    events ``ts`` normalization, date_trunc/window/hour over the result —
    goes through the *session* timezone, so a vanilla session on a non-UTC
    host would shift instants vs the oracle. Pinning UTC at plan-build time
    (every op reads through :func:`table`) makes all of it tz-stable
    regardless of host timezone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Normalize the raw ``ts`` column (NTZ or raw-nano long, per the Spark
    version) to one µs TimestampType every downstream op sees, under the
    UTC pin (:func:`pin_utc`) so the NTZ→LTZ cast is tz-stable.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    pin_utc(spark)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Schema-by-path cache for table(): spark.read.parquet() re-infers the
# schema from parquet footers on EVERY call (~90-120 ms of driver time per
# table measured on this host — the single largest plan-construction cost
# in the r12 profile; guide §5, the driver should do almost no data work).
# Passing the schema explicitly skips inference. This caches METADATA only
# (never data or results) and is invalidated by a stat fingerprint
# (size + mtime_ns of the SINGLE file — directory tables are never cached:
# _path_stat_key raises for them, so they always take the plain-read
# path), so a regenerated table re-infers. Same class as Spark's own
# FileIndex cache. Keyed by path alone, which assumes one set of
# schema-affecting parquet confs per process (ADVICE r12): a second
# SparkSession in the same process with different inference confs (e.g.
# nanosAsLong, NTZ inference) would reuse schemas inferred under the
# first's — every harness in this repo builds sessions with identical
# parquet confs, and the events table (the one conf-sensitive reader)
# goes through read_events_raw, which handles the NANOS fork itself.
_SCHEMA_CACHE: dict = {}


def _path_stat_key(path: str):
    import os

    st = os.stat(path)
    if os.path.isdir(path):
        # Directory tables: a full os.walk per plan build could cost more
        # than the footer inference it avoids at production file counts —
        # don't cache those (raise → caller takes the plain-read path).
        raise OSError("directory table — schema cache skipped")
    return (st.st_size, st.st_mtime_ns)


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        stat_key = _path_stat_key(path)
    except OSError:
        return spark.read.parquet(path)  # dirs / globs / remote: plain read
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None and cached[0] == stat_key:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (stat_key, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table; filters/pruning push into the parquet read.

    ``events`` goes through the version-adaptive raw read + ts
    normalization above; everything else is a plain columnar scan with
    pushdown (schema resolved once per file fingerprint — see
    _SCHEMA_CACHE).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    pin_utc(spark)
    if name == "events":
        df = read_events_raw(spark, f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(spark, df)
    return _read_parquet_cached_schema(spark, f"{sf_dir}/{name}.parquet")


# Ticks once per io.materialize call; obs.profile takes next() before and
# after a call. next() on a count is atomic, and a foreachBatch body calls
# materialize from Spark's callback thread.
_MATERIALIZE_CALLS = itertools.count()


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the stored rows;
    the one way an op pins an intermediate result.

    A frame read by several actions or consumers, or carried from one
    round of a loop to the next, is computed once here and its lineage is
    cut, so Catalyst neither re-runs nor re-analyzes the subtree. AQE has
    run the plan by then, so the stored frame keeps the partition count
    AQE chose.

    Where the rows go: a reliable ``checkpoint()`` when the SparkContext
    has a checkpoint directory (Spark's own ``spark.checkpoint.dir`` or
    ``setCheckpointDir``), which is the cluster posture: the files
    survive the loss of the executor that wrote them. Otherwise
    ``localCheckpoint()``: the blocks live in executor storage, and with
    no lineage to replay, a lost block fails the next read ("Checkpoint
    block ... not found") rather than returning other rows.

    Not ``cache()``/``persist()``: the CacheManager pins a cached frame
    until an ``unpersist()`` the caller has to remember, and AQE may not
    coalesce a cached plan's output, so every stage reading it runs
    ``spark.sql.shuffle.partitions`` tasks. Checkpoint blocks go with
    the frame: Spark's ContextCleaner frees them once it is
    garbage-collected (checkpoint files only under
    ``spark.cleaner.referenceTracking.cleanCheckpoints``)."""
    next(_MATERIALIZE_CALLS)
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint()


# Scratch lifecycle: every file an op writes lives under ONE directory per
# process, made lazily under tempfile.gettempdir() (so it follows TMPDIR)
# and removed at interpreter exit. Ops return lazy frames that may read
# these files, so the files live exactly as long as the process that can
# still read them; nothing outlives it, nothing is shared across processes.
_ROOT: tuple[int, str] | None = None  # (creator pid, path)


def _remove_root(pid: int, path: str) -> None:
    import os
    import shutil

    if os.getpid() == pid:  # a forked child must not delete the driver's files
        shutil.rmtree(path, ignore_errors=True)


def _root() -> str:
    global _ROOT
    if _ROOT is None:
        import atexit
        import os
        import tempfile

        _ROOT = (os.getpid(), tempfile.mkdtemp(prefix="bpspark_"))
        atexit.register(_remove_root, *_ROOT)
    return _ROOT[1]


def scratch(tag: str) -> str:
    """A fresh, empty directory for one call of op ``tag``, removed with
    the process's scratch root at exit."""
    import tempfile

    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_root())


def _file_print(full: str, rel: str) -> str:
    """One file's fingerprint line: (relpath, size, mtime_ns) plus a
    64-byte head/tail content sample (ADVICE r11: a same-size corpus
    regeneration on a filesystem with coarse mtime granularity could
    slip past a pure stat fingerprint; parquet head/tail cover the
    magic + footer metadata, which change with any rewrite)."""
    import hashlib
    import os

    st = os.stat(full)
    with open(full, "rb") as fh:
        head = fh.read(64)
        fh.seek(max(0, st.st_size - 64))
        tail = fh.read(64)
    sample = hashlib.md5(head + tail).hexdigest()[:8]
    return f"{rel}:{st.st_size}:{st.st_mtime_ns}:{sample}"


def _sf_data_fingerprint(sf_dir: str) -> str:
    """Cheap filesystem fingerprint of every parquet table under
    ``sf_dir`` — (relative path, size, mtime_ns, 128-byte content
    sample) per file, md5-folded; empty when there is no table. It
    changes whenever ANY table is rewritten, so state and memos keyed on
    it are never served from the previous files."""
    import glob
    import hashlib
    import os

    parts: list[str] = []
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        try:
            if os.path.isdir(p):
                for root, dirs, files in os.walk(p):
                    dirs.sort()
                    for f in sorted(files):
                        full = os.path.join(root, f)
                        parts.append(_file_print(full, os.path.relpath(full, sf_dir)))
            else:
                parts.append(_file_print(p, os.path.basename(p)))
        except OSError:
            continue
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:10] if parts else ""


def state_dir(tag: str, sf_dir: str) -> str:
    """State directory for op ``tag`` at ``sf_dir`` under the process's
    scratch root, memoized by existence within the process. The dataset
    fingerprint in the name keeps stale state from being reused: a
    harness that regenerates the corpus at the same path must not be
    served state derived from the previous files (the r10 BPE-memo bug
    class, closed here for every state-dir-guarded op at once)."""
    import os

    return os.path.join(
        _root(),
        f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{_sf_data_fingerprint(sf_dir)}",
    )
