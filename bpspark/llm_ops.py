"""LLM-data-pipeline operators (SURVEY §2.3 extensions; north star in
BASELINE.json): deduplication, similarity search, text analysis,
multimodal column plumbing — over the ``documents`` and ``embeddings``
testdata tables.

Scale stance (the whole point of these ops at 100 TB):
- NO all-pairs crossJoin anywhere: near-dup and ANN ops prune candidates
  with LSH banding / IVF bucketing first; only bucket-mates are compared.
- shingling/minhash/simhash are pure JVM expressions (higher-order
  functions over arrays; test_simhash_plan_has_no_python_boundary pins
  the r8 simhash rewire) — Python appears only where vectorized-batch
  semantics genuinely need it (binary multimodal decode), always via
  Arrow-batched pandas UDFs.
- every similarity comparison is written so partial work distributes:
  hash-partition by band/bucket, aggregate per group.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bpspark.io import _sf_data_fingerprint, build_once, materialize, scratch, table
from bpspark.registry import op


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@op(
    "dedup_exact_hash",
    sql="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Exact text dedup by content hash: one keeper per hash group. The
    shuffle carries only (hash, doc_id) — at 100 TB the document bodies
    never move, and map-side partial aggregation collapses local copies."""
    d = table(spark, sf, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# shared near-dup corpus: testdata has no duplicates, so ops that *detect*
# near-duplicates plant them deterministically — every doc_id < 25 gets a
# lightly-perturbed twin at doc_id + 1_000_000 (one word appended).
def _docs_with_planted_neardups(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select("doc_id", "text")
    twins = (
        d.filter(F.col("doc_id") < 25)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
        )
    )
    return d.unionByName(twins)


def _word_shingles(text_col, n: int = 3):
    """n-word shingles as an array column (JVM higher-order fns only).

    Guard for docs shorter than n words: ``sequence(1, k)`` with k < 1
    generates a DESCENDING [1, 0, ...] (Spark infers step -1, it does not
    return empty), so ``element_at(words, 0)`` would throw — short docs
    must short-circuit to an empty array, matching DuckDB's
    ``range(1, len-n+2)`` which IS empty when stop ≤ start.

    The split is LET-BOUND as the lambda variable of a one-element outer
    ``transform`` (r13): the old form inlined the ``split(text, ' ')``
    expression tree at every ``element_at(words, …)`` site — n+1 copies —
    and higher-order lambdas run interpreted (CodegenFallback), so every
    shingle re-split the whole document. Binding the evaluated array once
    per row is the expression-level equivalent of projecting the split
    into its own column (measured at sf0.1: the 20-gram explode 2.3 s →
    0.3 s, the 3-gram explode 0.9 s → 0.2 s; strings byte-identical —
    the inner lambda is unchanged, exceptAll = 0 for every consumer)."""

    def _per_words(words):
        k = F.size(words) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(
        F.transform(F.array(F.split(text_col, " ")), _per_words), 1
    )


N_HASHES = 64
N_BANDS = 16  # r = 4 rows/band → LSH threshold (1/16)^(1/4) ≈ 0.5 jaccard
# Hard cap on LSH bucket size before pair emission: a bucket of B members
# emits B·(B-1)/2 pairs, so an uncapped hot bucket (empty/boilerplate docs
# sharing a signature) is the one quadratic blow-up in the pipeline. 64
# members → ≤2016 pairs per bucket, bounded regardless of corpus skew.
BUCKET_CAP = 64


# Shingle hashes as ONE array expression: hash every word once, then hash
# consecutive word-hash triples by index. Bit-identical to the r7 form that
# exploded words and combined them with window ``lead`` (proven by exceptAll
# at sf0.001/0.01/0.1 in r12), but with no window at all — the per-doc sort
# and the Window node disappear from the plan, and only (doc_id, h) rows
# ever leave the scan task. The short-doc guard mirrors _word_shingles:
# sequence(1, k) with k < 1 would generate a DESCENDING range, so docs
# under 3 words short-circuit to an empty array (explode then drops them,
# exactly like the old lead-IS-NULL filter).
_SHINGLE_HASHES_SQL = (
    "CASE WHEN size(hws) >= 3 THEN "
    "transform(sequence(1, size(hws) - 2), "
    "i -> xxhash64(element_at(hws, i), element_at(hws, i + 1), element_at(hws, i + 2))) "
    "ELSE array() END"
)


def _parse_size_bytes(v: str) -> int:
    """Spark size-conf string → bytes ("128MB", "134217728b", "1.5g", "64")."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s) * mult)


def _estimated_scan_splits(src: DataFrame) -> int | None:
    """Estimated input-split count of ``src``'s scan: per local file,
    ceil(size / spark.sql.files.maxPartitionBytes) — one big SPLITTABLE
    parquet file is many splits, not one (VERDICT r12 item 2: the old
    file-count gate would have added the very shuffle it exists to avoid
    on a single multi-split file). None = not a statable file source.
    A maxPartitionBytes value that does not parse raises ValueError."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = src.inputFiles()
    except Exception:  # non-file source (memory stream, etc.)
        return None
    if not files:
        return 0
    mpb = _parse_size_bytes(
        src.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    ) or 1
    try:
        splits = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("file", ""):
                raise OSError(f"non-local scheme {u.scheme}")
            sz = os.stat(unquote(u.path)).st_size
            splits += max(1, -(-sz // mpb))
        return splits
    except OSError:
        # un-statable (remote fs, races): fall back to the file count —
        # splits >= files, so this can only over-report starvation the
        # way the pre-r13 gate did, never under-report
        return len(files)


def _spread_if_scan_starved(rows: DataFrame, src: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``rows`` by ``keys`` ONLY when ``src``'s scan cannot
    feed the session's cores (guide §2.5: one huge/tiny unsplittable input →
    repartition immediately after the read). The testdata tables are single
    small parquet files — one input split — so without this every map-side
    partial aggregate downstream of the scan runs on ONE core regardless of
    master size. At 100 TB the source is thousands of splits, the guard is
    false, and no extra shuffle is ever added (a blanket repartition would
    shuffle the full pre-aggregation row stream — a mild pessimization at
    scale, which is why this is gated, not unconditional). Starvation is
    judged on ESTIMATED SPLITS (bytes / maxPartitionBytes per file, r13 —
    see _estimated_scan_splits), with a 4× margin."""
    sc = rows.sparkSession.sparkContext
    par = sc.defaultParallelism
    splits = _estimated_scan_splits(src)
    if splits and splits * 4 < par:
        return rows.repartition(par, *keys)
    return rows


def _minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH rows: shingle → 64 minhashes → 16 banded
    bucket keys.

    Physical shape (re-benched r12): shingle hashes are built as one array
    expression per doc (word-hash triples by index — no shingle strings,
    no window/sort; see _SHINGLE_HASHES_SQL) and exploded to rows; the 64
    seeded minhashes are 64 ``min()`` columns of one hash aggregate, so
    the whole signature costs exactly one shuffle of (doc_id, h) rows.
    The heavy per-row work (64 seeded xxhash64 per shingle) stays in
    codegen'd aggregate expressions. Plan-CONSTRUCTION is deliberately
    expr-string based: the r11 form built 64 agg columns + 16 band hashes
    via ~400 py4j Column calls, which cost ~1.0 s of driver time per
    invocation (measured, guide §1/§5 driver work) — three F.expr strings
    build the identical plan in <0.1 s. (A fully array-based formulation —
    ``array_min(transform(...))`` ×64 — stays ~20× slower: higher-order
    functions are CodegenFallback, so the 64-hash inner loop must run
    interpreted; here only the one shingle-array build is interpreted.)"""
    # Spread the RAW docs when the scan is split-starved (no-op at scale):
    # the interpreted shingle transforms AND the 64-seeded-hash partial min
    # then all run post-exchange on every core, and the exchange carries
    # (doc_id, text) — fewer bytes than the exploded shingle-hash rows
    # (~300 B vs ~830 B per doc). groupBy(doc_id) reuses the partitioning,
    # so the plan still has exactly one exchange before the signature agg.
    docs = _spread_if_scan_starved(docs, docs, "doc_id")
    shingle_rows = docs.select(
        "doc_id", F.expr("transform(split(text, ' '), w -> xxhash64(w))").alias("hws")
    ).select("doc_id", F.explode(F.expr(_SHINGLE_HASHES_SQL)).alias("h"))
    mins = ", ".join(f"min(xxhash64(h, {seed})) AS mh{seed}" for seed in range(N_HASHES))
    sig = (
        shingle_rows.groupBy("doc_id")
        .agg(F.expr(f"struct({mins})").alias("s"))
        .select("doc_id", "s.*")
    )
    r = N_HASHES // N_BANDS
    band_arr = "array(" + ", ".join(
        "xxhash64(" + ", ".join(f"mh{b * r + i}" for i in range(r)) + ")"
        for b in range(N_BANDS)
    ) + ")"
    return sig.select(
        "doc_id", F.posexplode(F.expr(band_arr)).alias("band", "bucket")
    )


def band_pairs(
    rows: DataFrame, key: Sequence[str], *, carry: Sequence[str] = (),
    cap: int | None = None, slices: int = 1, probe: DataFrame | None = None,
) -> DataFrame:
    """The pairs of rows that share a bucket key: the one pair emitter
    under every LSH and cluster self-join (minhash, simhash, the Hamming
    LSH of the image/audio/video ops, SemDeDup's cluster self-join).

    ``rows`` are ``(doc_id, *key, *carry)``. The result is the DISTINCT
    canonical pairs ``(doc_a, doc_b, <carry>_a…, <carry>_b…)`` with
    doc_a < doc_b, each carry column renamed with the side's suffix.
    Callers build their own keys and run their own verify step on the
    carried columns.

    - ``cap``: exact buckets of more than ``cap`` rows are dropped before
      any pair is formed, counted by ONE ``count().over(partitionBy(key))``
      whose exchange an unsliced self-join reuses. A bucket past the cap is
      boilerplate-level duplication (the exact-dedup path's job) or an
      under-provisioned quantizer; callers audit it with a plain count
      aggregate (minhash_bucket_overflow). A two-level count aggregate
      plus broadcast anti-join drops hot rows map-side instead, but
      costs three more jobs per call: minhash on sf0.001 with its planted
      twins (4-core host, warm calls) took 7 jobs and 1.8–3.0 s that way
      against the window's 4 jobs and 1.3–2.1 s, same 64 pairs.
    - ``slices = k`` splits every bucket triangularly (guide §2.5; a salt
      cannot split a join's hot key, slicing both sides can): one side
      carries ``pmod(xxhash64(doc_id), k)`` and is replicated k ways on
      the other side's slice id, so each pair meets exactly once, at
      (key, slice(a), slice(b)), and a hot bucket's B² work spreads over
      k² tasks. Replication costs k× of the band rows, nothing of the
      corpus. ``slices = 1`` is the plain self-join.
    - ``probe``: a frame of probe keys in the same ``(doc_id, *key,
      *carry)`` shape, matched against the capped exact rows with
      doc ≠ doc and then canonicalized (the 1-bit multi-probe of the
      Hamming LSH: a pair whose band differs by one bit reaches the
      other doc's small exact bucket).

    The pair-key repartition runs BEFORE the distinct: hash(doc_a, doc_b)
    satisfies the distinct's clustering, so the distinct adds no exchange
    and runs at the session's parallelism instead of being coalesced by
    AQE onto one or two tasks (simhash: 1.4 M candidate rows at sf0.1).
    Pinned against a brute-force self-join and one-bit-flip join for
    several slice counts and caps by a property test in
    tests/test_llm_ops.py."""
    key, carry = list(key), list(carry)
    if cap is not None:
        rows = rows.withColumn(
            "bucket_rows", F.count(F.lit(1)).over(Window.partitionBy(*key))
        ).filter(F.col("bucket_rows") <= cap)

    def side(df: DataFrame, s: str, other: str) -> DataFrame:
        df = df.select(
            F.col("doc_id").alias(f"doc_{s}"), *key,
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )
        if slices == 1:
            return df
        return df.withColumn(
            f"slice_{s}", F.pmod(F.xxhash64(f"doc_{s}"), F.lit(slices))
        ).withColumn(f"slice_{other}", F.explode(F.sequence(F.lit(0), F.lit(slices - 1))))

    a = side(rows if probe is None else probe, "a", "b")
    on = key + ([] if slices == 1 else ["slice_a", "slice_b"])
    a_first = F.col("doc_a") < F.col("doc_b")
    b = side(rows, "b", "a")
    if probe is None and slices == 1:
        # both sides come out of the cap window already partitioned and
        # sorted on the key: a merge join adds no exchange, where AQE's
        # broadcast of the small side costs one more job per call
        b = b.hint("merge")
    pairs = a.join(b, on).filter(
        a_first if probe is None else F.col("doc_a") != F.col("doc_b")
    )

    def canonical(c: str, s: str, other: str) -> F.Column:
        own, swapped = F.col(f"{c}_{s}"), F.col(f"{c}_{other}")
        return F.when(a_first, own).otherwise(swapped).alias(f"{c}_{s}")

    return (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            *[canonical(c, "a", "b") for c in carry],
            *[canonical(c, "b", "a") for c in carry],
        )
        .repartition(rows.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b")
        .distinct()
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH banding candidate pairs (doc_a, doc_b), emitted within
    (band, bucket) buckets only by band_pairs — no all-pairs comparison
    ever materializes — with buckets of more than BUCKET_CAP docs dropped
    (audited by minhash_bucket_overflow)."""
    return band_pairs(_minhash_bands(docs), ["band", "bucket"], cap=BUCKET_CAP)


def minhash_bucket_overflow(docs: DataFrame) -> DataFrame:
    """Audit channel for the BUCKET_CAP guard: the (band, bucket, size)
    triples that minhash_candidate_pairs *dropped* for exceeding the cap.
    Pure count aggregate — never materializes member lists, so it is safe
    to run on the same degenerate corpus that motivates the cap."""
    return (
        _minhash_bands(docs)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > BUCKET_CAP)
    )


# --- shared oracle fragments for the brute-force shingle-Jaccard ground
# truth (self-code-review r6: previously copy-pasted five times — now any
# change to the shingle width, threshold, or twin planting edits ONE place
# and every oracle that depends on it follows).

# the planted-twin corpus of _docs_with_planted_neardups, as a CTE body
_PLANTED_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' perturbed' AS text
      FROM documents WHERE doc_id < 25"""


def _jaccard_pairs_sql(src: str, p: str = "") -> str:
    """CTE chain over doc CTE ``src`` (columns doc_id, text): 3-word
    shingle sets -> pairs sharing >=1 shingle -> exact Jaccard. Emits
    ``{p}gr`` (distinct per-doc shingles — reusable for gram-level logic)
    and ``{p}jac`` (doc_a < doc_b, raw-double ``jaccard``); callers filter
    ``jaccard >= 0.5``. Mirrors _word_shingles' short-doc guard (DuckDB
    range is empty when stop <= start)."""
    return f"""
    {p}w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM {src}),
    {p}gi AS (SELECT doc_id, ws,
                  unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
           FROM {p}w),
    {p}gr AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
              FROM {p}gi),
    {p}sz AS (SELECT doc_id, count(*) AS n FROM {p}gr GROUP BY doc_id),
    {p}cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      FROM {p}gr a JOIN {p}gr b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    {p}jac AS (
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM {p}cand
      JOIN {p}sz sa ON sa.doc_id = doc_a
      JOIN {p}sz sb ON sb.doc_id = doc_b
    )"""


@op(
    "dedup_near_minhash",
    # Oracle (upgraded r6): brute-force shingle-Jaccard >= 0.5 pairs over
    # the planted corpus — the banded-LSH candidate set MEASURES as exactly
    # this set at every test SF (zero band-collision false positives, min
    # candidate jaccard 0.8, exact recall; r6 probe + cross-SF sweep).
    # Like dedup_recall_eval's oracle, this is a regression tripwire: an
    # LSH parameter change that costs recall or admits false positives on
    # this corpus now fails the driver hash instead of passing silently.
    sql=f"""
    WITH docs AS ({_PLANTED_DOCS_SQL}
    ),{_jaccard_pairs_sql("docs")}
    SELECT doc_a, doc_b FROM jac
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)  # property-verified in tests (SURVEY §5.2.4)
def dedup_near_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH over 3-word shingles."""
    return minhash_candidate_pairs(_docs_with_planted_neardups(spark, sf)).orderBy(
        "doc_a", "doc_b"
    )


@op(
    "dedup_ngram_jaccard",
    # Oracle is the brute-force ground truth: ALL pairs sharing >=1 shingle,
    # exact Jaccard, keep >=0.5. The Spark op computes the same set via the
    # LSH prune — on this corpus every >=0.5 pair is >=0.88 (measured at all
    # three SFs, far above the (1/16)^(1/4)~0.5 band threshold), so LSH
    # recall is exact and the two definitions coincide; the r6 cross-SF
    # sweep + driver hash pin that equivalence. jaccard is emitted as the
    # RAW int/int division (identical doubles in both engines — no rounding
    # needed, avoiding the shortest-decimal-vs-binary round fork class).
    sql=f"""
    WITH docs AS ({_PLANTED_DOCS_SQL}
    ),{_jaccard_pairs_sql("docs")}
    SELECT doc_a, doc_b, jaccard FROM jac
    WHERE jaccard >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard verification of the LSH candidates: explode
    candidate docs' shingle sets, count intersection/union per pair. Only
    candidate pairs pay the set comparison — the LSH prune keeps this
    linear-ish at scale."""
    docs = _docs_with_planted_neardups(spark, sf)
    # materialize the (tiny) candidate-pair set: the final plan embeds
    # this subtree FIVE times (the pair join + two endpoint unions + the two
    # semi-join broadcasts inside a/b), and each embedding re-runs the whole
    # corpus-wide minhash pipeline (r12; win_ntile/_ordered_cumsum
    # precedent — pairs are O(near-dup pairs), bounded by the LSH cap)
    cands = materialize(minhash_candidate_pairs(docs))
    # exact shingle sets only for docs that appear in a candidate pair — the
    # expensive string shingling never touches the rest of the corpus
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(_word_shingles(F.col("text"))).alias("sh")
    )
    a = sh.alias("sa").withColumnRenamed("doc_id", "doc_a")
    b = sh.alias("sb").withColumnRenamed("doc_id", "doc_b")
    joined = (
        cands.join(a, "doc_a").join(b.withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh", "sh_b"))
    # |a ∪ b| = |a| + |b| − |a ∩ b| for the distinct shingle arrays —
    # same integers as materializing array_union just for its size (r13,
    # the dedup_simhash re-rank trick)
    union = F.size("sh") + F.size("sh_b") - inter
    return (
        joined.select(
            "doc_a", "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


def _simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc, entirely JVM-side (re-grounded r7 — this
    replaced a blake2b Pandas UDF, removing the op's only Python
    boundary): distinct whitespace tokens -> md5 -> two 32-bit halves
    (conv of the hex prefix; md5 is identical lowercase hex in Spark and
    DuckDB, unlike blake2b/xxhash64 which only one engine has), per-bit
    ±1 majority vote via 64 map-side-combinable SUMs over pure integer
    div/% bit extraction, signature reassembled as two 32-bit longs
    (sig_hi, sig_lo; the halves never need 64-bit assembly, so no signed
    overflow anywhere). Every operation is engine-portable arithmetic —
    the oracle replays the identical computation. Tokenless docs get the
    zero signature (the old Python branch's contract)."""
    # spread the raw docs on a split-starved scan (no-op at scale) so the
    # token explode, md5, and the 64 bit-vote partial sums all parallelize;
    # groupBy(doc_id) reuses the same partitioning — still one exchange
    spread = _spread_if_scan_starved(docs, docs, "doc_id")
    toks = spread.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
            )
        ).alias("w"),
    )
    hs = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(F.md5("w"), 9, 8), 16, 10).cast("long").alias("lo"),
    )
    # 64 sums + two 32-term assembly chains as THREE expr strings (r12: the
    # per-column py4j form cost ~0.4 s of plan construction per call; the
    # expression trees and value semantics are unchanged — int literal
    # adds, bigint literal at bit 31, final cast — so the full-replication
    # oracle is untouched).
    sums = ", ".join(
        f"sum(2 * (({half} div {1 << i}) % 2) - 1) AS a{half}{i}"
        for half in ("lo", "hi")
        for i in range(32)
    )
    acc = hs.groupBy("doc_id").agg(F.expr(f"struct({sums})").alias("s")).select(
        "doc_id", "s.*"
    )

    def _assemble(half: str) -> str:
        chain = " + ".join(
            f"(CASE WHEN a{half}{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
        )
        return f"cast(0 + {chain} as bigint)"

    sig = acc.select(
        "doc_id",
        F.expr(_assemble("lo")).alias("sig_lo"),
        F.expr(_assemble("hi")).alias("sig_hi"),
    )
    return docs.select("doc_id").join(sig, "doc_id", "left").select(
        "doc_id",
        F.coalesce("sig_lo", F.lit(0).cast("long")).alias("sig_lo"),
        F.coalesce("sig_hi", F.lit(0).cast("long")).alias("sig_hi"),
    )


def _simhash_oracle_sql() -> str:
    """Full-replication oracle for dedup_simhash (upgraded r7): unlike the
    measured-equivalence tripwires (near_minhash), this replays the ENTIRE
    op in DuckDB — md5 token hashes, 64-bit majority vote, exact-text
    collapse to distinct-text reps, 8×8 banding, bit_count(xor) hamming
    screen, raw-shingle jaccard re-rank — because every step is portable
    arithmetic. (A tripwire oracle was measured DISHONEST here: the
    hamming<=7 screen provably loses jaccard>=0.5 pairs on this corpus —
    18 at sf0.001 — so brute-force jaccard is NOT equivalent to the op.)"""
    sums = ",\n             ".join(
        f"SUM(2 * (({half} // {1 << i}) % 2) - 1) AS a{half}{i}"
        for half in ("lo", "hi")
        for i in range(32)
    )
    slo = " + ".join(f"(CASE WHEN alo{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
    shi = " + ".join(f"(CASE WHEN ahi{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
    lob = ", ".join(f"(sig_lo // {1 << (8 * b)}) % 256" for b in range(4))
    hib = ", ".join(f"(sig_hi // {1 << (8 * b)}) % 256" for b in range(4))
    return f"""
    WITH docs AS ({_PLANTED_DOCS_SQL}
    ),
    tk AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs)
      WHERE w <> ''
    ),
    hs AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hi,
             CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS lo
      FROM tk
    ),
    ac AS (
      SELECT doc_id,
             {sums}
      FROM hs GROUP BY doc_id
    ),
    sg0 AS (
      SELECT doc_id, CAST({slo} AS BIGINT) AS sig_lo,
             CAST({shi} AS BIGINT) AS sig_hi
      FROM ac
    ),
    sig AS (
      SELECT d.doc_id, COALESCE(s.sig_lo, 0) AS sig_lo,
             COALESCE(s.sig_hi, 0) AS sig_hi, md5(d.text) AS thash
      FROM docs d LEFT JOIN sg0 s ON s.doc_id = d.doc_id
    ),
    trep AS (
      SELECT sig_hi, sig_lo, thash, MIN(doc_id) AS doc_id
      FROM sig GROUP BY 1, 2, 3
    ),
    bands AS (
      SELECT doc_id, sig_hi, sig_lo,
             unnest(generate_series(0, 7)) AS band,
             unnest([{lob}, {hib}]) AS chunk
      FROM trep
    ),
    scand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sig_lo, b.sig_lo))
                  + bit_count(xor(a.sig_hi, b.sig_hi)) AS BIGINT) AS hamming
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
                  AND a.doc_id < b.doc_id
    ),
    allcand AS (
      SELECT doc_a, doc_b, hamming FROM scand WHERE hamming <= 7
    ),{_jaccard_pairs_sql("docs", "j")}
    SELECT c.doc_a, c.doc_b, c.hamming, jj.jaccard
    FROM allcand c
    JOIN jjac jj ON jj.doc_a = c.doc_a AND jj.doc_b = c.doc_b
    WHERE jj.jaccard >= 0.5
    ORDER BY c.doc_a, c.doc_b
    """


@op("dedup_simhash", sql=_simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup: 64-bit md5-majority-vote signature per doc,
    computed ENTIRELY JVM-side as two 32-bit halves (sig_hi, sig_lo — see
    _simhash_signatures; the op has no Python boundary left). Candidates =
    equal 8-bit band (sig_lo bytes = bands 0-3, sig_hi bytes = 4-7, the
    order the oracle fixes) emitted by band_pairs, screened with
    hamming <= 7 via bit_count(xor) of the two halves packed into one
    long, then re-ranked by EXACT shingle jaccard.

    Oracle: FULL replication (_simhash_oracle_sql) — every stage is
    engine-portable arithmetic, so DuckDB replays the op rather than a
    measured-equivalence tripwire (which was measured DISHONEST here: the
    hamming screen provably loses jaccard>=0.5 pairs on this corpus).

    Tokenization contract: single-space split in BOTH engines
    (F.split(text, ' ') / string_split(text, ' ')); the synthetic corpus
    is space-delimited by construction, so this matches whitespace
    splitting on every input the op sees — documented rather than
    widened to \\s+ to keep parity with _word_shingles / the shared
    _jaccard_pairs_sql shingle CTEs, which use the same delimiter.

    The re-rank stage exists because simhash concentrates on
    same-vocabulary corpora: signatures of unrelated docs land within
    hamming 7 routinely (this synthetic corpus is the worst case — ~1.4M
    screen-passing pairs at sf0.1), so hamming alone over-reports. Exact
    jaccard on hashed shingle sets (arrays of int64, not strings — ~8
    bytes/shingle through the shuffle) keeps only true near-dups. Only
    screen survivors pay the set comparison, so at 100 TB the expensive
    stage stays proportional to the candidate volume, not the corpus."""
    docs = _docs_with_planted_neardups(spark, sf)
    raw_sig = _simhash_signatures(docs)
    # one 64-bit signature per doc: sig_hi's bits over sig_lo's (both are
    # 32-bit halves), so the band bytes and the hamming screen read one long
    sig = raw_sig.select(
        "doc_id", F.shiftleft("sig_hi", 32).bitwiseOR(F.col("sig_lo")).alias("sig")
    )
    # Degenerate-corpus guard (same failure mode the minhash BUCKET_CAP
    # addresses): identical texts produce identical signatures, and an
    # identical-TEXT group of B docs would alone emit O(B²) pairs from
    # every band. Those docs are *exact-level* duplicates — the exact-dedup
    # channel's job — so collapse each exact-text group to its min-doc_id
    # representative before any pair emission.
    # Identical-signature members are NOT necessarily exact text dups:
    # a 64-bit simhash can collide for true near-dups whose weighted bit
    # sums don't flip — on this same-vocabulary corpus collisions are
    # routine (sf0.1: 5017 distinct texts share 3890 signatures). So the
    # collapse keeps one representative per DISTINCT TEXT (not per
    # signature): the boilerplate corpus still emits zero pairs, while
    # same-signature distinct-text docs stay in the banding and pair at
    # hamming 0 — the r7 one-rep-per-signature star provably lost planted
    # twins whose base doc collapsed into a colliding neighbor. Banded
    # rows grow only by the text/signature diversity ratio (1.29x at
    # sf0.1), so candidate volume stays bounded by text diversity, never
    # corpus skew.
    hashed = sig.join(
        docs.select("doc_id", F.sha2("text", 256).alias("thash")), "doc_id"
    )
    text_rep = hashed.groupBy("sig", "thash").agg(F.min("doc_id").alias("doc_id"))
    # 8 bands × 8 bits: by pigeonhole every pair with hamming <= 7 shares at
    # least one untouched band → guaranteed candidate generation at the <=7
    # verification threshold. (At larger corpus scales widen bands to cut
    # candidate volume and lower the threshold accordingly.) Band order is
    # the oracle's contract: sig_lo bytes 0-3 = bands 0-3, sig_hi = 4-7.
    # Bands are materialized (8 rows of ~40 B per text rep, ~40 k rows
    # at sf0.1): without it both sides of the band self-join embed the
    # whole signature pipeline (guide §3.3). Bucket membership on this
    # same-vocabulary corpus is ~power-law (sf0.1: top bucket 3071 of 40 k
    # rows, 4.7 M of the 16.3 M in-bucket pairs), hence 8 slices.
    bands = materialize(text_rep.select(
        "doc_id", "sig",
        F.posexplode(
            F.array(*[F.expr(f"shiftrightunsigned(sig, {8 * i}) & 255") for i in range(8)])
        ).alias("band", "chunk"),
    ))
    hamming = F.expr("bit_count(sig_a ^ sig_b)").cast("long")
    pairs = (
        band_pairs(bands, ["band", "chunk"], carry=["sig"], slices=8)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 7)
    )
    # exact-jaccard re-rank of the hamming survivors (hashed shingle sets).
    # The interpreted shingle-array build is the broadcast build side of two
    # joins — spread a split-starved scan first (measured 4.5 s -> 1.0 s at
    # sf0.1 on one partition; no-op at scale), and materialize it so the
    # two broadcast builds read ONE materialization (bounded: one ~50-long
    # array per doc) instead of each re-running the shingle transform.
    sh = materialize(_spread_if_scan_starved(docs, docs, "doc_id").select(
        "doc_id",
        F.array_distinct(
            F.transform(_word_shingles(F.col("text")), lambda s: F.xxhash64(s))
        ).alias("sh"),
    ))
    joined = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"),
            "doc_b",
        )
        # necessary-size prescreen (exact, no false negatives): jaccard of
        # DISTINCT sets is ≤ min(|a|,|b|)/max(|a|,|b|), so a pair can only
        # reach 0.5 when 2·min ≥ max — drops the intersect/union work for
        # size-mismatched pairs before it runs (r13 A/B: identical rows)
        .filter(
            2 * F.least(F.size("sh"), F.size("sh_b"))
            >= F.greatest(F.size("sh"), F.size("sh_b"))
        )
    )
    inter = F.size(F.array_intersect("sh", "sh_b"))
    # |a ∪ b| = |a| + |b| − |a ∩ b| for the distinct arrays — integer
    # arithmetic on the intersect size replaces materializing the union
    # array just to take its size (r13: halves the per-pair set work)
    union = F.size("sh") + F.size("sh_b") - inter
    return (
        joined.select(
            "doc_a", "doc_b", "hamming",
            # unrounded: a single IEEE division of exact ints is
            # bit-identical cross-engine; ROUND of a quotient is not
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

# Sequential left-fold dot product (bit-identical to DuckDB's list_reduce
# replay — the fold order IS the contract; see TOPK_SQL). The SQL-string
# template parses to the exact same expression tree as the old
# F.zip_with/F.aggregate lambda form (0.0D ≡ F.lit(0.0): DoubleType), but
# one F.expr call replaces ~15 py4j round-trips per dot — plan-construction
# time, which the r12 profiling showed dominating the similarity ops'
# wall-clock at bench scale (guide §1/§5: driver-side work).
_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0.0D, (acc, x) -> acc + x)"
)


def _dot(a, b):
    """Fold dot product. Pass COLUMN NAMES (strings) where possible — the
    expr-string path is ~15× cheaper to construct; Column objects take the
    legacy lambda path (identical expression tree, more py4j chatter)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_DOT_SQL.format(a=a, b=b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr("sqrt(" + _DOT_SQL.format(a="embedding", b="embedding") + ")"))


def _with_norm_guarded(df: DataFrame) -> DataFrame:
    """_with_norm with the zero-norm guard (ADVICE r9): a zero embedding
    gets norm 1.0 so its cosine is 0.0 — not NULL, whose ordering in the
    assignment/top-k tie-breaks differs between Spark's struct sort and
    DuckDB's NULLS-LAST default. Used by the portable (oracle-replicated)
    IVF pair; mirrored in _ivf_portable_cte_sql's ``e`` CTE as
    coalesce(nullif(norm, 0), 1.0)."""
    dot = _DOT_SQL.format(a="embedding", b="embedding")
    return df.withColumn(
        "norm",
        F.expr(f"CASE WHEN sqrt({dot}) = 0.0D THEN 1.0D ELSE sqrt({dot}) END"),
    )


TOPK_SQL = """
WITH q AS (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
    FROM embeddings WHERE vec_id < 10
), c AS (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_sum(list_transform(list_zip(q.embedding, c.embedding),
                    t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q.norm * c.norm) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q.norm * c.norm) DESC,
                        c.vec_id
           ) AS rn
    FROM q JOIN c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, ROUND(cosine, 8) AS cosine
FROM scored WHERE rn <= 5
"""


@op("sim_cosine_topk", sql=TOPK_SQL)
def sim_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-vector query set against the full
    corpus — the *baseline* ANN path. The query side broadcasts (it is tiny
    by construction); the corpus streams through unshuffled, and the top-k
    is a per-query window. Dot products are sequential double folds —
    bit-identical with the DuckDB oracle, so ranking is deterministic.
    For corpus×corpus scale use sim_cosine_ivf. The corpus side is spread
    across cores when its scan is split-starved (r12; no-op at scale) so
    the 10×|corpus| fold evaluation parallelizes; the broadcast query side
    reads the raw scan, not the repartitioned corpus."""
    raw = table(spark, sf, "embeddings")
    e = _with_norm(_spread_if_scan_starved(raw, raw, "vec_id"))
    q = _with_norm(raw).filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"))
    )


@op("sim_incremental_topk", sql=TOPK_SQL)
def sim_incremental_topk(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL top-k similarity (the interactive-session shape from
    the retrieved EDBT'20 "Incremental ... Top-K Similarity Search"
    line of work): the per-query top-5 result set is MAINTAINED as a
    persisted state table, and each arriving vector batch only scores
    batch × queries, merges with the k-row-per-query state, and re-ranks
    — the full corpus is never rescanned. Here the existing corpus is
    vec_id < 400 (state built once per process, io.build_once), the
    arriving batch is vec_id >= 400, and the ORACLE is the full-corpus
    brute-force top-k (TOPK_SQL, shared with sim_cosine_topk): top-k
    merge is exact, so incremental ≡ recompute — hash-proven every
    sweep, not just claimed.

    Exactness requires ranking merged state on the UNROUNDED cosine
    (state persists the raw double; rounding only at output) — merging
    rounded scores could flip 1e-8-tie ranks vs the recompute.

    100 TB shape: state is k × |queries| rows regardless of corpus
    size; per-batch work is batch × broadcast-query scoring (map-only)
    + a |queries|-partition window over (k + batch-survivors) rows.
    This is why interactive/continuous similarity serving never pays
    the corpus twice."""
    e = _with_norm(table(spark, sf, "embeddings"))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )

    def scored(side: DataFrame) -> DataFrame:
        return side.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
        )

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    state_path = build_once(
        "topkstate",
        sf,
        lambda d: scored(e.filter(F.col("vec_id") < 400))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", "cosine")  # raw double state
        .write.mode("overwrite")
        .parquet(d),
    )
    state = spark.read.parquet(state_path)
    fresh = scored(e.filter(F.col("vec_id") >= 400))
    return (
        state.unionByName(fresh)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"))
    )


@op("sim_cosine_ivf", sql=None)  # approximate — recall vs brute force in tests
def sim_cosine_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: a FIXED-k (√n, capped at IVF_MAX_K) hash-ordered
    deterministic centroid sample, shipped as the literal quantizer
    (_ivf_centroid_literal with no Lloyd rounds); every vector is assigned
    map-side to its nearest centroid, and queries probe their IVF_NPROBE
    nearest clusters (_centroid_ranking). This is the 100 TB shape: the
    quantizer is O(k·d) regardless of corpus size, the corpus is
    hash-partitioned by cluster_id, and a query touches nprobe/k of the
    corpus (8/65536 at the cap) instead of all of it. nprobe=8 is the
    recall/latency dial at a standard production setting — the synthetic
    corpus is isotropic (the worst case for any bucketed ANN), where 8
    probes of √n clusters hold recall@5 ≥ 0.5; clustered corpora measure
    far higher (docs/SCALE.md)."""
    e = _with_norm(table(spark, sf, "embeddings"))
    cent_lit, _k = _ivf_centroid_literal(e, train_iters=0)
    assigned = _ivf_probe_assign(e, IVF_NPROBE, cent_lit)
    # queries search their IVF_NPROBE nearest clusters (recall/latency
    # dial; corpus vectors still live in exactly one cluster)
    probes = _probe_queries(assigned.filter(F.col("vec_id") < 10))
    return (
        _top5(_ivf_candidates(assigned, F.broadcast(probes)), F.col("cosine").desc())
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"))
        .orderBy("query_id", "neighbor_id")
    )


@op(
    "dedup_embedding_cosine",
    sql="""
    WITH e AS (
        SELECT vec_id, label, embedding,
               sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (a.norm * b.norm), 8) AS cosine
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (a.norm * b.norm) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the bucketing
    stand-in: at scale the blocking key is an LSH bucket / IVF cluster, so
    the pairwise compare is per-block, never corpus×corpus). Threshold
    0.35, not 0.5: the synthetic embeddings' within-label cosine tops out
    at ~0.45-0.51 (p99 ~0.29), so >=0.5 certified an EMPTY result at
    sf0.001/0.01 (replica VACUOUS audit); 0.35 sits above p99 yet yields
    pairs at every SF. Both engines fold the 64-dim dot product
    left-to-right over identical doubles, so the threshold compare is
    bit-identical."""
    e = _with_norm(table(spark, sf, "embeddings"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"),
                 F.col("embedding").alias("ea"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
                 F.col("embedding").alias("eb"), F.col("norm").alias("nb"))
    cos = (_dot("ea", "eb") / (F.col("na") * F.col("nb")))
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.35)
        .select("vec_a", "vec_b", F.round("cosine", 8).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@op(
    "text_stats",
    sql="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           ROUND(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc token/char statistics — pure codegen expressions."""
    d = table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(F.length("text").cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


@op(
    "text_quality_filter",
    sql="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE length(text) BETWEEN 100 AND 2000
      AND len(string_split(text, ' ')) >= 20
      AND CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) / length(text) > 0.9
      AND len(regexp_extract_all(text, '\\bthe\\b')) >= 1
    """,
)
def text_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality gates: length bounds, token floor, charset ratio,
    stopword presence — the C4-style filter family as one predicate
    pipeline that pushes into the scan."""
    d = table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double") / F.length("text")
    )
    return d.filter(
        F.length("text").between(100, 2000)
        & (F.size(toks) >= 20)
        & (alpha_ratio > 0.9)
        & (F.regexp_count("text", F.lit(r"\bthe\b")) >= 1)
    ).select("doc_id", "lang", "n_chars")


LANG_MARKERS = {
    "en": r"\b(the|and|of|to)\b",
    "es": r"\b(el|la|de|los)\b",
    "de": r"\b(der|die|das|und)\b",
    "fr": r"\b(le|la|les|et)\b",
}


@op(
    "text_langid",
    sql="""
    SELECT doc_id,
           len(regexp_extract_all(text, '\\b(the|and|of|to)\\b')) AS score_en,
           len(regexp_extract_all(text, '\\b(el|la|de|los)\\b')) AS score_es,
           len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) AS score_de,
           len(regexp_extract_all(text, '\\b(le|la|les|et)\\b')) AS score_fr,
           CASE GREATEST(
                    len(regexp_extract_all(text, '\\b(the|and|of|to)\\b')),
                    len(regexp_extract_all(text, '\\b(el|la|de|los)\\b')),
                    len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')),
                    len(regexp_extract_all(text, '\\b(le|la|les|et)\\b')))
                WHEN len(regexp_extract_all(text, '\\b(the|and|of|to)\\b')) THEN 'en'
                WHEN len(regexp_extract_all(text, '\\b(el|la|de|los)\\b')) THEN 'es'
                WHEN len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM documents
    """,
)
def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-marker language ID: per-language match counts + argmax with
    a fixed priority order for ties (en > es > de > fr)."""
    d = table(spark, sf, "documents")
    scores = {
        lang: F.regexp_count("text", F.lit(pat)).alias(f"score_{lang}")
        for lang, pat in LANG_MARKERS.items()
    }
    sc = d.select("doc_id", "text", *scores.values())
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = (
        F.when(F.col("score_en") == best, "en")
        .when(F.col("score_es") == best, "es")
        .when(F.col("score_de") == best, "de")
        .otherwise("fr")
    )
    return sc.select(
        "doc_id", "score_en", "score_es", "score_de", "score_fr",
        pred.alias("predicted_lang"),
    )


@op(
    "text_token_count_bpe",
    sql="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_ish_tokens,
           len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_subword_chunks
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token counting with a tokenizer-style regex (word / number /
    punctuation classes + bounded subword chunks)."""
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias("n_bpe_ish_tokens"),
        F.regexp_count("text", F.lit("[a-z]{1,4}")).alias("n_subword_chunks"),
    )


@op(
    "text_fingerprint",
    sql="""
    SELECT doc_id,
           md5(regexp_replace(text, '[^a-z0-9]', '', 'g')) AS fingerprint,
           substring(md5(regexp_replace(text, '[^a-z0-9]', '', 'g')), 1, 8) AS shard_key
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Normalization fingerprint (whitespace/punct-insensitive md5) — the
    cheap pre-filter for exact-dup detection across formatting variants;
    prefix doubles as a shard/bucket key."""
    d = table(spark, sf, "documents")
    norm = F.regexp_replace("text", "[^a-z0-9]", "")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("shard_key"),
    )


# ---------------------------------------------------------------------------
# multimodal columns
# ---------------------------------------------------------------------------

MM_FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, "
    "feature_mean double, feature_vec array<float>, content_sha256 string"
)


def ppm_image_payloads(d: DataFrame) -> DataFrame:
    """documents → one REAL image file per row: a valid binary PPM (P6) —
    ascii header + raw RGB raster — built entirely JVM-side (regexp to
    printable-ascii, rpad to the exact raster size, latin-1 encode,
    binary concat). Two size classes so decoded dimensions are data, not
    constants. Any PPM reader (PIL, ImageMagick, the fallback parser
    below) opens these bytes."""
    is_big = (F.col("doc_id") % 2) == 0
    w = F.when(is_big, F.lit(16)).otherwise(F.lit(12))
    h = F.when(is_big, F.lit(12)).otherwise(F.lit(8))
    header = F.concat(F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n255\n"))
    # slice to this row's exact raster length, then binary-concat with header
    payload = F.concat(
        F.encode(header, "ISO-8859-1"),
        F.encode(F.expr(
            f"substring(rpad(regexp_replace(text, '[^ -~]', ' '), {16*12*3}, '.'), 1, "
            "cast((case when doc_id % 2 = 0 then 16*12*3 else 12*8*3 end) as int))"
        ), "ISO-8859-1"),
    )
    return d.select("doc_id", payload.alias("payload"))


def decode_ppm(payload: bytes):
    """Decode a binary PPM (P6) to an (h, w, 3) uint8 array. Uses PIL when
    the container has it; otherwise a real (not fake) pure-numpy parser of
    the P6 format: ascii magic + whitespace-separated width/height/maxval,
    then the raw raster. Both paths yield identical arrays (parity test
    gated on PIL availability)."""
    import numpy as np

    try:
        import io as _io

        from PIL import Image  # type: ignore[import-not-found]

        img = Image.open(_io.BytesIO(payload))
        return np.asarray(img.convert("RGB"))
    except ImportError:
        pass
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    toks, pos = [], 2
    while len(toks) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then the raster
    w, h, _maxval = toks
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


def _decode_image_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real image decode + feature extraction per Arrow batch: header-derived
    dimensions, mean pixel, 16-bin intensity histogram, sha256 of the
    decoded raster (the content-hash tests pin these goldens)."""
    import hashlib

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "media_type", "n_bytes", "width", "height",
                                "feature_mean", "feature_vec", "content_sha256")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            img = decode_ppm(raw)
            h, w, _ = img.shape
            hist = np.bincount(img.ravel() >> 4, minlength=16).astype(np.float32)
            out["doc_id"].append(doc_id)
            out["media_type"].append("image/x-portable-pixmap")
            out["n_bytes"].append(len(raw))
            out["width"].append(w)
            out["height"].append(h)
            out["feature_mean"].append(float(img.mean()))
            out["feature_vec"].append((hist / max(hist.sum(), 1)).tolist())
            out["content_sha256"].append(hashlib.sha256(img.tobytes()).hexdigest())
        yield pd.DataFrame(out)


def multimodal_columns_typed(spark: SparkSession, sf: str) -> DataFrame:
    """One frame carrying text + binary payload + embedding vector + typed
    metadata struct — the multimodal row model. Binary payloads are the
    utf-8 document bytes (deterministic stand-in for image blobs). This is
    the typed variant apps consume; the *registered* op below projects the
    complex cells through to_json/sha2 because the correctness driver's
    pandas canonicalizer cannot sort array/struct cells (r2 verdict #1)."""
    d = table(spark, sf, "documents")
    e = table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return (
        d.join(e, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            F.encode("text", "utf-8").alias("payload"),
            F.struct(
                F.col("lang").alias("language"),
                F.col("source").alias("origin"),
                F.length("text").alias("content_length"),
            ).alias("meta"),
            "embedding",
        )
    )


@op("multimodal_columns", sql=None)
def multimodal_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-checkable projection of the multimodal row model: every
    complex cell rendered scalar — binary payload → sha2 content hash,
    struct meta → canonical JSON, embedding array → dim + sha2 of its JSON
    rendering (stable: embeddings.parquet carries float32 values whose
    repr round-trips deterministically through Spark's to_json). The typed
    variant (multimodal_columns_typed) stays the app-facing surface."""
    t = multimodal_columns_typed(spark, sf)
    return t.select(
        "doc_id",
        "text",
        F.sha2("payload", 256).alias("payload_sha256"),
        F.to_json("meta").alias("meta_json"),
        F.size("embedding").alias("embedding_dim"),
        F.sha2(F.encode(F.to_json("embedding"), "utf-8"), 256).alias("embedding_sha256"),
    )


@op("multimodal_decode_stub", sql=None)
def multimodal_decode_stub(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode over a binary column via mapInPandas (Arrow-
    batched): each row carries a valid binary PPM (P6) file (synthesized
    JVM-side by ppm_image_payloads — the container ships no image corpus),
    decoded by PIL when present, else a real pure-numpy P6 parser
    (decode_ppm). Dimensions come from the image header, features from the
    decoded raster, and a sha256 of the raster pins content (golden-hash
    tests in tests/test_llm_ops.py). The op id keeps its round-1 name for
    correctness-row continuity; the body is no longer a stub. The histogram
    feature vector is rendered as JSON in the registered output (the
    driver's canonicalizer cannot sort array cells — r2 verdict #1)."""
    d = table(spark, sf, "documents")
    payloads = ppm_image_payloads(d)
    feats = payloads.mapInPandas(_decode_image_batches, MM_FEATURE_SCHEMA)
    return feats.select(
        "doc_id", "media_type", "n_bytes", "width", "height",
        F.round("feature_mean", 4).alias("feature_mean"),
        F.to_json("feature_vec").alias("feature_vec_json"),
        "content_sha256",
    ).orderBy("doc_id")


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real resize: decode the PPM, grayscale (mean over RGB), nearest-
    neighbor resample to 8×8, sha256 of the thumbnail bytes."""
    import hashlib

    import numpy as np

    for pdf in batches:
        ids, thumbs, hashes = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_ppm(bytes(payload))
            gray = img.mean(axis=2)
            h, w = gray.shape
            yi = np.linspace(0, h - 1, 8).astype(int)
            xi = np.linspace(0, w - 1, 8).astype(int)
            thumb = (gray[np.ix_(yi, xi)] / 255.0).astype(np.float32)
            ids.append(doc_id)
            thumbs.append(thumb.ravel().tolist())
            hashes.append(hashlib.sha256(thumb.tobytes()).hexdigest())
        yield pd.DataFrame({"doc_id": ids, "thumb_8x8": thumbs, "thumb_sha256": hashes})


@op("multimodal_resize_stub", sql=None)
def multimodal_resize_stub(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image resize over binary payloads: PPM decode → grayscale →
    nearest-neighbor 8×8 thumbnail per row via mapInPandas, with a content
    hash per thumbnail. (Op id keeps its round-1 name; no longer a stub.)
    Registered output renders the thumbnail as JSON (driver canonicalizer
    cannot sort array cells — r2 verdict #1)."""
    d = table(spark, sf, "documents")
    payloads = ppm_image_payloads(d)
    thumbs = payloads.mapInPandas(
        _resize_batches, "doc_id long, thumb_8x8 array<float>, thumb_sha256 string"
    )
    return thumbs.select(
        "doc_id", F.to_json("thumb_8x8").alias("thumb_json"), "thumb_sha256"
    ).orderBy("doc_id")


@op("multimodal_frame_sample", sql=None)
def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling shape: treat each payload as a 'video' of
    64-byte frames and emit every 2nd frame as its own row (posexplode of
    fixed-stride slices — the explode/unnest R3 pattern on binary media),
    carrying the frame bytes. Real body: pyav/ffmpeg keyframe extraction;
    plumbing is real."""
    FRAME = 64
    d = table(spark, sf, "documents")
    n_frames = F.floor(F.length("text") / FRAME).cast("int")
    frame_ids = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(2))
    return (
        d.select("doc_id", F.encode("text", "utf-8").alias("payload"), frame_ids.alias("fids"))
        .select("doc_id", "payload", F.posexplode("fids").alias("pos", "frame_no"))
        .select(
            "doc_id",
            "frame_no",
            (F.col("frame_no") * FRAME).alias("byte_offset"),
            F.substring(F.col("payload"), F.col("frame_no") * FRAME + 1, FRAME).alias("frame_bytes"),
        )
        # hex-render the frame for the driver (binary cells sort, but a
        # scalar string keeps the whole registered surface uniform and
        # utf-8 safe); the slice expression above is the typed shape
        .withColumn("frame_hex", F.hex("frame_bytes"))
        .drop("frame_bytes")
        .orderBy("doc_id", "frame_no")
    )


@op(
    "text_normalize_clean",
    sql="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def text_normalize_clean(spark: SparkSession, sf: str) -> DataFrame:
    """Training-pipeline text normalization: lowercase, strip non-
    alphanumerics, collapse whitespace. The regex classes used ([^a-z0-9 ]
    and ' +') mean the same thing in Java regex and RE2, so the oracle is
    exact. Narrow map-side transform — codegen'd, no shuffle."""
    d = table(spark, sf, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select("doc_id", clean.alias("clean_text"))


# Mojibake (ftfy-class) repair: the dominant real-web corruption is UTF-8
# bytes decoded as Latin-1 ("é" -> "Ã©", "—" -> "â€”"). Detection looks for
# a UTF-8 lead byte READ AS a Latin-1 char (U+00C2-U+00EF) followed by a
# continuation-byte char (U+0080-U+00BF); repair is the inverse transcode.
# The planted suffix below is appended to doc_id < 50 and corrupted
# in-plan, so the op exercises detect AND repair on every run; since the
# documents corpus is pure ASCII (verified at all sf dirs), the corrupted
# text of clean docs is the identity and the oracle can predict the
# repaired output analytically — the md5 hash match certifies the whole
# transcode round trip.
MOJIBAKE_SUFFIX = " — café naïve “smart” €99"
_MOJI_DETECT = "[\\xC2-\\xEF][\\x80-\\xBF]"
_MOJI_LATIN1_SAFE = "^[\\x00-\\xFF]*$"  # every char Latin-1-encodable
_MOJI_N_SEQS = 6  # non-overlapping _MOJI_DETECT matches in the corrupted
# suffix: — (1: â+80, 94 alone no lead), é, ï, “, ”, € each contribute one
# match from their lead-byte char; pinned by test against re.findall


def fix_mojibake(col):
    """Repair expression for UTF-8-read-as-Latin-1 mojibake: transcode
    back (Latin-1 encode → UTF-8 decode) when the detection pattern
    fires AND every char is Latin-1-encodable (the guard keeps encode()
    off strings with >U+00FF chars, where ANSI-mode encode would raise
    on unmappable input). Pure JVM expressions — usable inside any
    projection; docs that are not mojibake pass through untouched."""
    det = col.rlike(_MOJI_DETECT) & col.rlike(_MOJI_LATIN1_SAFE)
    return F.when(det, F.decode(F.encode(col, "ISO-8859-1"), "UTF-8")).otherwise(col)


@op(
    "text_fix_mojibake",
    sql=f"""
    SELECT doc_id,
           doc_id < 50 AS was_mojibake,
           CAST(CASE WHEN doc_id < 50 THEN {_MOJI_N_SEQS} ELSE 0 END AS BIGINT) AS n_bad_seqs,
           md5(CASE WHEN doc_id < 50 THEN text || '{MOJIBAKE_SUFFIX}' ELSE text END) AS fixed_md5
    FROM documents ORDER BY doc_id
    """,
)
def text_fix_mojibake(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-corruption detect + repair (the ftfy / web-corpus
    preprocessing step): flag documents whose text is UTF-8 mojibake
    (decoded as Latin-1 somewhere upstream) and repair them by the
    inverse transcode — encode(ISO-8859-1) → decode(UTF-8), entirely
    JVM-side (encode/decode/rlike/regexp_count: codegen'd map-only
    projection, no Python, no shuffle until the output sort). Docs
    doc_id < 50 get a multibyte suffix appended and corrupted IN-PLAN
    (decode(encode(orig,'UTF-8'),'ISO-8859-1') — real transcode, not a
    string literal), covering 2-byte (é ï) and 3-byte (— “ ” €) UTF-8
    sequences; the rest of the corpus must pass through byte-identical.
    The oracle predicts the repaired text analytically (ASCII corpus ⇒
    corruption is identity off the planted rows), so the md5 column
    hash-certifies that repair(corrupt(x)) == x through both engines.
    At 100 TB this is a pushdown-friendly narrow transform — the
    detection predicate alone is the cheap streaming prefilter, the
    transcode touches only flagged rows (CASE short-circuit)."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    bad = F.when(
        F.col("doc_id") < 50,
        F.decode(F.encode(F.concat(F.col("text"), F.lit(MOJIBAKE_SUFFIX)), "UTF-8"), "ISO-8859-1"),
    ).otherwise(F.col("text"))
    df = d.select("doc_id", bad.alias("bad"))
    det = F.col("bad").rlike(_MOJI_DETECT)
    return df.select(
        "doc_id",
        det.alias("was_mojibake"),
        F.regexp_count("bad", F.lit(_MOJI_DETECT)).cast("long").alias("n_bad_seqs"),
        F.md5(fix_mojibake(F.col("bad"))).alias("fixed_md5"),
    ).orderBy("doc_id")


# Unicode NFC normalization: decomposed sequences (e + COMBINING ACUTE)
# and their precomposed forms (é) are DIFFERENT strings to every hash,
# join, and dedup key, so corpora mixing sources must normalize before
# any content-keyed op. The planted suffix appends three decomposed
# combining sequences to doc_id < 50; the two engines normalize with
# INDEPENDENT implementations (Python stdlib unicodedata vs DuckDB's
# utf8proc nfc_normalize), so the md5 hash match is a genuine
# cross-implementation certification of the normal form.
_NFC_SUFFIX = " cafe\u0301 A\u030A n\u0303"  # e+ACUTE, A+RING, n+TILDE (decomposed)
_NFC_SUFFIX_SQL = "' cafe' || chr(769) || ' A' || chr(778) || ' n' || chr(771)"


@op(
    "text_unicode_nfc",
    sql=f"""
    WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id < 50 THEN text || {_NFC_SUFFIX_SQL} ELSE text END AS raw
        FROM documents
    )
    SELECT doc_id,
           nfc_normalize(raw) != raw AS changed,
           CAST(length(raw) AS BIGINT) AS len_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
           md5(nfc_normalize(raw)) AS nfc_md5
    FROM raw ORDER BY doc_id
    """,
)
def text_unicode_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC normalization over the corpus — the canonicalization
    step that makes content hashing/dedup/joins see "é" and "e +
    COMBINING ACUTE" as the same document. Spark ships no normalization
    expression, so this is a vectorized Arrow-batched pandas UDF over
    the stdlib unicodedata (the one legitimate Python boundary here);
    detection/lengths/hashing stay JVM. Docs doc_id < 50 get a
    decomposed-combining-mark suffix appended in-plan; the oracle
    normalizes with DuckDB's OWN utf8proc implementation, so the md5
    match certifies the normal form across two independent Unicode
    stacks. At 100 TB: map-only projection ∝ text bytes, Arrow-batched,
    no shuffle except the output sort — and in production the cheap
    JVM-side prefilter is `rlike` on the combining-mark block so only
    suspect rows pay the Python hop."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda t: unicodedata.normalize("NFC", t))

    d = table(spark, sf, "documents").select("doc_id", "text")
    raw = F.when(
        F.col("doc_id") < 50, F.concat(F.col("text"), F.lit(_NFC_SUFFIX))
    ).otherwise(F.col("text"))
    df = d.select("doc_id", raw.alias("raw")).withColumn("nfc", _nfc(F.col("raw")))
    return df.select(
        "doc_id",
        (F.col("nfc") != F.col("raw")).alias("changed"),
        F.length("raw").cast("long").alias("len_raw"),
        F.length("nfc").cast("long").alias("len_nfc"),
        F.md5("nfc").alias("nfc_md5"),
    ).orderBy("doc_id")


@op(
    "dedup_exact_normalized",
    sql="""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS content_key,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY content_key
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup after normalization — catches copies that differ only in
    case/punctuation/whitespace (the dominant exact-dup mode in web text).
    Hash-groupBy on md5(clean): one shuffle on a uniform 128-bit key, so no
    skew regardless of content distribution; min(doc_id) elects a
    deterministic canonical survivor. Emits the full content_key →
    canonical assignment (the artifact a rewrite join consumes), not just
    the >1 groups."""
    d = table(spark, sf, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(clean).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


@op(
    "text_pii_redact",
    sql="""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text || ' contact user' || doc_id || '@example.com',
                              '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '[EMAIL]', 'g'),
               '[0-9]{4,}', '[NUM]', 'g') AS redacted
    FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing for training data: regex redaction of emails and long
    digit runs. A deterministic synthetic email is appended per doc (the
    corpus has none) so the redaction path is actually exercised. The
    character classes mean the same thing in Java regex and RE2 → exact
    oracle. Narrow map-side transform, no shuffle, codegen'd."""
    d = table(spark, sf, "documents")
    augmented = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(augmented, r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
        r"[0-9]{4,}",
        "[NUM]",
    )
    return d.select("doc_id", redacted.alias("redacted"))


@op(
    "text_ngram_freq",
    sql="""
    SELECT bigram, COUNT(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i+1])) AS bigram
        FROM (SELECT string_split(text, ' ') AS ws FROM documents)
    ) GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level n-gram frequency (top-20 bigrams, deterministic
    tie-break). Spark side builds bigrams with the shingle helper (JVM
    higher-order fns, no per-doc Python), then one hash aggregation on the
    bigram string; top-k via TakeOrderedAndProject — no global sort. At
    100 TB the groupBy key space is the vocabulary², but partial
    aggregation collapses it map-side and the final shuffle carries only
    distinct bigrams."""
    d = table(spark, sf, "documents")
    bigrams = d.select(
        F.explode(_word_shingles(F.col("text"), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@op(
    "dedup_cluster_cc",
    sql="""
    WITH RECURSIVE
    base_edges AS (
        SELECT doc_id AS src, doc_id + 1 AS dst
        FROM documents
        WHERE doc_id % 10 < 3
          AND doc_id + 1 IN (SELECT doc_id FROM documents)
    ),
    edges AS (
        SELECT src, dst FROM base_edges
        UNION SELECT dst, src FROM base_edges
        UNION SELECT doc_id, doc_id FROM documents
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over a dedup pair graph — the step that turns
    pairwise near-dup hits into KEEP/DROP clusters (every dedup pipeline
    needs it; pairs alone don't dedup anything). Distributed min-label
    propagation: each iteration joins labels across edges and takes the
    per-node min, until a fixpoint — the DataFrame analogue of
    large-star/small-star; iterations needed = component diameter, and
    each one is an ordinary shuffle join, so 100 TB of edges works like
    any other join. Labels are materialized per iteration to
    truncate the growing lineage. The edge set here is a deterministic doc_id chain graph
    (i→i+1 where i%10<3, components of ≤4 nodes) so the DuckDB
    recursive-CTE oracle can build the same graph; in production the
    input is any pair list (minhash/simhash/embedding output)."""
    docs = table(spark, sf, "documents").select("doc_id")
    base = (
        docs.filter(F.col("doc_id") % 10 < 3)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
        .join(docs.select(F.col("doc_id").alias("dst")), "dst", "left_semi")
    )
    return _min_label_cc(
        docs.select(F.col("doc_id").alias("id")), base
    ).select(F.col("id").alias("doc_id"), "cluster_id")


def _min_label_cc(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Distributed min-label propagation to a fixpoint: ``nodes`` is (id),
    ``pairs`` is an undirected pair list (src, dst); returns
    (id, cluster_id) where cluster_id = min id of the connected
    component. Each round is one shuffle join + min-aggregate;
    materializing each round truncates the lineage. Shared by
    dedup_cluster_cc and er_resolve_entities."""
    edges = materialize(pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ))
    labels = materialize(nodes.select("id", F.col("id").alias("cluster_id")))
    while True:
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "cluster_id")
        )
        new_labels = materialize(
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels


@op(
    "split_leakage_safe",
    # Oracle: brute-force jaccard >= 0.5 pairs (the dedup_near_minhash
    # measured-equivalence ground truth) -> recursive-CTE transitive
    # closure -> min-id cluster label -> md5 split bucket. Every step is
    # integer/string-exact; the md5-hex-prefix bucket is the
    # doc_span_corruption portable-hash pattern.
    sql=f"""
    WITH RECURSIVE docs AS ({_PLANTED_DOCS_SQL}
    ),{_jaccard_pairs_sql("docs")},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
        UNION SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5
        UNION SELECT doc_id, doc_id FROM docs
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    b AS (
        SELECT doc_id, cluster_id,
               CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))
                    AS INT) % 100 AS bucket
        FROM cl
    )
    SELECT doc_id, cluster_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def split_leakage_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: assign the split by NEAR-DUP
    CLUSTER, not by document, so near-duplicates can never straddle the
    train/test boundary (per-doc hash splits leak — a test doc's twin
    in train inflates eval, the decontamination failure mode every
    training pipeline guards against). Funnel: banded MinHash-LSH
    candidate pairs (minhash_candidate_pairs — the certified
    dedup_near_minhash generator) → distributed min-label connected
    components (_min_label_cc) → deterministic 80/10/10 bucket from the
    md5 hex prefix of the CLUSTER representative, so every member of a
    component inherits the same split and re-runs are stable across
    partitionings/engines.

    100 TB: pairs are bucket-bounded (LSH), CC is diameter-many shuffle
    joins (near-dup components are tiny — star/chain shaped), the split
    assignment is map-side arithmetic on the label. No step touches
    document text after shingling.

    Oracle: full replication — exact-jaccard pair graph + recursive-CTE
    closure + the same md5 bucket (sql above); the LSH candidate set ≡
    jaccard ≥ 0.5 equivalence is the measured tripwire shared with
    dedup_near_minhash."""
    docs = _docs_with_planted_neardups(spark, sf)
    pairs = minhash_candidate_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = _min_label_cc(docs.select(F.col("doc_id").alias("id")), pairs)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    return (
        labels.select(F.col("id").alias("doc_id"), "cluster_id")
        .withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


N_PLANES = 8  # 256 LSH buckets; multi-probe widens recall


def _lit_double_array(vals) -> F.Column:
    """array<double> literal built as ONE parsed SQL expression. Building
    literal arrays with per-element ``F.lit()`` costs a Py4J driver
    round-trip per element — measured ~1 ms each, so a 64-float weight
    vector costs ~70 ms and a 1024-word bitmap ~2 s of pure plan-build
    time before Spark sees the query (join_bloom_prefilter spent 80% of
    its wall clock there). A single ``F.expr`` string is one round-trip
    regardless of length."""
    return F.expr("array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")")


def _plane_weights(p: int, dim: int = 64) -> list[float]:
    """Deterministic ±1 hyperplane from blake2b bits — no RNG, so the
    bucketing is stable across runs/engines/partitionings."""
    import hashlib

    digest = hashlib.blake2b(f"bpspark-lsh-{p}".encode(), digest_size=dim // 8).digest()
    bits = "".join(f"{byte:08b}" for byte in digest)
    return [1.0 if bits[d] == "1" else -1.0 for d in range(dim)]


def _embeddings_with_planted_twins(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus + 25 planted near-identical twins (vec_id+1M, small fixed
    ±0.03 perturbation → cosine ≈ 0.95) — the embedding analogue of
    _docs_with_planted_neardups: the raw synthetic corpus has NO
    high-cosine pairs (verified: dedup_embedding_cosine finds zero), so
    approximate methods need planted positives to measure recall against."""
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    noise = _plane_weights(99)  # deterministic ±1 vector
    twins = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.zip_with(
            F.col("embedding"),
            _lit_double_array(0.03 * w for w in noise),
            lambda x, n: (x.cast("double") + n).cast("float"),
        ).alias("embedding"),
    )
    return e.unionByName(twins)


def _lsh_oracle_sql() -> str:
    """Full-replication oracle for sim_cosine_lsh (upgraded r8): the
    hyperplanes are DETERMINISTIC ±1 vectors (blake2b bits — computed
    once here in Python and baked into the SQL as integer literals, the
    same values _plane_weights feeds the Spark plan), so every stage is
    portable arithmetic: twin planting (same ±0.03·noise add, float32
    round-trip via REAL), 8 sign projections as explicit left folds
    (list_reduce ≡ F.aggregate — bit-identical sequential IEEE sums;
    sign-critical, so NOT list_sum), bucket assembly, 9-bucket
    multi-probe, exact-cosine scoring (the list_sum pattern TOPK_SQL
    certifies), top-5 ranked on the UNROUNDED cosine with neighbor_id
    tie-break, floor(x·1e8+0.5)/1e8 only in the final projection (the
    tie-free _q6 pattern at 8dp — ROUND(quotient, n) is the one
    primitive whose tie/repr behavior differs across engines)."""
    planes = ", ".join(
        "[" + ",".join(str(int(w)) for w in _plane_weights(p)) + "]"
        for p in range(N_PLANES)
    )
    noise = "[" + ",".join(str(int(w)) for w in _plane_weights(99)) + "]"
    probe_buckets = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(N_PLANES)])
    return f"""
    WITH emb AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(
               list_zip(embedding,
                        list_transform({noise}, b -> b * CAST(0.03 AS DOUBLE))),
               z -> CAST(CAST(z[1] AS DOUBLE) + z[2] AS REAL))
      FROM embeddings WHERE vec_id < 25
    ),
    sig AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
             CAST(list_sum(list_transform([{planes}],
                  (w, p) -> CASE WHEN list_reduce(
                      list_transform(list_zip(embedding, w),
                                     z -> CAST(z[1] AS DOUBLE) * z[2]),
                      (a, b) -> a + b) > 0
                  THEN CAST(1 AS BIGINT) << (p - 1) ELSE 0 END))
               AS BIGINT) AS bucket
      FROM emb
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm,
             unnest([{probe_buckets}]) AS bucket
      FROM sig WHERE vec_id < 25
    ),
    scored AS (
      SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(list_zip(p.q_emb, c.embedding),
                      t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
               / (p.q_norm * c.norm) AS cosine
      FROM sig c JOIN probes p ON c.bucket = p.bucket
      WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id,
           floor(cosine * 1e8 + 0.5) / 1e8 AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= 5
    ORDER BY query_id, rn
    """


@op("sim_cosine_lsh", sql=_lsh_oracle_sql())
def sim_cosine_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH ANN (the third scale path next to brute force
    and IVF): each vector gets an 8-bit signature — the sign pattern of its
    projections onto 8 deterministic ±1 hyperplanes — and the corpus is
    hash-partitioned by that bucket. Queries multi-probe their own bucket
    plus all 8 single-bit flips (cosine-close vectors differ in few sign
    bits), so each query touches ~9/256 of the corpus instead of all of
    it. Projections are JVM higher-order folds over literal weight arrays
    — no Python, no shuffle until the bucket join. Sign-LSH concentrates
    HIGH-cosine neighbors (planted twins at ~0.95 are found reliably);
    on isotropic data with no real neighbors (this corpus's top-5 sit
    near cosine 0.3) no sublinear method can do well — which is exactly
    why the recall test uses planted positives.

    Oracle (upgraded r8, from rows-only): FULL replication — the
    hyperplanes are deterministic literals, so DuckDB replays plant,
    projections (explicit left folds, sign-critical), banding,
    multi-probe, and the exact-cosine top-5 (_lsh_oracle_sql)."""
    e = _with_norm(_embeddings_with_planted_twins(spark, sf))
    proj = [
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                _lit_double_array(_plane_weights(p)),
                lambda x, wgt: x.cast("double") * wgt,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for p in range(N_PLANES)
    ]
    bucket = sum(
        (F.when(proj[p] > 0, F.lit(1 << p)).otherwise(F.lit(0)) for p in range(N_PLANES)),
        start=F.lit(0),
    )
    sig = e.select("vec_id", "embedding", "norm", bucket.alias("bucket"))
    probes = sig.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)],
            )
        ).alias("bucket"),
    )
    scored = (
        sig.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
        )
        .distinct()  # a neighbor can match on several probed buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            # tie-free floor quantization (the _q6 pattern at 8dp), NOT
            # round(): identical float ops in Spark and the DuckDB oracle.
            (F.floor(F.col("cosine") * 1e8 + 0.5) / 1e8).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# corpus×corpus ANN (kNN graph) — the realistic-scale similarity shape
# ---------------------------------------------------------------------------

# nprobe for the corpus×corpus kNN graph. Chosen from the measured
# recall/candidate-fraction curve recorded in docs/SCALE.md (re-measured
# after the fixed-k quantizer fix): with k=√n clusters, nprobe=4 reaches
# recall@5 = 0.94 on a clustered corpus (the realistic shape) while
# scoring ~10% of all pairs; on the isotropic synthetic corpus
# (adversarial for any bucketed ANN) recall is ∝ the corpus fraction
# scanned with a ~3x clustering gain (0.36 at 9%).
IVF_KNN_NPROBE = 4


def _typed_literal(value, dtype: str) -> F.Column:
    """A python value as ONE constant column of SQL type ``dtype``: the
    from_json of its JSON text, which Catalyst folds to a single literal.

    One leaf node however large the value. A parsed SQL array literal is a
    node per element, and every analysis of every frame that carries it
    walks them all: ~1 s of plan analysis per frame op for a 44×64
    quantizer, against ~0.1 s this way. JSON carries doubles exactly
    (shortest repr, correctly rounded parse) and NaN/±Infinity, and the
    type holds for an empty value too, where a bare ``array()`` is
    array<void>, which no field access resolves against (an empty corpus
    trains no centroids and collects no queries)."""
    import json

    return F.from_json(F.lit(json.dumps(value)), dtype)


def _centroid_literal_from_rows(cents: list[tuple[int, list[float]]]):
    """(cent_id, vector) rows → literal array<struct<cent_id,c_emb,c_norm>>:
    the one quantizer form every IVF, routing and streaming-index op
    scores against. The norm guard (``or 1.0``) makes a zero centroid
    score csim 0.0, as in the DuckDB replay."""
    import math

    rows = []
    for cid, emb in cents:
        fs = [float(x) for x in emb]
        rows.append({
            "cent_id": int(cid),
            "c_emb": fs,
            "c_norm": math.sqrt(sum(x * x for x in fs)) or 1.0,
        })
    return _typed_literal(rows, "array<struct<cent_id:int,c_emb:array<double>,c_norm:double>>")


def _centroid_ranking(cent_lit) -> F.Column:
    """The literal quantizer's centroids ranked for the row's ``embedding``
    and ``norm``, nearest first: array<struct<csim, cent_id>> by csim
    DESC, cent_id DESC. The one centroid ranking: [0] is the home cell, a
    prefix is the probe list, [0].csim − [1].csim the top-2 margin.
    Map-side; no join, no shuffle."""
    scored = F.transform(
        cent_lit,
        lambda c: F.struct(
            (
                F.aggregate(
                    F.zip_with(F.col("embedding"), c["c_emb"], lambda x, y: x.cast("double") * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("norm") * c["c_norm"])
            ).alias("csim"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    return F.reverse(F.array_sort(scored))


def _home_cent(ranked) -> F.Column:
    """The nearest centroid's id from a _centroid_ranking, typed non-null.
    A nullable join key makes Catalyst infer isnotnull(home_cent) and push
    it below the projection, which then ranks every vector twice."""
    return F.coalesce(ranked[0]["cent_id"], F.lit(-1))


def _assign_home(e: DataFrame, cent_lit) -> DataFrame:
    """Map-side nearest-centroid assignment against a literal quantizer.
    The ranking is interpreted (higher-order functions), so a
    split-starved scan of ``e`` is spread over the cores first."""
    return _spread_if_scan_starved(e, e, "vec_id").withColumn(
        "home_cent", _home_cent(_centroid_ranking(cent_lit))
    )


IVF_TRAIN_ITERS = 2
# Probes per query for the sim_cosine_ivf query path (standard production
# setting; candidate fraction = nprobe/k, vanishing as k grows to the cap).
IVF_NPROBE = 8
# Hard ceiling on quantizer size: k×d doubles must stay a driver-friendly
# broadcast constant (IVF_MAX_K=65536 × d=64 × 8B ≈ 32 MB worst case).
IVF_MAX_K = 65536


def _ivf_target_k(n: int) -> int:
    """k ≈ √n, clamped to [4, IVF_MAX_K] — FIXED relative to corpus size in
    the sense that it grows sublinearly and is hard-capped, so the collected
    quantizer is O(k·d) and never O(n·d) (r2 verdict: the old
    ``vec_id % 97`` seeding made k — and the plan literal — linear in n)."""
    import math

    return max(4, min(IVF_MAX_K, math.isqrt(max(n, 1))))


def _ivf_centroid_literal(
    e: DataFrame,
    train_iters: int = IVF_TRAIN_ITERS,
    k: int | None = None,
    portable: bool = False,
) -> tuple:
    """Train and collect the IVF coarse quantizer; return it as a literal
    array<struct<cent_id,c_emb,c_norm>> column plus the centroid count.

    Seeds are a deterministic FIXED-SIZE hash-ordered sample:
    ``ORDER BY xxhash64(vec_id) LIMIT k`` with k = √n capped at IVF_MAX_K
    (k passed explicitly by callers that know their target). TakeOrdered
    keeps this scalable — each partition emits its local top-k, the driver
    merges k rows total; no full sort, no shuffle. Then ``train_iters``
    Lloyd rounds refine the seeds — assignment is map-side against the
    current literal, new means are one distributed groupBy(cluster,
    dimension) aggregate, and only k×d doubles reach the driver per round.
    Training reads a deterministic ~1/3 sample of the corpus (standard IVF
    practice: the quantizer is trained on a sample, never the full corpus).

    Collecting centroids is the one driver visit IVF legitimately has:
    the quantizer is k×d floats (k ≈ sqrt(n) even at 100 TB is ≤ ~10⁵ ×
    64 ≈ 25 MB) and every real IVF system ships it to workers as a
    broadcast constant. In exchange, centroid ASSIGNMENT becomes fully
    map-side — zero shuffle — instead of a corpus×k join + per-vector
    argmax shuffle.

    ``portable=True`` (r9, for oracle-replicable callers — the kNN-graph
    pair): the whole training funnel becomes cross-engine replayable —
    seeds ordered by md5(vec_id-as-string) (identical hex in Spark and
    DuckDB, where xxhash64 is Spark-private), the training sample is the
    plain ``vec_id % 3`` residue class, and each round's means are
    quantized tie-free (floor(m·1e6+0.5)/1e6, the ml_kmeans_lloyd r6
    pattern) so cross-engine float-summation noise cannot accumulate
    across rounds. Same O-shape, same driver-visit contract; default
    callers (the certified IVF ladder) are byte-identical to before."""
    if k is None:
        k = _ivf_target_k(e.count())
    if portable:
        seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
        sample_pred = F.col("vec_id") % 3 == 0
    else:
        seed_order = [F.xxhash64("vec_id"), F.col("vec_id")]
        sample_pred = F.pmod(F.xxhash64("vec_id"), F.lit(3)) == 0
    seeds = (
        e.select("vec_id", "embedding")
        .orderBy(*seed_order)
        .limit(k)
        .collect()
    )
    cents = [(i, list(r["embedding"])) for i, r in enumerate(seeds)]
    if train_iters > 0:
        sample = e.filter(sample_pred)
        mean_expr = F.avg(F.col("col").cast("double"))
        if portable:
            mean_expr = F.floor(mean_expr * 1e6 + F.lit(0.5)) / 1e6
        for _ in range(train_iters):
            # not _assign_home: a spread sample would split each mean's
            # float sum into per-partition partials and move its last bits
            ranked = _centroid_ranking(_centroid_literal_from_rows(cents))
            assigned = sample.withColumn("home_cent", _home_cent(ranked))
            means = (
                assigned.select("home_cent", F.posexplode("embedding"))
                .groupBy("home_cent", "pos")
                .agg(mean_expr.alias("m"))
                .groupBy("home_cent")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .collect()
            )
            cents = [
                (int(r["home_cent"]), [float(s["m"]) for s in r["pm"]]) for r in means
            ]
            cents.sort(key=lambda c: c[0])
    return _centroid_literal_from_rows(cents), len(cents)


def _ivf_probe_assign(
    e: DataFrame, nprobe: int, cent_lit=None, portable: bool = False
) -> DataFrame:
    """Per-vector centroid ranking, map-side against the literal quantizer:
    vec_id, embedding, norm, home_cent (nearest), probe_cents (the
    ``nprobe`` nearest) and margin (top-2 csim gap). Pass a prebuilt
    ``cent_lit`` to reuse one trained quantizer; ``portable`` selects the
    oracle-replicable quantizer training (see _ivf_centroid_literal). As
    in _assign_home, a split-starved scan of ``e`` is spread first."""
    if cent_lit is None:
        cent_lit, _k = _ivf_centroid_literal(e, portable=portable)
    ranked = _centroid_ranking(cent_lit)
    return _spread_if_scan_starved(e, e, "vec_id").select(
        "vec_id",
        "embedding",
        "norm",
        _home_cent(ranked).alias("home_cent"),
        F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cent_id"]).alias("probe_cents"),
        # F.get: a one-centroid quantizer gives a NULL margin, not an
        # out-of-bounds error
        (ranked[0]["csim"] - F.get(ranked, 1)["csim"]).alias("margin"),
    )


def _as_queries(df: DataFrame, *extra) -> DataFrame:
    """A (vec_id, embedding, norm) frame as the query side of a scoring
    join: (query_id, q_emb, q_norm, *extra)."""
    return df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        *extra,
    )


def _probe_queries(assigned: DataFrame) -> DataFrame:
    """_ivf_probe_assign rows as queries, one row per probed cell.
    explode_outer, not explode: Catalyst infers size(probe_cents) > 0
    under an inner explode and pushes it below the projection, ranking
    every query twice. The list is never empty, and the cent_id join
    drops the NULL row an empty one would give."""
    return _as_queries(assigned, F.explode_outer("probe_cents").alias("cent_id"))


def _cosine_pairs(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine) of joined query × vector rows — the
    sequential-fold cosine of q_emb/q_norm against embedding/norm, the
    query itself excluded."""
    return pairs.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
    )


def _ivf_candidates(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """Cosine of each probe query against every vector homed in the probed
    cell: the IVF candidate set, one equi-join on cent_id. Wrap ``probes``
    in F.broadcast when it is a small query set."""
    home = assigned.select(F.col("home_cent").alias("cent_id"), "vec_id", "embedding", "norm")
    return _cosine_pairs(home.join(probes, "cent_id"))


def _top5(scored: DataFrame, by) -> DataFrame:
    """The 5 best rows per query_id ranked by ``by``, ties to the lower
    neighbor_id (the exact re-rank every ANN op ends with)."""
    w = Window.partitionBy("query_id").orderBy(by, "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).drop("rn")


def _ivf_knn_graph(e: DataFrame) -> DataFrame:
    """Approximate kNN graph over the WHOLE corpus (every vector is a
    query, probing IVF_KNN_NPROBE cells of the portable quantizer):
    IVF-bucketed candidate generation, one shuffle on cent_id.

    100 TB shape: assignment is map-side (literal quantizer); the corpus
    is hash-partitioned once by home cluster; each vector's probe list
    explodes to ``nprobe`` rows joining only its probed clusters — total
    scored pairs ≈ n · nprobe · (n/k_clusters), never n². Hot clusters
    are the residual risk, same as LSH buckets: with a trained (k-means)
    quantizer cluster sizes concentrate near n/k; a degenerate corpus
    needs the BUCKET_CAP discipline used by dedup_near_minhash."""
    assigned = _ivf_probe_assign(e, IVF_KNN_NPROBE, portable=True)
    return _top5(
        _ivf_candidates(assigned, _probe_queries(assigned)), F.col("cosine").desc()
    ).select(
        "query_id",
        "neighbor_id",
        # tie-free quantization, not ROUND (r9: the r8 oracle standard —
        # the cosine itself is a bit-identical left fold cross-engine,
        # and floor(x·1e8+0.5)/1e8 is the same float ops in both engines)
        (F.floor(F.col("cosine") * 1e8 + F.lit(0.5)) / 1e8).alias("cosine"),
    )


def _ivf_portable_cte_sql(src: str = "embeddings") -> str:
    """DuckDB CTE chain replaying the PORTABLE IVF quantizer + probe
    assignment end-to-end (the sim_knn_graph_ivf / sim_ivf_recall_eval
    funnel; ``src`` names the (vec_id, embedding) relation to quantize —
    dedup_semdedup passes its twin-planted CTE, r11 oracle upgrade):
    md5-ordered seeds with k = clamp(isqrt(n)), the vec_id%3
    training sample, IVF_TRAIN_ITERS unrolled Lloyd rounds with tie-free
    floor-quantized means, then nearest-IVF_KNN_NPROBE probe assignment
    of the FULL corpus against the final quantized centroids. Every dot
    product is a list_sum over identical doubles (the certified
    TOPK_SQL fold pattern); assignment/probe ties break (csim DESC,
    cent_id DESC) — the exact comparator of Spark's
    reverse(array_sort(struct(csim, cent_id))). Emits ``pa`` (vec_id,
    embedding, norm, cent_id, rn) — rn=1 is the home cluster, rn<=nprobe
    the probe set."""
    dot_ec = ("list_sum(list_transform(list_zip(s.embedding, c.c_emb),"
              " t -> CAST(t[1] AS DOUBLE) * t[2]))")
    parts = [
        # vector-norm zero guard mirrors Spark's _with_norm_guarded
        # (ADVICE r9): a zero embedding must score csim 0.0 in both
        # engines, not NULL (whose tie-break placement differs), same
        # rationale as the r9 centroid-norm guard in c0/c{r} below
        """e AS MATERIALIZED (
  SELECT vec_id, embedding,
         coalesce(nullif(sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 1.0) AS norm
  FROM {src}
)""".format(src=src),
        # k = clamp(isqrt(n)) INTEGER-EXACT (ADVICE r9): Spark computes
        # math.isqrt(n); floor(sqrt(double)) can be off by one near
        # large perfect squares, which would desynchronize the whole
        # quantizer — correct the double-rounded s with one CASE
        f"""seeds AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS cent_id,
         embedding
  FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT (SELECT greatest(4, least({IVF_MAX_K},
           CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1
                WHEN s * s > n THEN s - 1
                ELSE s END))
         FROM (SELECT COUNT(*) AS n,
                      CAST(floor(sqrt(CAST(greatest(COUNT(*), 1) AS DOUBLE)))
                           AS BIGINT) AS s
               FROM e))
)""",
        # coalesce(nullif(·,0), 1.0) mirrors Spark's zero-norm centroid
        # guard (_centroid_literal_from_rows `or 1.0`, r9 review): a
        # zero seed/centroid must score csim 0.0, not NULL (DuckDB x/0.0
        # is NULL and would sort NULLS LAST in the assignment window)
        """c0 AS MATERIALIZED (
  SELECT cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb,
         coalesce(nullif(sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0), 1.0)
           AS c_norm
  FROM seeds
)""",
        """samp AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 3 = 0)""",
    ]
    for r in range(1, IVF_TRAIN_ITERS + 1):
        p = r - 1
        parts.append(f"""a{r} AS MATERIALIZED (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT s.vec_id, s.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY {dot_ec} / (s.norm * c.c_norm) DESC, c.cent_id DESC
           ) AS rn
    FROM samp s CROSS JOIN c{p} c
  ) WHERE rn = 1
)""")
        parts.append(f"""m{r} AS MATERIALIZED (
  SELECT cent_id, pos, floor(AVG(x) * 1e6 + 0.5) / 1e6 AS m
  FROM (
    SELECT cent_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
    FROM (SELECT cent_id, embedding,
                 unnest(generate_series(1, len(embedding))) AS i
          FROM a{r})
  )
  GROUP BY cent_id, pos
)""")
        parts.append(f"""c{r} AS MATERIALIZED (
  SELECT cent_id, c_emb,
         coalesce(nullif(sqrt(list_sum(list_transform(c_emb, x -> x * x))), 0),
                  1.0) AS c_norm
  FROM (
    SELECT cent_id, array_agg(m ORDER BY pos) AS c_emb
    FROM m{r} GROUP BY cent_id
  )
)""")
    parts.append(f"""pa AS MATERIALIZED (
  SELECT s.vec_id, s.embedding, s.norm, c.cent_id,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY {dot_ec} / (s.norm * c.c_norm) DESC, c.cent_id DESC
         ) AS rn
  FROM e s CROSS JOIN c{IVF_TRAIN_ITERS} c
)""")
    return ",\n".join(parts)


_KNN_SCORED_SQL = f"""home AS (
  SELECT vec_id, embedding, norm, cent_id FROM pa WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, cent_id
  FROM pa WHERE rn <= {IVF_KNN_NPROBE}
),
knn AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT p.query_id, h.vec_id AS neighbor_id,
           list_sum(list_transform(list_zip(h.embedding, p.q_emb),
                t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
             / (h.norm * p.q_norm) AS cosine,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY list_sum(list_transform(list_zip(h.embedding, p.q_emb),
                t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
                / (h.norm * p.q_norm) DESC, h.vec_id
           ) AS rn
    FROM home h JOIN probes p USING (cent_id)
    WHERE h.vec_id <> p.query_id
  ) WHERE rn <= 5
)"""


def _ivf_knn_oracle_sql() -> str:
    """Full-replication oracle for sim_knn_graph_ivf: portable quantizer
    CTEs + bucketed top-5, tie-free 8dp output quantization."""
    return f"""WITH {_ivf_portable_cte_sql()},
{_KNN_SCORED_SQL}
SELECT query_id, neighbor_id,
       floor(cosine * 1e8 + 0.5) / 1e8 AS cosine
FROM knn
ORDER BY query_id, neighbor_id"""


def _ivf_recall_oracle_sql() -> str:
    """Full-replication oracle for sim_ivf_recall_eval: exact brute-force
    top-5 over the vec_id%29 query sample, semi-joined against the
    replayed approximate graph; recall quantized tie-free at 4dp."""
    return f"""WITH {_ivf_portable_cte_sql()},
{_KNN_SCORED_SQL},
q AS (SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
      FROM e WHERE vec_id % 29 = 0),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_sum(list_transform(list_zip(q.q_emb, c.embedding),
                t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
                / (q.q_norm * c.norm) DESC, c.vec_id
           ) AS rn
    FROM q JOIN e c ON q.query_id <> c.vec_id
  ) WHERE rn <= 5
),
hits AS (
  SELECT t.query_id, t.neighbor_id FROM truth t
  WHERE EXISTS (SELECT 1 FROM knn k
                WHERE k.query_id = t.query_id
                  AND k.neighbor_id = t.neighbor_id
                  AND k.query_id % 29 = 0)
)
SELECT (SELECT COUNT(DISTINCT query_id) FROM truth) AS n_queries,
       (SELECT COUNT(*) FROM truth) AS truth_pairs,
       (SELECT COUNT(*) FROM hits) AS hit_pairs,
       floor((SELECT CAST(COUNT(*) AS DOUBLE) FROM hits)
             / (SELECT COUNT(*) FROM truth) * 1e4 + 0.5) / 1e4
         AS recall_at_5"""


@op("sim_knn_graph_ivf", sql=_ivf_knn_oracle_sql())
def sim_knn_graph_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus×corpus approximate kNN graph: top-5 cosine neighbors for
    EVERY vector (not a 10-query set) via IVF buckets — the shape that
    actually matters for near-dup mining and diversity sampling over a
    training corpus. sim_cosine_topk/sim_cosine_ivf answer a small query
    set; this op answers n queries without an n² plan. Recall vs brute
    force is measured by sim_ivf_recall_eval (the nprobe curve is
    recorded in docs/SCALE.md).

    Oracle (upgraded r9, rows-only → full replication): the op runs the
    PORTABLE quantizer (md5 seeds, vec_id%3 sample, quantized Lloyd
    means — _ivf_centroid_literal portable=True), so the entire
    train→assign→probe→top-5 funnel replays in DuckDB
    (_ivf_knn_oracle_sql). The certified xxhash64 IVF ladder is
    untouched — portable mode is this pair's own path. Vector norms are
    zero-guarded on both engines (ADVICE r9, _with_norm_guarded)."""
    return _ivf_knn_graph(_with_norm_guarded(table(spark, sf, "embeddings")))


@op("sim_ivf_recall_eval", sql=_ivf_recall_oracle_sql())
def sim_ivf_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the IVF kNN graph against EXACT brute-force ground
    truth on a deterministic query sample (vec_id % 29 == 0, ~3% of the
    corpus) — the standard ANN evaluation: ground truth is only ever
    computed on a sample, the approximate method runs corpus-wide.
    Returns ONE row (n_queries, truth_pairs, hit_pairs, recall_at_5);
    everything is declarative — no result collection. Oracle (upgraded
    r9): brute-force truth + the replayed portable-quantizer graph in
    DuckDB (_ivf_recall_oracle_sql) — the recall number itself is now
    hash-certified, turning this op into a cross-engine-verified ANN
    quality tripwire. Vector norms zero-guarded both engines (ADVICE
    r9, _with_norm_guarded)."""
    e = _with_norm_guarded(table(spark, sf, "embeddings"))
    approx = _ivf_knn_graph(e).filter(F.col("query_id") % 29 == 0)
    q = _as_queries(e.filter(F.col("vec_id") % 29 == 0))
    truth = _top5(
        _cosine_pairs(e.join(F.broadcast(q))), F.col("cosine").desc()
    ).select("query_id", "neighbor_id")
    hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        truth.agg(
            F.count_distinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("truth_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("hit_pairs")))
        .select(
            "n_queries",
            "truth_pairs",
            "hit_pairs",
            (
                # try_divide: an empty corpus has no truth pairs (NULL
                # recall, as DuckDB's x / 0), not a DIVIDE_BY_ZERO error
                F.floor(F.try_divide("hit_pairs", "truth_pairs") * 1e4 + F.lit(0.5))
                / 1e4
            ).alias("recall_at_5"),
        )
    )


# ---------------------------------------------------------------------------
# context-window packing
# ---------------------------------------------------------------------------

_PACK_BUDGET_TOKENS = 1024


def _pack_greedy_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    out: list[tuple] = []
    src = pdf["source"].iloc[0]
    pack_id, n_docs, tok, first_id = 0, 0, 0, None
    for doc_id, n_tok in zip(pdf["doc_id"], pdf["n_tokens"]):
        if n_docs > 0 and tok + n_tok > _PACK_BUDGET_TOKENS:
            out.append((src, pack_id, n_docs, tok, first_id, prev_id))
            pack_id, n_docs, tok, first_id = pack_id + 1, 0, 0, None
        if first_id is None:
            first_id = doc_id
        n_docs += 1
        tok += n_tok
        prev_id = doc_id
    if n_docs:
        out.append((src, pack_id, n_docs, tok, first_id, prev_id))
    return pd.DataFrame(
        out,
        columns=["source", "pack_id", "n_docs", "pack_tokens", "first_doc_id", "last_doc_id"],
    )


_SPAN_MASK_PCT = 25  # per-word Bernoulli mask rate; adjacent masks merge


@op(
    "doc_span_corruption",
    sql=f"""
    WITH w0 AS (
        SELECT doc_id, i AS pos, ws[i + 1] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(range(len(ws))) AS t(i)
    ),
    w1 AS (
        SELECT *,
               CAST(('0x' || substr(md5(doc_id || ':' || pos), 1, 4)) AS INT)
                   % 100 < {_SPAN_MASK_PCT} AS masked
        FROM w0
    ),
    w2 AS (
        SELECT *, masked AND NOT COALESCE(
            LAG(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE
        ) AS span_start
        FROM w1
    ),
    w3 AS (
        SELECT *, CAST(SUM(CASE WHEN span_start THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
        FROM w2
    ),
    corr AS (
        SELECT doc_id, string_agg(
            CASE WHEN NOT masked THEN tok
                 WHEN span_start THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
            END, ' ' ORDER BY pos) AS corrupted
        FROM w3 WHERE (NOT masked) OR span_start GROUP BY doc_id
    ),
    tgt AS (
        SELECT doc_id, string_agg(
            CASE WHEN span_start THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '> ' || tok
                 ELSE tok END, ' ' ORDER BY pos) AS target
        FROM w3 WHERE masked GROUP BY doc_id
    ),
    stats AS (
        SELECT doc_id, COUNT(*) AS n_words,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
               CAST(MAX(span_id) AS BIGINT) AS n_spans
        FROM w3 GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_words, s.n_masked, s.n_spans, c.corrupted, t.target
    FROM stats s JOIN corr c USING (doc_id) LEFT JOIN tgt t USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def doc_span_corruption(spark: SparkSession, sf: str) -> DataFrame:
    """Span-corruption objective construction (the T5/UL2 denoising
    pretraining format, Raffel'20): every document becomes a
    (corrupted-input, target) pair — masked spans collapse to
    <extra_id_k> sentinels in the input, and the target lists each
    sentinel followed by the words it hides. Masking is a ~25%
    per-word deterministic Bernoulli draw from md5(doc_id:pos)
    (adjacent masked words merge into one span — the BERT-style
    simplification of T5's length-sampled spans, stated honestly), so
    the SAME pair set regenerates on every engine and every run: the
    full corrupted and target STRINGS are hash-certified against
    DuckDB, sentinels included.

    Plan: split→posexplode (pipeline-local), one per-doc window pass
    (lag for span starts, cumsum for sentinel ids — shared doc_id
    partitioning), then ordered per-doc reassembly via
    sort_array(collect_list(struct(pos, token))) — the shuffle carries
    one token row per word, keyed by doc_id, exactly the footprint of
    doc_split_chunks. No Python anywhere. At 100 TB this runs as the
    LAST map-shaped pass before tokenization and sharding."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    w = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    u = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 1, 4),
        16,
        10,
    ).cast("int")
    w = w.withColumn("masked", F.pmod(u, F.lit(100)) < _SPAN_MASK_PCT)
    order = Window.partitionBy("doc_id").orderBy("pos")
    w = w.withColumn(
        "span_start",
        F.col("masked") & ~F.coalesce(F.lag("masked").over(order), F.lit(False)),
    )
    cum = order.rowsBetween(Window.unboundedPreceding, 0)
    w = w.withColumn("span_id", F.sum(F.col("span_start").cast("int")).over(cum))

    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("span_id") - 1).cast("string"), F.lit(">")
    )
    corrupted_tok = F.when(~F.col("masked"), F.col("tok")).when(
        F.col("span_start"), sentinel
    )
    corr = (
        w.select("doc_id", "pos", corrupted_tok.alias("ct"))
        .filter(F.col("ct").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ct"))),
                    lambda x: x["ct"],
                ),
            ).alias("corrupted")
        )
    )
    tgt_tok = F.when(
        F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("tok"))
    ).when(F.col("masked"), F.col("tok"))
    tgt = (
        w.select("doc_id", "pos", tgt_tok.alias("tt"))
        .filter(F.col("tt").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tt"))),
                    lambda x: x["tt"],
                ),
            ).alias("target")
        )
    )
    stats = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("masked").cast("long")).alias("n_masked"),
        F.max("span_id").cast("long").alias("n_spans"),
    )
    return (
        stats.join(corr, "doc_id")
        .join(tgt, "doc_id", "left")
        .orderBy("doc_id")
    )


@op(
    "doc_pack_greedy",
    # The greedy cut is a linear recurrence over doc_id order, so the oracle
    # is a recursive CTE advancing ONE doc per source per step (all 20
    # sources in parallel; depth = max docs/source = 250 at sf0.1 — cheap).
    # pack_id per doc, then a plain GROUP BY rebuilds the pack rows. All
    # quantities are exact integers — no float fork surface.
    sql="""
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    asg AS (
      SELECT source, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS pack_id, n_tokens AS tok_after
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN a.tok_after + d.n_tokens > 1024
                  THEN a.pack_id + 1 ELSE a.pack_id END AS pack_id,
             CASE WHEN a.tok_after + d.n_tokens > 1024
                  THEN d.n_tokens ELSE a.tok_after + d.n_tokens END AS tok_after
      FROM asg a JOIN d ON d.source = a.source AND d.rn = a.rn + 1
    )
    SELECT source, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc_id,
           max(doc_id) AS last_doc_id
    FROM asg
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
)
def doc_pack_greedy(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy context-window packing: concatenate consecutive documents
    (doc_id order within each source) until adding the next would exceed
    the 1024-token budget, then start a new pack — the sequence-packing
    step of a training-data pipeline. Token counts are computed JVM-side
    (split + size in the scan stage); Python does only the inherently
    sequential cut placement, one Arrow batch per source group. Packing is
    embarrassingly parallel across groups: at 100 TB you subdivide to
    (source, shard) keys and pack per shard — the greedy cut needs only
    in-order iteration within its own group, never global state. An
    oversized single document becomes its own pack (budget can only be
    exceeded by a one-doc pack), so no document is ever dropped."""
    d = table(spark, sf, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return d.groupBy("source").applyInPandas(
        _pack_greedy_group,
        "source string, pack_id long, n_docs long, pack_tokens long, "
        "first_doc_id long, last_doc_id long",
    ).orderBy("source", "pack_id")


@op(
    "doc_split_chunks",
    sql="""
    SELECT doc_id,
           CAST(gs / 150 AS BIGINT)  AS chunk_idx,
           CAST(gs AS BIGINT)        AS chunk_start,
           substring(text, gs + 1, 200) AS chunk_text,
           length(substring(text, gs + 1, 200)) AS chunk_len
    FROM documents, unnest(generate_series(0, length(text) - 1, 150)) AS t(gs)
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_split_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size character chunking with overlap (size 200, stride 150 →
    50-char overlap) — the context-window splitter every training pipeline
    runs before tokenization. Expressed as sequence→posexplode→substring:
    pure codegen, no Python, no shuffle (the explode is pipeline-local and
    the output inherits the scan's partitioning). At 100 TB this is a
    map-only pass whose output is ~1.3× the input bytes."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    starts = F.sequence(F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(150))
    return (
        d.select("doc_id", "text", F.explode(starts).alias("gs"))
        .select(
            "doc_id",
            (F.col("gs") / 150).cast("long").alias("chunk_idx"),
            F.col("gs").cast("long").alias("chunk_start"),
            F.col("text").substr(F.col("gs") + 1, F.lit(200)).alias("chunk_text"),
            F.length(F.col("text").substr(F.col("gs") + 1, F.lit(200))).alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@op(
    "embedding_l2_normalize",
    sql="""
    WITH n AS (
        SELECT vec_id,
               embedding,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm
        FROM embeddings
    )
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
           CAST(embedding[i] AS DOUBLE) / l2_norm AS unit_val
    FROM n, unnest(generate_series(1, len(embedding))) AS t(i)
    ORDER BY vec_id, idx
    """,
)
def embedding_l2_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """L2-normalize embeddings (the prep step before cosine ANN), emitted in
    long (vec_id, idx, unit_val) form so the oracle hash avoids array-typed
    cells. The norm is a sequential double fold — Spark `aggregate` and
    DuckDB `list_sum(list_transform(...))` are bit-identical (verified in
    round 1 over 1600 vector pairs). Map-only: no shuffle, scales linearly;
    the posexplode is how you'd feed a columnar ANN index builder."""
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        e.withColumn("l2_norm", F.sqrt(sq))
        .select("vec_id", F.posexplode("embedding").alias("idx", "x"), "l2_norm")
        .select(
            "vec_id",
            F.col("idx").cast("int").alias("idx"),
            (F.col("x").cast("double") / F.col("l2_norm")).alias("unit_val"),
        )
        .orderBy("vec_id", "idx")
    )


@op(
    "embedding_centroid_per_label",
    sql="""
    SELECT label, CAST(i - 1 AS INTEGER) AS idx,
           ROUND(SUM(CAST(embedding[i] AS DOUBLE)), 6) / COUNT(*) AS centroid_val,
           COUNT(*) AS n_vectors
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, idx
    ORDER BY label, idx
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label mean embedding (k-means-style centroid / class prototype),
    long-form output. posexplode → groupBy(label, idx) is one shuffle whose
    key space is labels×dim — tiny and perfectly balanced regardless of
    input size, with full map-side partial aggregation. Float determinism:
    round-sum-then-divide (sums of ~unit-scale doubles are stable far below
    the 1e-6 rounding grain; the division of identical doubles is IEEE
    bit-identical cross-engine)."""
    e = table(spark, sf, "embeddings").select("label", "embedding")
    return (
        e.select("label", F.posexplode("embedding").alias("idx", "x"))
        .groupBy("label", F.col("idx").cast("int").alias("idx"))
        .agg(
            (F.round(F.sum(F.col("x").cast("double")), 6) / F.count(F.lit(1))).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "idx")
    )


@op(
    "embedding_quantize_int8",
    sql="""
    WITH b AS (
        SELECT vec_id, embedding,
               list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v_min,
               list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v_max
        FROM embeddings
    )
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS idx,
           CAST(least(floor((CAST(embedding[i] AS DOUBLE) - v_min)
                            / (v_max - v_min) * 256.0), 255.0) AS INTEGER) AS code,
           v_min, v_max
    FROM b, unnest(generate_series(1, len(embedding))) AS t(i)
    ORDER BY vec_id, idx
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector scalar quantization to 8-bit codes (the memory-compression
    step before a 100 TB ANN index: 4 bytes/dim → 1). Min/max are array
    folds (codegen, map-only); codes are floor((x-min)/(max-min)*256)
    clamped to 255 — floor of bit-identical doubles is bit-identical
    cross-engine, unlike round (no decimal-repr HALF_UP hazard). Long-form
    output to keep the oracle hash scalar-typed."""
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    b = e.select(
        "vec_id",
        "embedding",
        F.array_min(as_double).alias("v_min"),
        F.array_max(as_double).alias("v_max"),
    )
    code = F.least(
        F.floor((F.col("x").cast("double") - F.col("v_min")) / (F.col("v_max") - F.col("v_min")) * 256.0),
        F.lit(255.0),
    ).cast("int")
    return (
        b.select("vec_id", F.posexplode("embedding").alias("idx", "x"), "v_min", "v_max")
        .select(
            "vec_id",
            F.col("idx").cast("int").alias("idx"),
            code.alias("code"),
            "v_min",
            "v_max",
        )
        .orderBy("vec_id", "idx")
    )


@op(
    "text_tfidf_topterms",
    sql="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE length(term) > 2
        GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 5
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per document. Tokenize (split
    on non-letters, codegen regex — identical classes in Java and DuckDB's
    RE2), hash-agg to (doc,term) tf, re-agg to df, join back, score
    tf·ln(N/df), WindowGroupLimit top-k. The df table is tiny (vocab-sized)
    and broadcast; N is a 1-row broadcast cross join, not a collect. At
    100 TB the only big shuffle is the (doc,term) aggregate, which
    map-side-combines to near-vocab size per partition. ln() agrees to the
    ULP across libm/JDK on the few distinct N/df rationals; the 6dp
    rounding grain is 10^6× coarser."""
    d = table(spark, sf, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.length("term") > 2)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@op(
    "text_readability",
    sql=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+'))            AS n_words,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
           len(regexp_extract_all(lower(text), '[aeiouy]+'))    AS n_syll,
           206.835
             - 1.015 * (len(regexp_extract_all(text, '\S+'))
                        / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
             - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       / greatest(len(regexp_extract_all(text, '\S+')), 1))
             AS flesch
    FROM documents
    ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease with a vowel-group syllable
    heuristic) — a per-document quality signal for corpus filtering, like
    the reference's metadata validation gate (R8) but statistical. Pure
    JVM regexp counting (no Python), fully pushdown-friendly: one narrow
    projection per doc, no shuffle. The score arithmetic is integer
    divisions in an identical expression tree both engines, so the double
    is bit-identical."""
    d = table(spark, sf, "documents")
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    syll = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (syll / F.greatest(words, F.lit(1)))
    )
    return d.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sents"),
        syll.alias("n_syll"),
        flesch.alias("flesch"),
    ).orderBy("doc_id")


@op(
    "text_vocab_stats",
    sql="""
    SELECT lang,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_types,
           COUNT(DISTINCT tok) / COUNT(*) AS type_token_ratio
    FROM (
        SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_vocab_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary statistics per language: token count, distinct
    types, type/token ratio. The tokenizer is the same JVM regexp as
    text_token_count_bpe's fallback path; explode feeds a codegen
    hash-aggregate with map-side partial dedup, so the shuffle carries
    (lang, token) partials, not raw tokens — the layout that survives a
    100 TB corpus. TTR is an int/int division, bit-identical cross-engine."""
    d = table(spark, sf, "documents")
    toks = d.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
            (F.countDistinct("tok") / F.count(F.lit(1))).alias("type_token_ratio"),
        )
        .orderBy("lang")
    )


def _kmeans_assign_batches(centroids):
    """Arrow-batched assignment step: argmin squared-distance to the
    broadcast centroid matrix, vectorized in numpy (the scale path — the
    centroid matrix is O(k·dim), tiny; the data streams through)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k × dim

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            # direct Σ(x-c)² (not the expanded ||x||²-2x·c+||c||² form): the
            # expansion cancels catastrophically at ~1e-12 relative, which
            # would fork the 6dp-quantized distances vs the SQL oracle's
            # Σ(x-c)². k×batch×dim doubles is fine — C is tiny.
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            # tie-free cross-engine quantization (floor(x·1e6+0.5) is the
            # same float ops in numpy and DuckDB; argmin on the QUANTIZED
            # matrix picks the lowest cluster id on ties, matching the
            # oracle's ORDER BY d2, cluster).
            d2 = np.floor(d2 * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": d2.argmin(axis=1).astype("int32"),
                    "dist2": d2.min(axis=1),
                }
            )

    return assign


# ONE definition for the Spark loop and the generated oracle — editing k or
# the round count can never fork the two (self-code-review r6).
_KMEANS_K = 8
_KMEANS_ROUNDS = 4

_KMEANS_ITER_SQL = """
    a{i} AS MATERIALIZED (
      SELECT pt.vec_id, c.cluster,
             floor(SUM((pt.x - c.m) * (pt.x - c.m)) * 1e6 + 0.5) / 1e6 AS d2
      FROM pt JOIN c{prev} c USING (pos)
      GROUP BY pt.vec_id, c.cluster
    ),
    s{i} AS (
      SELECT vec_id, cluster, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
      FROM a{i}
    ),
    g{i} AS MATERIALIZED (SELECT vec_id, cluster, d2 FROM s{i} WHERE rk = 1)"""

_KMEANS_MEANS_SQL = """
    m{i} AS (
      SELECT g.cluster, pt.pos, floor(AVG(pt.x) * 1e6 + 0.5) / 1e6 AS m
      FROM g{i} g JOIN pt USING (vec_id) GROUP BY g.cluster, pt.pos
    ),
    c{i} AS MATERIALIZED (
      SELECT c.cluster, c.pos, COALESCE(m.m, c.m) AS m
      FROM c{prev} c LEFT JOIN m{i} m ON m.cluster = c.cluster AND m.pos = c.pos
    )"""

_KMEANS_SQL = (
    f"""
    WITH pt AS MATERIALIZED (
      SELECT vec_id, CAST(emb[i] AS DOUBLE) AS x, i AS pos FROM (
        SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
    ),
    ids AS (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_KMEANS_K})
    ),
    c0 AS (SELECT ids.cluster, pt.pos, pt.x AS m FROM ids JOIN pt USING (vec_id)),"""
    + ",".join(
        _KMEANS_ITER_SQL.format(i=i, prev=f"{i-1}")
        + ("," + _KMEANS_MEANS_SQL.format(i=i, prev=f"{i-1}") if i < _KMEANS_ROUNDS else "")
        for i in range(1, _KMEANS_ROUNDS + 1)
    )
    + f"""
    SELECT cluster, count(*) AS n_points,
           floor(SUM(d2) * 100 + 0.5) / 100 AS inertia
    FROM g{_KMEANS_ROUNDS} GROUP BY cluster ORDER BY cluster
    """
)


@op("ml_kmeans_lloyd", sql=_KMEANS_SQL)
def ml_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's k-means over the embedding column (k=8, 4 iterations,
    deterministic init = the k lowest vec_ids). The iterative-algorithm
    pattern on Spark: per iteration, ONE distributed pass assigns points
    (mapInPandas + numpy, Arrow-batched) and one groupBy recomputes
    centroids; only the k×dim centroid matrix ever visits the driver.
    posexplode → groupBy(cluster, pos) keeps the mean per-dimension
    distributed instead of averaging arrays driver-side. Oracle-backed
    (upgraded r6): the fixed 4 rounds unroll into one chained-CTE SQL —
    the graph_label_propagation pattern — made cross-engine stable by
    quantizing per-point distances and per-round centroids with the
    tie-free floor(x·1e6+0.5)/1e6 (identical float ops in numpy, Spark
    and DuckDB; see docs/SCALE.md cross-engine float rules). Argmin ties
    break to the lowest cluster id in both engines."""
    emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
    k = _KMEANS_K
    init = emb.orderBy("vec_id").limit(k).collect()
    centroids = [list(r["embedding"]) for r in init]
    assigned = None
    for it in range(_KMEANS_ROUNDS):
        assigned = emb.mapInPandas(
            _kmeans_assign_batches(centroids),
            "vec_id long, cluster int, dist2 double",
        )
        if it == _KMEANS_ROUNDS - 1:
            break  # the final centroid update is never read — skip the job
        means = (
            assigned.join(emb, "vec_id")
            .select("cluster", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg((F.floor(F.avg("x") * 1e6 + F.lit(0.5)) / 1e6).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.col("pm.m").alias("centroid"))
            .collect()
        )
        by_cluster = {r["cluster"]: list(r["centroid"]) for r in means}
        centroids = [by_cluster.get(i, centroids[i]) for i in range(k)]
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            (F.floor(F.sum("dist2") * 100 + F.lit(0.5)) / 100).alias("inertia"),
        )
        .orderBy("cluster")
    )


@op(
    "dedup_token_sorted",
    sql="""
    SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM (
        SELECT doc_id,
               sha256(array_to_string(
                   list_sort(regexp_extract_all(lower(text), '[a-z0-9]+')),
                   ' ')) AS fp
        FROM documents
    )
    GROUP BY fp
    ORDER BY keeper_doc_id
    """,
)
def dedup_token_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """Token-sort fingerprint dedup: tokenize, sort alphabetically, hash —
    collapses reorderings/shuffled near-copies that exact-hash dedup
    misses (the record-linkage \"token sort ratio\" trick, exact version).
    Pure JVM expressions feed a map-side-partial groupBy on the 32-byte
    fingerprint, identical in shape (and 100 TB posture) to
    dedup_exact_hash."""
    d = table(spark, sf, "documents")
    fp = F.sha2(
        F.array_join(
            F.array_sort(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
            ),
            " ",
        ),
        256,
    )
    return (
        d.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_doc_id")
    )


@op(
    "doc_decontaminate",
    sql="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    gi AS (SELECT doc_id, ws,
                  unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
           FROM d),
    grams AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g FROM gi)
    SELECT DISTINCT a.doc_id FROM grams a
    JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0) b ON a.g = b.g
    WHERE a.doc_id % 97 <> 0
    ORDER BY a.doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-gram with the held-out benchmark set (docs with doc_id % 97 == 0
    stand in for it; n=3 here so the synthetic corpus produces hits —
    production uses n=8..13). N-grams come from 2 lead() columns over one
    posexplode + window (JVM-side; no HOF interpretation), the benchmark
    gram set is DISTINCT-shrunk then broadcast into a LEFT SEMI join —
    at 100 TB the benchmark is tiny by construction, so the semi join is
    map-side and the corpus never shuffles on the gram key."""
    toks = (
        table(spark, sf, "documents")
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            F.col("w").alias("w0"),
            F.lead("w", 1).over(w).alias("w1"),
            F.lead("w", 2).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w0", "w1", "w2").alias("g"))
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


def _reduce_partials_one_row(
    partials: DataFrame, arr_cols: list[str], scalar_cols: list[str]
):
    """Distributed reduction of per-batch partials to exactly ONE driver row.

    The anti-pattern this replaces: ``.collect()`` of one partial row per
    Arrow batch, i.e. driver traffic O(#partitions · d²) — tens of GB at
    100 TB scan widths. Instead: posexplode the concatenated fixed-width
    arrays to (pos, v) rows and two-stage-sum per pos (``sum`` is algebraic,
    so the map side combines before the 1-key-per-pos shuffle), then
    assemble the d² sums into a single sorted array row with a global
    ``collect_list`` over the d² *already-reduced* rows. What crosses to the
    driver is one row of d²+d doubles — independent of partition count.

    Returns (values, row): the element-wise summed concatenated array and
    the row carrying the summed scalar columns.
    """
    arr = F.concat(*[F.col(c) for c in arr_cols]) if len(arr_cols) > 1 else F.col(arr_cols[0])
    flat = partials.select(*scalar_cols, F.posexplode(arr).alias("pos", "v"))
    per_pos = flat.groupBy("pos").agg(
        F.sum("v").alias("v"),
        # scalars ride along exactly once (on pos 0) to avoid a second job
        *[F.sum(F.when(F.col("pos") == 0, F.col(c))).alias(c) for c in scalar_cols],
    )
    row = per_pos.agg(
        F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"),
        *[F.sum(c).alias(c) for c in scalar_cols],
    ).first()
    return [s["v"] for s in row["pv"]], row


@op("ml_pca_top_component")
def ml_pca_top_component(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed PCA, two-phase: executors reduce each Arrow batch to
    its Gram matrix / column sum / count via mapInPandas (a 64×64
    matrix per batch — constant size regardless of row count), then the
    partials are summed DISTRIBUTEDLY (_reduce_partials_one_row: two-stage
    per-element agg, one combined row to the driver) and the driver takes
    the top eigenvector of the exact covariance with numpy. This is the
    canonical big-data-linear-algebra split: O(d²) state per partition,
    one pass over the data, no |rows|-sized shuffle anywhere, O(d²) —
    not O(#partitions·d²) — driver traffic. Returns the
    top component's loadings (rows-only; property test checks
    unit norm + that it solves the Rayleigh maximization better than
    axis directions)."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    emb = table(spark, sf, "embeddings").select("embedding")
    partials = emb.mapInPandas(_gram_batches, _GRAM_SCHEMA)
    values, row = _reduce_partials_one_row(partials, ["col_sum", "gram"], ["n"])
    import math
    import numpy as np

    n = row["n"]
    if not n:  # empty input: no covariance to decompose (r8 guard)
        return spark.createDataFrame([], "dim int, loading double, top_eigenvalue double")
    # d from the reduced payload length (len = d + d²), not a hardcoded 64
    d = int((math.isqrt(4 * len(values) + 1) - 1) // 2)
    s = np.array(values[:d])
    g = np.array(values[d:]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    # quantize the covariance BEFORE eigh (r8): the distributed partial
    # sums behind it are combine-order dependent at the ~1e-15 relative
    # level, and eigh amplifies ULP wobble through the eigenvector by
    # 1/eigengap; flooring at 1e-9 (5+ orders above the wobble, well
    # below the 2dp-input covariance scale) makes the eigh input — and
    # hence every emitted double — identical across partitionings.
    cov = np.floor(cov * 1e9 + 0.5) / 1e9
    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    if top[int(np.argmax(np.abs(top)))] < 0:  # deterministic sign
        top = -top
    rows = [(i, float(top[i]), float(vals[-1])) for i in range(d)]
    return spark.createDataFrame(
        rows, "dim int, loading double, top_eigenvalue double"
    ).orderBy("dim")


_GRAM_SCHEMA = "n long, col_sum array<double>, gram array<double>"


def _gram_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        yield pd.DataFrame(
            {
                "n": [len(x)],
                "col_sum": [x.sum(axis=0).tolist()],
                "gram": [(x.T @ x).ravel().tolist()],
            }
        )


@op(
    "text_feature_hashing",
    sql="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
           COUNT(*) AS tf
    FROM tok WHERE tok <> '' GROUP BY doc_id, bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick vectorizer: token → md5 → 32-bit int → bucket id
    mod 64, term frequency per (doc, bucket). The hash is md5-based
    specifically so it is ENGINE-PORTABLE (identical in Spark, DuckDB,
    or any downstream feature store) — a feature pipeline whose buckets
    depend on an engine-private hash can never be re-verified elsewhere.
    Pure codegen expressions (split/explode/md5/conv), partial agg before
    the (doc,bucket) shuffle; at 100 TB this is the standard unbounded-
    vocabulary featurizer — no vocab dictionary to build, ship, or skew."""
    docs = table(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    bucket = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"), F.lit(64)
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("tf")
    )


# ONE definition for the Spark loop and the generated oracle (self-code-
# review r6): rounds and learning rate can never fork the two.
_LOGREG_ROUNDS = 6
_LOGREG_LR = 2.0

_LOGREG_ITER_SQL = """
    p{r} AS MATERIALIZED (
      SELECT pt.vec_id, 1.0 / (1.0 + exp(-(SUM(pt.x * w.wv)))) AS p
      FROM pt JOIN w{prev} w USING (pos) GROUP BY pt.vec_id
    ),
    l{r} AS MATERIALIZED (
      SELECT floor((SUM(-(y.y * ln(p.p + 1e-12)
                          + (1 - y.y) * ln(1 - p.p + 1e-12))) / nn.n) * 1e6
                   + 0.5) / 1e6 AS loss,
             CAST(SUM(CASE WHEN (p.p >= 0.5) = (y.y >= 0.5)
                           THEN 1 ELSE 0 END) AS DOUBLE) / nn.n AS accuracy
      FROM p{r} p JOIN yv y USING (vec_id), nn GROUP BY nn.n
    ),
    g{r} AS (
      SELECT pt.pos, SUM(pt.x * (p.p - y.y)) / nn.n AS gr
      FROM pt JOIN p{r} p USING (vec_id) JOIN yv y ON y.vec_id = pt.vec_id, nn
      GROUP BY pt.pos, nn.n
    ),
    w{r} AS MATERIALIZED (
      SELECT w.pos, floor((w.wv - {lr} * g.gr) * 1e6 + 0.5) / 1e6 AS wv
      FROM w{prev} w JOIN g{r} g USING (pos)
    )"""

_LOGREG_SQL = (
    """
    WITH pt AS MATERIALIZED (
      SELECT vec_id, i AS pos, CAST(emb[i] AS DOUBLE) AS x FROM (
        SELECT vec_id, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings)
      UNION ALL
      SELECT vec_id, len(embedding) + 1 AS pos, 1.0 AS x FROM embeddings
    ),
    yv AS (SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    w0 AS (SELECT DISTINCT pos, 0.0 AS wv FROM pt),"""
    + ",".join(
        _LOGREG_ITER_SQL.format(r=r, prev=f"{r-1}", lr=_LOGREG_LR)
        for r in range(1, _LOGREG_ROUNDS + 1)
    )
    + "SELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT CAST({r - 1} AS INTEGER) AS iteration, loss, accuracy FROM l{r}"
        for r in range(1, _LOGREG_ROUNDS + 1)
    )
    + ") ORDER BY iteration"
)


@op("ml_logreg_gd", sql=_LOGREG_SQL)
def ml_logreg_gd(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed full-batch logistic regression (label parity as the
    binary target) by gradient descent: each executor computes a partial
    gradient + loss over its Arrow batches in mapInPandas, the partials
    are summed DISTRIBUTEDLY per round (_reduce_partials_one_row — the
    treeAggregate pattern) so only O(d) bytes cross to the driver per
    round, never O(#partitions·d) and never the data. The feature matrix
    is materialized once; d and n come from one combined first-pass job, not a
    separate ``.first()``. 6 rounds. Returns the per-iteration loss curve
    (the property test asserts monotone descent and better-than-chance
    training accuracy). Oracle-backed (upgraded r6): the fixed 6 rounds
    unroll into chained CTEs; cross-engine agreement is pinned by
    quantizing the weight vector after every update and the reported loss
    with tie-free floor(x·1e6+0.5)/1e6 — identical float ops in numpy and
    DuckDB, so libm exp/ln ULP differences (~1e-14 in the summed gradient)
    do not accumulate across rounds. Probabilistic, not absolute (a sum
    within ~1e-14 of a 1e-6 boundary could still floor differently per
    engine — ADVICE r6); measured clean at all three SFs, with ~8 orders
    of tie margin."""
    import numpy as np

    emb = materialize(
        table(spark, sf, "embeddings")
        .select("embedding", (F.col("label") % 2).cast("double").alias("y"))
    )
    n_total, d = emb.select(
        F.count(F.lit(1)), F.first(F.size("embedding"))
    ).first()
    if not n_total:  # empty input (r8 guard): no rounds to run
        return spark.createDataFrame([], "iteration int, loss double, accuracy double")
    w = np.zeros(d + 1)
    lr = _LOGREG_LR
    history = []
    for it in range(_LOGREG_ROUNDS):
        bw = spark.sparkContext.broadcast(w.copy())

        def partials(batches, _w=bw):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                X = _np.vstack(pdf["embedding"].to_numpy())
                X = _np.hstack([X, _np.ones((len(X), 1))])
                y = pdf["y"].to_numpy()
                p = 1.0 / (1.0 + _np.exp(-(X @ _w.value)))
                eps = 1e-12
                loss = float(-(y * _np.log(p + eps) + (1 - y) * _np.log(1 - p + eps)).sum())
                hits = int(((p >= 0.5) == (y >= 0.5)).sum())
                yield _pd.DataFrame(
                    {"grad": [(X.T @ (p - y)).tolist()], "loss": [loss], "hits": [hits]}
                )

        parts = emb.mapInPandas(
            partials, "grad array<double>, loss double, hits bigint"
        )
        gvals, row = _reduce_partials_one_row(parts, ["grad"], ["loss", "hits"])
        grad = np.asarray(gvals) / n_total
        loss = float(np.floor(row["loss"] / n_total * 1e6 + 0.5) / 1e6)
        acc = row["hits"] / n_total
        history.append((it, loss, float(acc)))
        w = np.floor((w - lr * grad) * 1e6 + 0.5) / 1e6
        bw.destroy()  # the round's job is done; don't pin 6 broadcasts (r8)
    return spark.createDataFrame(history, "iteration int, loss double, accuracy double")


_LLM_CORPUS_SQL = rf"""
    WITH RECURSIVE q AS (
      SELECT doc_id, text, source FROM documents
      WHERE length(text) BETWEEN 100 AND 2000
        AND len(string_split(text, ' ')) >= 20
        AND CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
            / length(text) > CAST(0.9 AS DOUBLE)
        AND regexp_matches(text, '\bthe\b')
    ),
    e AS (
      SELECT q.* FROM q
      JOIN (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)) k
        USING (doc_id)
    ),
    {_jaccard_pairs_sql("e")},
    losers AS (
      SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= 0.5
    ),
    near AS (
      SELECT e.* FROM e
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    ngr AS (SELECT gr.doc_id, gr.g FROM gr JOIN near USING (doc_id)),
    bench AS (SELECT DISTINCT g FROM ngr WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT DISTINCT n.doc_id FROM ngr n JOIN bench b ON n.g = b.g
      WHERE n.doc_id % 97 <> 0
    ),
    clean AS (
      SELECT near.* FROM near
      WHERE doc_id % 97 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    chunks_cnt AS (
      -- COALESCE: SUM over an empty `clean` is NULL, Spark's count() is 0
      SELECT COALESCE(CAST(SUM(CAST(floor(greatest(length(text) - 1, 0) / 600)
                                    AS BIGINT) + 1) AS BIGINT),
                      CAST(0 AS BIGINT)) AS n
      FROM clean
    ),
    pd AS (SELECT source, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM clean),
    asg AS (
      SELECT source, rn, CAST(0 AS BIGINT) AS pack_id, n_tokens AS tok_after
      FROM pd WHERE rn = 1
      UNION ALL
      SELECT p.source, p.rn,
             CASE WHEN a.tok_after + p.n_tokens > 1024
                  THEN a.pack_id + 1 ELSE a.pack_id END,
             CASE WHEN a.tok_after + p.n_tokens > 1024
                  THEN p.n_tokens ELSE a.tok_after + p.n_tokens END
      FROM asg a JOIN pd p ON p.source = a.source AND p.rn = a.rn + 1
    ),
    packs_cnt AS (
      SELECT count(*) AS n FROM (SELECT DISTINCT source, pack_id FROM asg)
    )
    SELECT * FROM (
      SELECT '0_raw' AS stage, (SELECT count(*) FROM documents) AS n_rows
      UNION ALL SELECT '1_quality', (SELECT count(*) FROM q)
      UNION ALL SELECT '2_exact_dedup', (SELECT count(*) FROM e)
      UNION ALL SELECT '3_near_dedup', (SELECT count(*) FROM near)
      UNION ALL SELECT '4_decontaminated', (SELECT count(*) FROM clean)
      UNION ALL SELECT '5_chunks', (SELECT n FROM chunks_cnt)
      UNION ALL SELECT '6_packs', (SELECT n FROM packs_cnt)
    ) ORDER BY stage
    """


@op(
    "pipeline_llm_corpus",
    # Oracle (upgraded r6): the full funnel re-derived in SQL. The one
    # non-SQL stage — MinHash-LSH near-dedup — is replaced by its ground
    # truth (brute-force shingle-Jaccard >= 0.5 pairs): measured at all
    # three SFs, the banded-LSH candidate set has ZERO false positives
    # (min candidate jaccard 0.8) and exact recall at >= 0.5, so the two
    # definitions coincide on this corpus; the r6 probe + cross-SF sweep
    # pin that. Greedy packing reuses doc_pack_greedy's recursive CTE.
    sql=_LLM_CORPUS_SQL,
)
def pipeline_llm_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The whole corpus-prep flow as ONE composed declarative pipeline —
    quality gate → exact dedup → MinHash near-dedup → benchmark
    decontamination → chunking → greedy packing — i.e. every curation
    family in this module chained the way a production training-data
    run chains them. Each stage reuses the exact logic of its standalone
    op (same predicates, same LSH parameters, same pack budget), so the
    per-stage tests transfer; the returned funnel (stage, n_rows) is the
    run's audit record. Catalyst sees ONE plan per counted stage and
    pushes the quality predicate into the scan that feeds everything.
    Deterministic end to end: seeded minhash, md5 canonical pick,
    doc_id-ordered packing."""
    docs = table(spark, sf, "documents")

    toks = F.split(F.col("text"), " ")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double") / F.length("text")
    )
    quality = docs.filter(
        F.length("text").between(100, 2000)
        & (F.size(toks) >= 20)
        & (alpha_ratio > 0.9)
        & (F.regexp_count("text", F.lit(r"\bthe\b")) >= 1)
    ).select("doc_id", "text", "source")

    # exact dedup: canonical = min doc_id per content hash
    canon = quality.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    exact = quality.join(
        canon.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )

    # The funnel runs one action per stage, and each stage's plan contains
    # every stage before it — without materialization the minhash subtree
    # alone would execute 4× (near, clean, chunks, packs). The two frames
    # that cap the expensive subtrees are materialized where they are
    # defined, so every later stage reads them, exactly like a production
    # run materializes stage outputs between curation phases.

    # near-dedup: LSH candidate pairs; survivor = smaller doc_id
    pairs = minhash_candidate_pairs(exact.select("doc_id", "text"))
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    # spread before materializing (no-op at scale): everything downstream —
    # the decontamination gram transforms, chunking, packing — reads the
    # materialized partitioning, which on a one-split scan would be one core
    near = materialize(_spread_if_scan_starved(
        exact.join(losers, "doc_id", "left_anti"), docs, "doc_id"
    ))

    # decontamination: drop docs sharing a 3-gram with the benchmark slice.
    # r12: grams come from the _word_shingles array expression (identical
    # "w0 w1 w2" strings, same <3-word guard) instead of posexplode +
    # window lead — the per-doc Exchange+Sort disappears, and the frame is
    # evaluated twice downstream (bench side + corpus side), so the saving
    # doubles.
    grams = near.select(
        "doc_id", F.explode(_word_shingles(F.col("text"), 3)).alias("g")
    )
    bench_grams = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = materialize(
        near.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
    )

    # chunk + pack
    starts = F.sequence(F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(600))
    chunks = clean.select(
        "doc_id", F.posexplode(starts).alias("chunk_no", "start")
    ).select("doc_id", "chunk_no")
    packs = (
        clean.select("source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
        .groupBy("source")
        .applyInPandas(
            _pack_greedy_group,
            "source string, pack_id long, n_docs long, pack_tokens long, "
            "first_doc_id long, last_doc_id long",
        )
    )

    stages = [
        ("0_raw", docs),
        ("1_quality", quality),
        ("2_exact_dedup", exact),
        ("3_near_dedup", near),
        ("4_decontaminated", clean),
        ("5_chunks", chunks),
        ("6_packs", packs),
    ]
    counts = [(name, df.count()) for name, df in stages]
    return spark.createDataFrame(counts, "stage string, n_rows bigint")


# ---------------------------------------------------------------------------
# BPE vocabulary induction — distributed merge learning
# ---------------------------------------------------------------------------

_BPE_MERGES = 8


_BPE_MERGE_CACHE: dict = {}


def _learn_bpe_merges(spark: SparkSession, sf: str) -> list:
    """Run the distributed BPE merge learning (see
    text_bpe_vocab_induction) and return [(rank, left, right, merged,
    weight)] — shared by the tokenizer apply op and the tokenizer-aware
    packer. Memoized per corpus within the process (r9): the merge table
    is a pure deterministic function of the corpus (exact greedy over
    integer weights), and the two callers run back-to-back in the
    driver's sweep window — caching halves the learn cost there and in
    every replica. The memo key is (sf, ``io._sf_data_fingerprint``),
    not the path alone (ADVICE r9): regenerating the corpus at the same
    path invalidates the entry instead of silently reusing a stale merge
    table. The production analogue is persisting the trained merge table
    next to the corpus (it IS the tokenizer model), keyed by corpus
    snapshot."""
    fp = _sf_data_fingerprint(str(sf))
    if not fp:  # no parquet table to fingerprint: learn fresh, never memoize
        return _bpe_learn_impl(spark, sf)
    key = (str(sf), fp)
    if key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = _bpe_learn_impl(spark, sf)
    return _BPE_MERGE_CACHE[key]


def _bpe_merge_cte_sql() -> str:
    """DuckDB CTE chain replaying the exact-greedy (batch=1) merge
    learning: words → sym0 (char-spaced + </w>) → per round k:
    weighted adjacent-pair count (integer wn sums — no floats anywhere),
    argmax with (weight DESC, pair ASC) lexicographic tie-break (binary
    collation, identical to Spark's UTF-8 string ordering on these
    ASCII symbols), and the merge applied via the DOUBLE-SPACE literal
    replace trick: DuckDB regex is RE2 (no lookaround), so Spark's
    `(?<=^|\\s)L\\sR(?=\\s|$)` is replayed as a plain `replace()` on
    ' '||replace(syms,' ','  ')||' ' — doubling the delimiters gives
    every token-adjacency its own spaces, so consecutive matches don't
    consume each other's boundaries; both engines then replace the same
    non-overlapping left-to-right occurrences without rescanning
    replacements. Caller appends SELECTs over m1..m{k} / sym{k}."""
    parts = [
        """words AS MATERIALIZED (
  SELECT word, COUNT(*) AS wn
  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
)""",
        """sym0 AS MATERIALIZED (
  SELECT array_to_string(list_transform(range(1, length(word) + 1),
                                        i -> word[i]), ' ')
           || ' </w>' AS syms,
         wn
  FROM words
)""",
    ]
    for k in range(1, _BPE_MERGES + 1):
        p = k - 1
        parts.append(f"""pairs{k} AS MATERIALIZED (
  SELECT pr AS pair, CAST(SUM(wn) AS BIGINT) AS w
  FROM (
    SELECT unnest(list_transform(
             list_zip(l[1:len(l) - 1], l[2:len(l)]),
             z -> z[1] || ' ' || z[2])) AS pr,
           wn
    FROM (SELECT string_split(syms, ' ') AS l, wn FROM sym{p})
    WHERE len(l) >= 2
  )
  GROUP BY pr
)""")
        parts.append(f"""m{k} AS MATERIALIZED (
  SELECT {k} AS rank,
         string_split(pair, ' ')[1] AS left_s,
         string_split(pair, ' ')[2] AS right_s,
         replace(pair, ' ', '') AS merged,
         w AS pair_weight
  FROM pairs{k} ORDER BY w DESC, pair LIMIT 1
)""")
        parts.append(f"""sym{k} AS MATERIALIZED (
  SELECT trim(regexp_replace(
           replace(' ' || replace(s.syms, ' ', '  ') || ' ',
                   ' ' || m.left_s || '  ' || m.right_s || ' ',
                   ' ' || m.merged || ' '),
           ' +', ' ', 'g')) AS syms,
         s.wn
  FROM sym{p} s, m{k} m
)""")
    return ",\n".join(parts)


def _bpe_induction_oracle_sql() -> str:
    """Full-replication oracle for text_bpe_vocab_induction (upgraded
    r8): the op is exact greedy over integer weights with lexicographic
    ties — no floats, no RNG — so the 8 rounds unroll into MATERIALIZED
    CTEs (_bpe_merge_cte_sql) and the merge table matches row-for-row."""
    sel = "\nUNION ALL\n".join(
        f'SELECT rank, left_s AS "left", right_s AS "right", merged, pair_weight'
        f" FROM m{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"WITH {_bpe_merge_cte_sql()}\n{sel}\nORDER BY rank"


@op("text_bpe_vocab_induction", sql=_bpe_induction_oracle_sql())
def text_bpe_vocab_induction(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-pair-encoding vocabulary induction over the documents corpus —
    the distributed form of tokenizer training: (1) ONE corpus scan
    builds the weighted word-type table (explode → groupBy word; all
    later work is on |vocab| rows, not corpus rows — the classic BPE
    trick); (2) each of the 8 merge rounds counts adjacent symbol pairs
    weighted by word frequency in a distributed aggregate, and only the
    single argmax pair reaches the driver (ties broken lexicographically
    → fully deterministic); (3) the chosen merge re-enters the plan as a
    literal whole-token regexp_replace — map-side, no shuffle. At 100 TB
    the word-type table is ~10⁷ rows regardless of corpus size, so merge
    rounds cost the same at any scale; only the initial word count sees
    the corpus. k merges = k driver round-trips of ONE row each —
    inherent to the greedy-argmax algorithm, and the standard
    compromise in every distributed BPE trainer. Output: the learned
    merge table (rank, left, right, merged, pair_weight).

    Oracle (upgraded r8, rows-only → full replication): exact greedy
    over integer weights unrolls into 8 MATERIALIZED CTE rounds
    (_bpe_induction_oracle_sql) — see _bpe_merge_cte_sql for the
    RE2-safe double-space replay of the lookaround merge regex."""
    return spark.createDataFrame(
        _bpe_learn_impl(spark, sf),
        "rank int, left string, right string, merged string, pair_weight bigint",
    )


def _bpe_learn_impl(
    spark: SparkSession, sf: str, n_merges: int = _BPE_MERGES, batch: int = 1
) -> list:
    """Distributed BPE merge learning.

    ``batch=1`` (the registered ops' setting) is EXACT greedy BPE: one
    distributed pair-count per merge, one argmax row to the driver.

    ``batch>1`` is the production-vocab path (VERDICT r2 #4): each
    distributed pass collects the top ``4*batch`` candidate pairs and
    greedily keeps up to ``batch`` of them that are SYMBOL-DISJOINT (no
    selected pair shares a symbol with an earlier selection in the same
    pass — a merge can only change the counts of pairs that touch its
    symbols, so disjoint pairs' counts are mutually unaffected except
    through adjacency chains that the disjointness screen also blocks).
    All kept merges apply in ONE map-side regexp pass. Cost model:
    ceil(k / batch) Spark jobs and O(batch) driver rows per pass — a 30k
    merge vocab at batch=256 is ~120 passes, vs 30k sequential jobs for
    pure greedy. The deviation from pure greedy is the standard batched-
    trainer compromise (ranks within a pass follow count order, and a
    pair suppressed by disjointness is re-counted next pass)."""
    import re as _re

    words = (
        table(spark, sf, "documents")
        # same normalization as text_bpe_tokenize's apply step — train and
        # inference MUST tokenize identically or learned merges can't fire
        .select(F.explode(F.split(F.lower("text"), r"[^a-z0-9]+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    # "the" -> "t h e </w>" (end-of-word marker keeps suffixes distinct)
    sym = materialize(words.select(
        F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.col("word").substr(i, F.lit(1)),
                ),
                " ",
            ),
            F.lit(" </w>"),
        ).alias("syms"),
        "wn",
    ))

    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        arr = F.split(F.col("syms"), " ")
        cands = (
            sym.filter(F.size(arr) >= 2)
            .select(
                F.explode(
                    F.zip_with(
                        F.slice(arr, 1, F.size(arr) - 1),
                        F.expr("slice(split(syms, ' '), 2, size(split(syms, ' ')) - 1)"),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                ).alias("pair"),
                "wn",
            )
            .groupBy("pair")
            .agg(F.sum("wn").alias("w"))
            .orderBy(F.col("w").desc(), F.col("pair"))
            .limit(4 * want)
            .collect()
        )
        if not cands:
            break
        # greedy symbol-disjoint selection within the pass
        used: set[str] = set()
        selected: list[tuple[str, str, int]] = []
        for r in cands:
            if len(selected) >= want:
                break
            left, right = r["pair"].split(" ", 1)
            # left+right guard: two SAME-PASS pairs can concatenate to the
            # same merged token (('a','bc') and ('ab','c') -> 'abc'); `used`
            # holds this pass's merged tokens, so checking it rejects the
            # second one. Scope is one pass only (`used` resets per pass):
            # a LATER pass re-deriving the same surface token from a
            # different pair is legitimate BPE (distinct patterns, same
            # output symbol) and exact-greedy batch=1 permits it too.
            if left in used or right in used or left + right in used:
                continue
            selected.append((left, right, int(r["w"])))
            used.update((left, right, left + right))
        pats = []
        for left, right, w in selected:
            merged = left + right
            merges.append((len(merges) + 1, left, right, merged, w))
            pats.append(
                (
                    r"(?<=^|\s)" + _re.escape(left) + r"\s" + _re.escape(right) + r"(?=\s|$)",
                    merged.replace("\\", "\\\\").replace("$", r"\$"),
                )
            )
        col = F.col("syms")
        for pat, rep in pats:  # one chained map-side projection, no shuffle
            col = F.regexp_replace(col, pat, rep)
        sym = materialize(sym.select(col.alias("syms"), "wn"))

    return merges


# ---------------------------------------------------------------------------
# entity resolution
# ---------------------------------------------------------------------------

def _er_candidate_pairs(sup: DataFrame) -> DataFrame:
    """Blocked candidate generation: equi-join on the (nation, acctbal)
    block key, Levenshtein residual in-block — the plan tests assert
    this stage never goes cartesian."""
    a = sup.select(
        F.col("id").alias("src"), F.col("name").alias("na"), "nat", "bal"
    )
    b = sup.select(
        F.col("id").alias("dst"), F.col("name").alias("nb"), "nat", "bal"
    )
    return (
        a.join(b, ["nat", "bal"])
        .filter(F.col("src") < F.col("dst"))
        .filter(F.levenshtein("na", "nb") <= 2)
        .select("src", "dst")
    )


def _er_variant_corpus(s: DataFrame):
    """The planted ER universe shared by all three ER forms: base
    suppliers, the 'x' typo variants (keys < 15), and the later 'yz'
    variants (keys < 8). Returns (base_with_v1, v2_batch)."""
    v1 = s.filter(F.col("id") < 15).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.concat(F.col("name"), F.lit("x")).alias("name"),
        "nat",
        "bal",
    )
    v2 = s.filter(F.col("id") < 8).select(
        (F.col("id") + 2_000_000).alias("id"),
        F.concat(F.col("name"), F.lit("yz")).alias("name"),
        "nat",
        "bal",
    )
    return s.unionByName(v1), v2


def _er_entity_output(labels: DataFrame, recs: DataFrame) -> DataFrame:
    """Shared output assembly: multi-member entities with member names."""
    sized = labels.groupBy(F.col("cluster_id").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        labels.select(F.col("cluster_id").alias("entity_id"), F.col("id").alias("member_id"))
        .join(recs.select(F.col("id").alias("member_id"), "name"), "member_id")
        .join(sized.filter(F.col("n_members") > 1), "entity_id")
        .select("entity_id", "member_id", "name", "n_members")
    )


_ER_FULL_RECOMPUTE_SQL = """
    WITH RECURSIVE sup AS (
        SELECT s_suppkey AS id, s_name AS name, s_nationkey AS nat, s_acctbal AS bal
        FROM supplier
        UNION ALL
        SELECT s_suppkey + 1000000, s_name || 'x', s_nationkey, s_acctbal
        FROM supplier WHERE s_suppkey < 15
        UNION ALL
        SELECT s_suppkey + 2000000, s_name || 'yz', s_nationkey, s_acctbal
        FROM supplier WHERE s_suppkey < 8
    ),
    pairs AS (
        SELECT a.id AS src, b.id AS dst
        FROM sup a JOIN sup b
          ON a.nat = b.nat AND a.bal = b.bal AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 2
    ),
    edges(src, dst) AS (
        SELECT src, dst FROM pairs
        UNION SELECT dst, src FROM pairs
        UNION SELECT id, id FROM sup
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (SELECT src AS id, MIN(dst) AS entity_id FROM reach GROUP BY src),
    sized AS (
        SELECT entity_id, COUNT(*) AS n_members FROM labels GROUP BY entity_id
    )
    SELECT l.entity_id, l.id AS member_id, s.name, z.n_members
    FROM labels l
    JOIN sup s ON l.id = s.id
    JOIN sized z ON l.entity_id = z.entity_id
    WHERE z.n_members > 1
    """


@op(
    "er_resolve_entities",
    sql=_ER_FULL_RECOMPUTE_SQL,
)
def er_resolve_entities(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end to end: (1) BLOCK — candidate pairs come
    only from equal (nation, acctbal) blocks, an equi-join, so the
    pairwise stage is per-block and never corpus×corpus (the same
    discipline LSH gives text dedup; at 100 TB the block key is the
    shuffle key and hot blocks get the BUCKET_CAP treatment); (2) SCORE
    — Levenshtein ≤ 2 on the name as the in-block residual predicate,
    JVM-side; (3) CLUSTER — the shared min-label propagation
    (_min_label_cc) turns pairs into entity clusters, handling
    variant-of-a-variant chains transitively; (4) CANONICALIZE — the
    min member id is the surviving entity id. The corpus plants two
    typo-variants per low-key supplier (suffix 'x' / 'yz', same phone)
    so 3-member chains exercise transitivity; the DuckDB recursive-CTE
    + levenshtein oracle checks the whole pipeline exactly. Output: one
    row per member of each multi-member entity."""
    s = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nat"),
        F.col("s_acctbal").alias("bal"),
    )
    base, batch = _er_variant_corpus(s)
    sup = base.unionByName(batch)
    labels = _min_label_cc(sup.select("id"), _er_candidate_pairs(sup))
    return _er_entity_output(labels, sup)


# ---------------------------------------------------------------------------
# RAG retrieval evaluation
# ---------------------------------------------------------------------------

_RAG_DIM = 256


def _rag_tf_vec(text: str):
    """Python twin of the engine's md5 hashing-trick featurizer: unigram ∪
    bigram term frequencies over lowercased [a-z0-9]+ tokens, md5-bucketed
    into a dense dim-256 float vector. Used inside the Arrow-batched
    scorer (and on the driver for the bounded query set), so chunk and
    query featurization are one code path."""
    import hashlib
    import re

    import numpy as np

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    terms = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    v = np.zeros(_RAG_DIM, dtype=np.float64)
    for t in terms:
        v[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % _RAG_DIM] += 1.0
    return v


@op("rag_retrieval_eval", sql=None)  # self-evaluating composition
def rag_retrieval_eval(spark: SparkSession, sf: str) -> DataFrame:
    """RAG retrieval self-evaluation: documents are chunked (size 200 /
    stride 150, the doc_split_chunks shape) and each excerpt query (180
    chars of every 10th document among the first 5000 ids — an id-capped
    sample, so the collected query matrix is O(500) at any corpus size)
    must retrieve a chunk of ITS OWN source document at rank 1 — the
    needle eval. Scoring is an
    Arrow-batched numpy matmul inside mapInPandas: the (tiny) query
    matrix rides the closure, each chunk batch computes
    (batch × dim) · (dim × queries) with BLAS and emits only its
    per-query best row — the corpus streams through MAP-ONLY, and the
    final reduce sees #batches × #queries rows. Three formulations were
    built and measured at sf0.1: (1) dense JVM higher-order-fold cosine
    — 44 s (CodegenFallback per pair); (2) sparse inverted-index join —
    OOM without stop-word pruning (common terms cost |chunks|×|queries|
    rows per term) and recall collapse WITH pruning, because on this
    small-vocabulary corpus the needle signal is the full TF fingerprint
    across common terms, exactly what pruning removes; (3) this numpy
    path — ~4 s, full-fingerprint cosine, the standard vectorized-batch
    scorer when no term is individually discriminative. Output is ONE
    row (n_queries, hits_at_1, hit_rate_at_1, mean_top1_cosine); tests
    pin hit_rate ≥ 0.85 on the small fixture."""
    import numpy as np

    d = table(spark, sf, "documents").select("doc_id", "text")
    starts = F.sequence(F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(150))
    # carry text through the explode (the doc_split_chunks shape) — the
    # old explode-then-rejoin form paid a corpus-sized shuffle join on
    # doc_id for rows the map-only generator already had (r11 review)
    chunks = d.select(
        "doc_id", "text", F.explode(starts).alias("gs")
    ).select(
        "doc_id",
        (F.col("gs") / 150).cast("long").alias("chunk_idx"),
        F.col("text").substr(F.col("gs") + 1, F.lit(200)).alias("chunk_text"),
    )
    # Query set = every 10th doc of the FIRST 5000 ids. The id cap bounds
    # the driver-side collect at ≤500 rows INDEPENDENT of corpus size
    # (the dedup_recall_eval capped-sample pattern, VERDICT r11): the
    # uncapped 1-in-10 rule grew the broadcast query matrix linearly with
    # the corpus — a driver OOM at 100 TB. At every test SF (max doc_id
    # 4999) the cap admits the identical query set, so small-SF behavior
    # is byte-unchanged while scale-out cost is O(cap).
    q_rows = (
        d.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 5000))
        .select("doc_id", F.col("text").substr(61, 180).alias("qtext"))
        .collect()  # bounded query set — the broadcast side
    )
    q_ids = np.array([r["doc_id"] for r in q_rows], dtype=np.int64)
    qm = np.stack([_rag_tf_vec(r["qtext"]) for r in q_rows])
    qm = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack([_rag_tf_vec(t) for t in pdf["chunk_text"]])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            s = m @ qm.T  # (batch, queries)
            # deterministic per-batch argmax: ties break to the first
            # (lowest doc_id, chunk_idx) row because np.argmax is first-hit
            # over the batch, which is already sorted by (doc_id, chunk_idx)
            best = s.argmax(axis=0)
            yield pd.DataFrame(
                {
                    "query_doc": q_ids,
                    "doc_id": pdf["doc_id"].to_numpy()[best],
                    "chunk_idx": pdf["chunk_idx"].to_numpy()[best],
                    "cosine": s[best, np.arange(len(q_ids))],
                }
            )

    per_batch_best = chunks.orderBy("doc_id", "chunk_idx").mapInPandas(
        score_batches,
        "query_doc long, doc_id long, chunk_idx long, cosine double",
    )
    w = Window.partitionBy("query_doc").orderBy(
        F.col("cosine").desc(), F.col("doc_id"), F.col("chunk_idx")
    )
    top1 = per_batch_best.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return top1.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count_if(F.col("doc_id") == F.col("query_doc")).alias("hits_at_1"),
        F.round(
            F.count_if(F.col("doc_id") == F.col("query_doc")) / F.count(F.lit(1)), 4
        ).alias("hit_rate_at_1"),
        F.round(F.avg("cosine"), 4).alias("mean_top1_cosine"),
    )


# ---------------------------------------------------------------------------
# multimodal: audio (real RIFF/WAVE PCM16 files)
# ---------------------------------------------------------------------------

_WAV_RATE = 8000
_WAV_BIG, _WAV_SMALL = 256, 160  # samples per size class


def _wav_header(n_samples: int) -> bytes:
    """A valid RIFF/WAVE header for PCM16 mono at 8 kHz — built with
    struct.pack, so these are REAL wav files any reader opens."""
    import struct

    data_len = n_samples * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + data_len)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
        + b"data"
        + struct.pack("<I", data_len)
    )


def wav_audio_payloads(d: DataFrame) -> DataFrame:
    """documents → one REAL audio file per row: RIFF/WAVE PCM16 mono,
    fixed headers (binary literals, one per size class) binary-concatenated
    with JVM-generated sample bytes (the document's printable text, padded
    to the exact data length — deterministic stand-in for recorded audio).
    stdlib `wave` opens these files."""
    is_big = (F.col("doc_id") % 2) == 0
    header = F.when(is_big, F.lit(_wav_header(_WAV_BIG))).otherwise(
        F.lit(_wav_header(_WAV_SMALL))
    )
    data = F.encode(
        F.expr(
            f"substring(rpad(regexp_replace(text, '[^ -~]', ' '), {_WAV_BIG * 2}, '.'), 1, "
            f"cast((case when doc_id % 2 = 0 then {_WAV_BIG * 2} else {_WAV_SMALL * 2} end) as int))"
        ),
        "ISO-8859-1",
    )
    return d.select("doc_id", F.concat(header, data).alias("payload"))


def decode_wav(payload: bytes):
    """Parse a RIFF/WAVE PCM16 file with the stdlib wave module (a real
    parser, not a fake) and return the int16 sample array."""
    import io as _io
    import wave

    import numpy as np

    with wave.open(_io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
            # executor code: must survive python -O (r11 review — under
            # optimized mode a stereo/24-bit payload would be misparsed
            # as garbage int16 samples instead of failing loudly)
            raise ValueError(
                f"unsupported WAV: width={wf.getsampwidth()} ch={wf.getnchannels()}"
            )
        frames = wf.readframes(wf.getnframes())
        return np.frombuffer(frames, dtype="<i2"), wf.getframerate()


def _decode_audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Real audio decode + features per Arrow batch: sample count and rate
    from the wav header, RMS / peak / zero-crossing features from the
    decoded samples, sha256 of the raw sample bytes."""
    import hashlib

    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "media_type", "n_bytes", "n_samples",
                                "sample_rate", "duration_s", "rms", "peak",
                                "zero_crossings", "content_sha256")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            samples, rate = decode_wav(raw)
            x = samples.astype(np.float64)
            out["doc_id"].append(doc_id)
            out["media_type"].append("audio/wav")
            out["n_bytes"].append(len(raw))
            out["n_samples"].append(int(samples.size))
            out["sample_rate"].append(int(rate))
            out["duration_s"].append(round(samples.size / rate, 6))
            out["rms"].append(float(np.sqrt((x * x).mean())))
            out["peak"].append(int(np.abs(samples).max()))
            out["zero_crossings"].append(int(((samples[:-1].astype(np.int64) * samples[1:]) < 0).sum()))
            out["content_sha256"].append(hashlib.sha256(samples.tobytes()).hexdigest())
        yield pd.DataFrame(out)


_AUDIO_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, n_samples long, "
    "sample_rate long, duration_s double, rms double, peak long, "
    "zero_crossings long, content_sha256 string"
)


@op("multimodal_audio_decode", sql=None)
def multimodal_audio_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode over a binary column via mapInPandas: each row
    carries a valid RIFF/WAVE PCM16 file (synthesized JVM-side by
    wav_audio_payloads — the container ships no audio corpus), parsed by
    the stdlib wave module; sample counts come from the wav header,
    RMS/peak/zero-crossing features from the decoded samples, and a
    sha256 of the sample bytes pins content (golden-hash test builds one
    wav by hand). Same Arrow-batched per-file-parallel shape as the
    image path — at 100 TB the payloads live as binary columns next to
    typed metadata and decode is a map-only pass."""
    d = table(spark, sf, "documents")
    return wav_audio_payloads(d).mapInPandas(_decode_audio_batches, _AUDIO_SCHEMA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# multimodal: video (real concatenated-PPM frame stream)
# ---------------------------------------------------------------------------

_VID_W, _VID_H, _VID_FRAMES = 12, 8, 4


def ppm_stream_payloads(d: DataFrame) -> DataFrame:
    """documents → one REAL video stream per row: ``_VID_FRAMES``
    complete binary PPM (P6) frames concatenated back to back — the
    rawvideo pipe format ffmpeg emits with ``-f image2pipe -vcodec
    ppm``. Each frame's raster is a different slice of the document
    text, so frames differ and frame order is testable. Built entirely
    JVM-side (binary concat of per-frame header + raster)."""
    hdr = F.encode(F.lit(f"P6\n{_VID_W} {_VID_H}\n255\n"), "ISO-8859-1")
    flen = _VID_W * _VID_H * 3
    padded = F.expr(
        f"rpad(regexp_replace(text, '[^ -~]', ' '), {flen * _VID_FRAMES}, '.')"
    )
    frames = []
    for i in range(_VID_FRAMES):
        raster = F.encode(
            F.substring(padded, i * flen + 1, flen), "ISO-8859-1"
        )
        frames.extend([hdr, raster])
    return d.select("doc_id", F.concat(*frames).alias("payload"))


def parse_ppm_stream(payload: bytes) -> list:
    """REAL stream parser: walk the byte stream frame by frame, reading
    each P6 header (whitespace-separated dims) to find where its raster
    ends — exactly how a PPM-pipe consumer works. Returns the list of
    decoded (h, w, 3) arrays via decode_ppm on each frame slice."""
    frames, pos = [], 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"P6":
            raise ValueError(f"bad frame magic at {pos}")
        toks, p = [], pos + 2
        while len(toks) < 3:
            while p < len(payload) and payload[p : p + 1].isspace():
                p += 1
            start = p
            while p < len(payload) and not payload[p : p + 1].isspace():
                p += 1
            if start == p:  # ran off the end mid-header
                raise ValueError(f"truncated frame header at {pos}")
            toks.append(int(payload[start:p]))
        p += 1  # single whitespace then raster
        w, h, _ = toks
        end = p + w * h * 3
        if end > len(payload):
            raise ValueError(f"truncated frame raster at {pos}")
        frames.append(decode_ppm(payload[pos:end]))
        pos = end
    return frames


def _decode_video_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per Arrow batch: parse the frame stream, keep every 2nd frame
    (the keyframe-sampling shape), one output row per sampled frame with
    per-frame features + content hash."""
    import hashlib

    for pdf in batches:
        out = {k: [] for k in ("doc_id", "frame_no", "n_frames", "width", "height",
                                "frame_mean", "frame_sha256")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            frames = parse_ppm_stream(bytes(payload))
            for fno in range(0, len(frames), 2):
                img = frames[fno]
                h, w, _ = img.shape
                out["doc_id"].append(doc_id)
                out["frame_no"].append(fno)
                out["n_frames"].append(len(frames))
                out["width"].append(w)
                out["height"].append(h)
                out["frame_mean"].append(float(img.mean()))
                out["frame_sha256"].append(hashlib.sha256(img.tobytes()).hexdigest())
        yield pd.DataFrame(out)


@op("multimodal_video_frames", sql=None)
def multimodal_video_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video frame extraction over a binary column: each row is a
    concatenated-PPM frame stream (the ffmpeg image2pipe rawvideo
    format, synthesized JVM-side), walked by a real stream parser that
    reads each frame's P6 header to locate its raster, samples every
    2nd frame, and emits per-frame features + content hash via
    mapInPandas. This is the video analogue of the image/audio decode
    paths: binary column in, typed per-frame rows out, map-only, Arrow-
    batched. (multimodal_frame_sample remains the JVM-only byte-stride
    variant.)"""
    d = table(spark, sf, "documents")
    return (
        ppm_stream_payloads(d)
        .mapInPandas(
            _decode_video_batches,
            "doc_id long, frame_no int, n_frames int, width int, height int, "
            "frame_mean double, frame_sha256 string",
        )
        .orderBy("doc_id", "frame_no")
    )


# ---------------------------------------------------------------------------
# incremental deduplication (new batch vs existing index)
# ---------------------------------------------------------------------------

@op(
    "dedup_incremental_exact",
    sql="""
    WITH state AS (
        SELECT DISTINCT sha256(text) AS content_hash
        FROM documents WHERE doc_id < 400
    ),
    batch AS (
        SELECT doc_id, sha256(text) AS content_hash
        FROM documents WHERE doc_id >= 400
        UNION ALL
        SELECT doc_id + 2000000, sha256(text)
        FROM documents WHERE doc_id % 50 = 0 AND doc_id < 400
    )
    SELECT b.doc_id, b.content_hash,
           (s.content_hash IS NULL) AS is_novel
    FROM batch b LEFT JOIN state s ON b.content_hash = s.content_hash
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL exact dedup — the production shape: the corpus-wide
    ops (dedup_exact_hash etc.) re-scan everything, but a live pipeline
    dedups each arriving batch against a persisted HASH INDEX only. The
    index (hashes of docs 0..399, memoized parquet — hashes, never
    bodies: the state is ~32 bytes/doc at any corpus size) left-joins
    the new batch's hashes; misses are novel and get appended to the
    index, hits are dropped as duplicates (the batch replants 1-in-50
    existing texts under new ids to prove detection). Work per batch ∝
    batch + matched index partitions — at 100 TB bucket the index by
    hash prefix so the probe is co-partitioned, and the append is a
    partition-targeted write. Mirrors the reference's R9 anti-join
    idempotency (MetadataIngestionServiceImpl existence check) at the
    content level."""
    d = table(spark, sf, "documents")
    idx_state = build_once(
        "dedupidx",
        sf,
        lambda p: d.filter(F.col("doc_id") < 400)
        .select(F.sha2("text", 256).alias("content_hash"))
        .distinct()
        .write.mode("overwrite")
        .parquet(p),
    )
    state = spark.read.parquet(idx_state)
    batch = (
        d.filter(F.col("doc_id") >= 400)
        .select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .unionByName(
            d.filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 400)).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                F.sha2("text", 256).alias("content_hash"),
            )
        )
    )
    s = state.select(F.col("content_hash").alias("s_hash"))
    decisions = batch.join(
        s, batch.content_hash == s.s_hash, "left"
    ).select(
        "doc_id",
        "content_hash",
        F.col("s_hash").isNull().alias("is_novel"),
    )
    # Demonstrate the index append (partition-targeted at scale) into a
    # PER-CALL staging dir: the op itself must stay a pure function of
    # sf for the driver's repeated correctness runs, so the
    # shared index is never mutated here — production would merge this
    # staged append into the index as its own committed step.
    append_stage = scratch("dedupidx_append")
    decisions.filter("is_novel").select("content_hash").write.mode("append").parquet(
        append_stage
    )
    return decisions


# Shared oracle CTE chain for the incremental LSH probe (r9: factored
# out of dedup_incremental_minhash so split_incremental_assign replays
# the same measured-equivalence ground truth): batch = docs >= 400 plus
# +3M perturbed twins of every 20th indexed doc; `m` = per-batch-doc
# (matched_doc = MIN matched index id, n_matches) over the brute-force
# jaccard >= 0.5 relation against the indexed corpus (docs < 400).
_INC_PROBE_ORACLE_CTES = f"""docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text || ' perturbed' AS text
      FROM documents WHERE doc_id < 400 AND doc_id % 20 = 0
    ),{_jaccard_pairs_sql("docs")},
    cm AS (
      SELECT doc_b AS batch_doc, doc_a AS index_doc
      FROM jac WHERE jaccard >= 0.5 AND doc_a < 400 AND doc_b >= 400
    ),
    m AS (
      SELECT batch_doc, MIN(index_doc) AS matched_doc,
             CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM cm GROUP BY batch_doc
    )"""


@op(
    "dedup_incremental_minhash",
    # Oracle (upgraded r7): brute-force shingle-Jaccard >= 0.5 between the
    # batch (docs >= 400 plus +3M perturbed twins of every 20th indexed
    # doc) and the indexed corpus (docs < 400) — the band-index probe at
    # >= _INC_MIN_BANDS collisions MEASURES as exactly this relation at
    # every test SF (r7 probe: lsh-only 0 / truth-only 0 at sf0.001/0.01/
    # 0.1; min matched jaccard 0.889, ZERO single-band chance collisions,
    # so the nearest miss is 2 full bands away). Like dedup_near_minhash,
    # the hash row is an LSH regression tripwire: re-run the probe before
    # touching N_HASHES/N_BANDS/_INC_MIN_BANDS.
    sql=f"""
    WITH {_INC_PROBE_ORACLE_CTES}
    SELECT b.doc_id,
           (m.matched_doc IS NULL) AS is_novel,
           m.matched_doc,
           COALESCE(m.n_matches, 0) AS n_matches
    FROM (SELECT doc_id FROM docs WHERE doc_id >= 400) b
    LEFT JOIN m ON m.batch_doc = b.doc_id
    ORDER BY b.doc_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL near-dup — dedup_incremental_exact's shape one tier up:
    a live pipeline screens each arriving batch against a persisted
    MinHash-LSH BAND INDEX instead of re-running corpus×corpus LSH. The
    index is the (band, bucket, doc_id) table of the existing corpus
    (docs 0..399 here; 16 rows × ~24 B per doc at any corpus size, the
    signature — never the text — is the state). Each batch doc computes
    its 16 band keys (the exact _minhash_bands plan) and probes the
    index by (band, bucket) equi-join; per-(batch doc, index doc) the
    count of colliding bands is the match strength, and 'near-dup' means
    ≥ _INC_MIN_BANDS collisions (multi-band agreement — one-band chance
    collisions are screened out without fetching any text).

    The batch replants a lightly-perturbed twin of every 20th indexed
    doc under a new id, so detection is measurable: twins must match
    their originals, genuinely-new docs must come out novel (tests).

    100 TB shape: the index is written bucketed-by-key in production so
    the probe is co-partitioned (zero index shuffle — only the batch's
    16·|batch| band rows move); probe cost ∝ batch bands × matched
    buckets, never index size. Hot buckets get the BUCKET_CAP discipline
    on the INDEX side at build time (boilerplate-heavy buckets belong to
    the exact-dedup tier). Decisions stay pure per call — the index
    append is staged, mirroring dedup_incremental_exact."""
    batch, best = _minhash_index_probe(spark, sf)
    return (
        batch.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("matched_doc").isNull().alias("is_novel"),
            "matched_doc",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
        )
        .orderBy("doc_id")
    )


def _band_index_probe(probes: DataFrame, index: DataFrame) -> DataFrame:
    """Probe a MinHash band index: (doc_id, band, bucket) probes
    equi-join (index_doc, band, bucket) index rows, and a (doc, index
    doc) pair matches when >= _INC_MIN_BANDS of its bands collide.
    Returns (doc_id, matched_doc = MIN matched index id, n_matches) for
    every probe doc with at least one match."""
    return (
        probes.join(index, ["band", "bucket"])
        .groupBy("doc_id", "index_doc")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= _INC_MIN_BANDS)
        .groupBy("doc_id")
        .agg(
            F.min("index_doc").alias("matched_doc"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


def _minhash_index_probe(spark: SparkSession, sf: str) -> tuple:
    """The incremental-LSH probe shared by dedup_incremental_minhash and
    split_incremental_assign: build/load the persisted (band, bucket,
    doc_id) index of the existing corpus (docs < 400), form the arriving
    batch (docs >= 400 plus +3M perturbed twins of every 20th indexed
    doc), probe by (band, bucket) equi-join, and keep matches with
    >= _INC_MIN_BANDS colliding bands. Returns (batch, best) where best
    is (doc_id, matched_doc = MIN matched index id, n_matches) — both
    functions of the match SET alone, which the r7 probe measured
    identical to {jaccard >= 0.5} at every SF (the measured-equivalence
    ground the shared oracle CTEs replay)."""
    d = table(spark, sf, "documents")
    existing = d.filter(F.col("doc_id") < 400).select("doc_id", "text")
    idx_state = build_once(
        "minhashidx",
        sf,
        lambda p: _minhash_bands(existing)
        .select("doc_id", "band", "bucket")
        .write.mode("overwrite")
        .parquet(p),
    )
    index = spark.read.parquet(idx_state).select(
        F.col("doc_id").alias("index_doc"), "band", "bucket"
    )
    batch = (
        d.filter(F.col("doc_id") >= 400)
        .select("doc_id", "text")
        .unionByName(
            existing.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
            )
        )
    )
    probes = _minhash_bands(batch).select("doc_id", "band", "bucket")
    return batch, _band_index_probe(probes, index)


@op(
    "split_incremental_assign",
    # Oracle: the shared incremental-probe ground truth (jaccard >= 0.5
    # batch x index relation) + the same md5-prefix bucket arithmetic as
    # split_leakage_safe, anchored on COALESCE(matched_doc, own doc_id).
    sql=f"""
    WITH {_INC_PROBE_ORACLE_CTES},
    a AS (
      SELECT b.doc_id,
             (m.matched_doc IS NOT NULL) AS inherited,
             COALESCE(m.matched_doc, b.doc_id) AS anchor_id
      FROM (SELECT doc_id FROM docs WHERE doc_id >= 400) b
      LEFT JOIN m ON m.batch_doc = b.doc_id
    ),
    bkt AS (
      SELECT doc_id, inherited, anchor_id,
             CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR)), 1, 4))
                  AS INT) % 100 AS bucket
      FROM a
    )
    SELECT doc_id, inherited, anchor_id, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bkt ORDER BY doc_id
    """,
)
def split_incremental_assign(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL leakage-safe split — split_leakage_safe's live form:
    an arriving batch is assigned train/val/test WITHOUT recomputing the
    corpus split. Each batch doc probes the persisted MinHash band index
    (_minhash_index_probe, the dedup_incremental_minhash machinery); a
    doc matching an indexed near-dup INHERITS the matched doc's split
    anchor (min matched index id — deterministic), so a test doc's twin
    arriving later can never land in train; a genuinely novel doc is
    anchored on its own id. The split is the md5-prefix bucket of the
    anchor (identical arithmetic to split_leakage_safe), so assignment
    is stable across batches, re-runs, partitionings and engines. The
    indexed corpus is assumed post-dedup (every index doc is its own
    cluster representative — the standard state after the batch split
    ran once).

    SCOPE OF THE GUARANTEE (ADVICE r9): "a test doc's twin never lands
    in train" holds against the PERSISTED index only. Two near-dup docs
    arriving in the SAME batch are each novel w.r.t. the index, anchor
    on their own ids, and can straddle splits; likewise a batch doc
    matching two index representatives takes MIN(matched_doc) and does
    not re-bridge those representatives' clusters. The deployment
    contract is therefore: fold each assigned batch into the index (and
    run the batch through dedup first) before the next batch probes —
    exactly how dedup_incremental_minhash maintains the same index. An
    intra-batch candidate-pair CC pass (split_leakage_safe's machinery
    scoped to the batch) would close the same-batch window at the cost
    of a batch-local shuffle; kept out because the post-dedup
    precondition already removes intra-batch twins.

    100 TB: probe cost ∝ batch bands x matched buckets (never index
    size), split arithmetic is map-side; the only state is the ~24 B/doc
    band index the dedup tier already maintains.

    Oracle: full replication via the shared probe ground truth
    (_INC_PROBE_ORACLE_CTES — measured-equivalence tripwire) + the same
    md5 bucket CASE."""
    batch, best = _minhash_index_probe(spark, sf)
    anchored = (
        batch.select("doc_id")
        .join(best.select("doc_id", "matched_doc"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("matched_doc").isNotNull().alias("inherited"),
            F.coalesce("matched_doc", "doc_id").alias("anchor_id"),
        )
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("anchor_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 100
    )
    return (
        anchored.withColumn("bucket", bucket)
        .withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


# multi-band agreement threshold for the incremental LSH probe: with 16
# bands of 4 hashes, a true near-dup (jaccard ~0.9) collides in most
# bands while unrelated same-vocabulary docs rarely agree on >1.
_INC_MIN_BANDS = 2


def _bpe_apply_chain_sql(carry_cols: tuple = ()) -> str:
    """docsyms + apply1.._BPE_MERGES CTE chain replaying the tokenizer
    APPLY in DuckDB: symbolize every document (per-word char-spacing +
    </w>, words joined by single spaces — safe because a learned pair's
    LEFT can never be or end with </w>, so merges cannot fire across
    word boundaries), then replay the merges in rank order with the
    double-space literal replace. ``carry_cols`` are extra document
    columns (e.g. ``source``) threaded through every apply CTE. Each
    apply step is merge-OPTIONAL (ADVICE r8): if the corpus yields
    fewer than _BPE_MERGES learnable merges, m{k} is empty — a cross
    join would annihilate the doc set while the Spark side just applies
    fewer merges. LEFT JOIN ON TRUE + COALESCE keeps every doc: with no
    merge row the replace chain is NULL (NULL operands) and the symbols
    pass through unchanged, exactly Spark's early-break behavior.
    Requires the _bpe_merge_cte_sql() CTEs in the same WITH."""
    carry = "".join(f" {c}," for c in carry_cols)
    acarry = "".join(f" a.{c}," for c in carry_cols)
    applies = []
    for k in range(1, _BPE_MERGES + 1):
        src = "docsyms" if k == 1 else f"apply{k - 1}"
        applies.append(f"""apply{k} AS MATERIALIZED (
  SELECT a.doc_id,{acarry} a.n_tokens_chars,
         COALESCE(
           trim(regexp_replace(
             replace(' ' || replace(a.syms, ' ', '  ') || ' ',
                     ' ' || m.left_s || '  ' || m.right_s || ' ',
                     ' ' || m.merged || ' '),
             ' +', ' ', 'g')),
           a.syms) AS syms
  FROM {src} a LEFT JOIN m{k} m ON TRUE
)""")
    return f"""docsyms AS MATERIALIZED (
  SELECT doc_id,{carry}
         len(string_split(syms, ' ')) AS n_tokens_chars,
         syms
  FROM (
    SELECT doc_id,{carry}
           array_to_string(
             list_transform(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> w <> ''),
               w -> array_to_string(list_transform(range(1, length(w) + 1),
                                                   i -> w[i]), ' ') || ' </w>'),
             ' ') AS syms
    FROM documents
  )
),
{",".join(applies)}"""


def _bpe_tokenize_oracle_sql() -> str:
    """Full-replication oracle for text_bpe_tokenize (upgraded r8):
    re-derives the 8 merges (_bpe_merge_cte_sql) and replays the apply
    funnel (_bpe_apply_chain_sql). Counts are integers; compression is
    ONE IEEE division of exact doubles quantized tie-free at 4dp (the
    _q6 pattern)."""
    return f"""WITH {_bpe_merge_cte_sql()},
{_bpe_apply_chain_sql()}
SELECT doc_id,
       n_tokens_chars,
       len(string_split(syms, ' ')) AS n_tokens_bpe,
       floor(len(string_split(syms, ' ')) * 1e4 / n_tokens_chars + 0.5) / 1e4
         AS compression
FROM apply{_BPE_MERGES}
ORDER BY doc_id"""


def _pack_tokenized_oracle_sql() -> str:
    """Full-replication oracle for doc_pack_tokenized: the BPE learn +
    apply funnel yields per-doc BPE token counts, then the greedy cut
    replays as doc_pack_greedy's recursive per-source state carrier
    (depth = max docs/source; all integer arithmetic)."""
    return f"""WITH RECURSIVE {_bpe_merge_cte_sql()},
{_bpe_apply_chain_sql(("source",))},
d AS (
  SELECT source, doc_id,
         CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM apply{_BPE_MERGES}
),
asg AS (
  SELECT source, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS pack_id, n_tokens AS tok_after
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN a.tok_after + d.n_tokens > {_PACK_BUDGET_TOKENS}
              THEN a.pack_id + 1 ELSE a.pack_id END AS pack_id,
         CASE WHEN a.tok_after + d.n_tokens > {_PACK_BUDGET_TOKENS}
              THEN d.n_tokens ELSE a.tok_after + d.n_tokens END AS tok_after
  FROM asg a JOIN d ON d.source = a.source AND d.rn = a.rn + 1
)
SELECT source, pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc_id,
       max(doc_id) AS last_doc_id
FROM asg
GROUP BY source, pack_id
ORDER BY source, pack_id"""


@op("text_bpe_tokenize", sql=_bpe_tokenize_oracle_sql())
def text_bpe_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer APPLY — the other half of BPE: learn the merge table
    (_learn_bpe_merges, 8 rounds, distributed counts), then tokenize
    every document map-side by symbolizing words (char-spaced + </w>)
    and replaying the merges in rank order as literal regexp_replace
    steps — the exact greedy order a BPE tokenizer uses at inference.
    No shuffle in the apply: it is one projection per document (the
    merge table is plan literals, the same ship-the-tiny-model trick as
    the IVF quantizer and Bloom bitmap). Output per doc: token count
    before merges (chars+boundaries), after merges, and the compression
    ratio — tests pin that merges never increase tokens and that a
    known word tokenizes to the learned merged symbols.

    Oracle (upgraded r8, rows-only → full replication): the whole
    learn-then-apply funnel replays in DuckDB (_bpe_tokenize_oracle_sql);
    compression switched from round(q, 4) to tie-free
    floor(q·1e4+0.5)/1e4 on both engines (cross-engine ROUND of a
    quotient is the one non-portable primitive)."""
    merges = _learn_bpe_merges(spark, sf)
    counted = _bpe_doc_token_counts(spark, sf, merges)
    return counted.select(
        "doc_id",
        "n_tokens_chars",
        "n_tokens_bpe",
        # int·1e4 is exact in double, then ONE division and the tie-free
        # floor — the same IEEE op sequence the DuckDB oracle runs
        (F.floor(F.col("n_tokens_bpe") * 1e4 / F.col("n_tokens_chars") + F.lit(0.5)) / 1e4)
        .alias("compression"),
    ).orderBy("doc_id")


def _bpe_doc_token_counts(spark: SparkSession, sf: str, merges: list) -> DataFrame:
    """(doc_id, source, n_tokens_chars, n_tokens_bpe) — the map-side
    tokenizer APPLY shared by text_bpe_tokenize and doc_pack_tokenized:
    symbolize words (char-spaced + </w>) and replay the learned merges
    in rank order as literal regexp_replace steps; the merge table is
    plan literals (the ship-the-tiny-model trick), so the whole pass is
    one shuffle-free projection per document."""
    import re as _re

    d = table(spark, sf, "documents")
    words = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda w: F.length(w) > 0
    )
    sym_one = lambda w: F.concat(  # noqa: E731
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
            ),
            " ",
        ),
        F.lit(" </w>"),
    )
    doc_syms = d.select(
        "doc_id",
        "source",
        F.array_join(F.transform(words, sym_one), " ").alias("syms"),
    )
    col = F.col("syms")
    base_tokens = F.size(F.split(col, " "))
    for _rank, left, right, merged, _w in merges:
        pat = r"(?<=^|\s)" + _re.escape(left) + r"\s" + _re.escape(right) + r"(?=\s|$)"
        col = F.regexp_replace(col, pat, merged.replace("\\", "\\\\").replace("$", r"\$"))
    return doc_syms.select(
        "doc_id",
        "source",
        base_tokens.alias("n_tokens_chars"),
        F.size(F.split(col, " ")).alias("n_tokens_bpe"),
    )


@op("doc_pack_tokenized", sql=_pack_tokenized_oracle_sql())
def doc_pack_tokenized(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-aware context-window packing — doc_pack_greedy with the
    budget measured in REAL tokenizer tokens instead of whitespace
    words: learn the BPE merge table (one distributed pass over word
    types), count each document's post-merge tokens map-side
    (_bpe_doc_token_counts — zero extra shuffle), then place the greedy
    cuts per source exactly like doc_pack_greedy. This is the
    production packing contract: a pack must fit the model's context
    window in the model's OWN token count, and whitespace counts
    under-estimate it badly (~5× here — the docs average ~54 words but
    ~260 BPE tokens).

    100 TB: identical shape to doc_pack_greedy — tokenize is map-only
    (merge table is plan literals), packing is embarrassingly parallel
    across (source, shard) groups via applyInPandas; no new shuffles
    beyond the per-group sort the cut placement needs.

    Oracle: full replication — the BPE learn+apply CTEs feed
    doc_pack_greedy's recursive greedy state carrier
    (_pack_tokenized_oracle_sql); all quantities are exact integers."""
    merges = _learn_bpe_merges(spark, sf)
    toks = _bpe_doc_token_counts(spark, sf, merges).select(
        "source", "doc_id", F.col("n_tokens_bpe").alias("n_tokens")
    )
    return (
        toks.groupBy("source")
        .applyInPandas(
            _pack_greedy_group,
            "source string, pack_id long, n_docs long, pack_tokens long, "
            "first_doc_id long, last_doc_id long",
        )
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# training-mixture construction
# ---------------------------------------------------------------------------

@op(
    "sample_temperature_mixture",
    sql="""
    WITH dc AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    w AS (
        SELECT lang, n_docs,
               CAST(FLOOR(sqrt(n_docs) * 1000000) AS BIGINT) AS weight_u
        FROM dc
    )
    SELECT lang, n_docs, weight_u,
           CAST(n_docs * 1000000 // SUM(n_docs) OVER () AS BIGINT) AS natural_ppm,
           CAST(weight_u * 1000000 // SUM(weight_u) OVER () AS BIGINT) AS tempered_ppm,
           CAST(weight_u * 10000 // SUM(weight_u) OVER () AS BIGINT) AS quota_10k
    FROM w
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted domain mixture plan — the multilingual-corpus
    rebalancing step: sampling share per domain ∝ count^α with α = 1/2,
    which upsamples low-resource domains relative to their natural share
    (α=1 ⇒ natural; α=0 ⇒ uniform). Emits per-domain natural vs tempered
    shares and an integer quota for a 10k-doc epoch.

    Determinism discipline: sqrt is IEEE-correctly-rounded in both
    engines, so ``floor(sqrt(n)·1e6)`` is a bit-stable BIGINT micro-unit
    weight; every later step (total, ppm shares, quotas) is pure integer
    arithmetic — no float summation order anywhere. Scale: one count-agg
    shuffle of |domains| groups; the empty-frame window totals touch only
    the tiny domain table. Applying the plan is a separate seeded
    ``sampleBy`` over the corpus with fractions quota/n_docs — a map-only
    scan predicate, no shuffle (tests pin the application invariants)."""
    dc = (
        table(spark, sf, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = dc.withColumn(
        "weight_u", F.floor(F.sqrt("n_docs") * F.lit(1000000)).cast("bigint")
    )
    return w.select(
        "lang",
        "n_docs",
        "weight_u",
        F.expr("n_docs * 1000000 div sum(n_docs) over ()").alias("natural_ppm"),
        F.expr("weight_u * 1000000 div sum(weight_u) over ()").alias("tempered_ppm"),
        F.expr("weight_u * 10000 div sum(weight_u) over ()").alias("quota_10k"),
    )


def temperature_mixture_sample(spark: SparkSession, sf: str, epoch_docs: int = 10000, seed: int = 42) -> DataFrame:
    """Apply a temperature-mixture plan: per-domain seeded Bernoulli
    sampling at fraction quota/n_docs via ``sampleBy`` — a map-only
    predicate on the scan (zero shuffle; the plan table is tiny and rides
    the closure). Engine-specific sampler ⇒ not oracle-checkable; the
    mixture-plan op above carries the oracle and tests pin the applied
    sample's per-domain counts to binomial bounds."""
    plan = sample_temperature_mixture(spark, sf).collect()
    fractions = {
        r["lang"]: min(1.0, r["quota_10k"] * (epoch_docs / 10000) / r["n_docs"])
        for r in plan
    }
    d = table(spark, sf, "documents")
    return d.sampleBy("lang", fractions=fractions, seed=seed)


@op("sim_ivf_index_persist", sql=None)  # approximate ANN — recall floor in tests
def sim_ivf_index_persist(spark: SparkSession, sf: str) -> DataFrame:
    """PERSISTED IVF index — the build-once/query-many production shape
    the per-call IVF ops (sim_cosine_ivf, sim_knn_graph_ivf) stop short
    of: the trained quantizer is saved as a tiny parquet sidecar and the
    assigned corpus is written PARTITIONED BY cluster id, so a query's
    cluster probes become PARTITION PRUNING on an ordinary parquet table
    — the scan literally never lists the unprobed clusters' files
    (PartitionFilters, same mechanism as sink_partitioned_silver). At
    100 TB this is the whole point of IVF: index build is one full pass
    (quantizer train + one partitioned write), after which each query
    reads nprobe/k_clusters of the data from cold storage. A fresh
    reader (new session, only the on-disk artifact) probes its 2 nearest
    clusters for each of 10 queries and returns top-5 cosine neighbors;
    tests pin recall vs brute force on planted twins AND the pruned-scan
    file subset.

    The index layout (quantizer sidecar + bucketed postings) is exactly
    FAISS's IVF file format re-expressed as a lake table — rebuildable,
    schema-evolvable, and queryable by ANY engine that can prune
    partitions, not just this one."""

    def build(idx: str) -> None:
        e = _with_norm(_embeddings_with_planted_twins(spark, sf))
        cent_lit, _k = _ivf_centroid_literal(e)
        assigned = _assign_home(e, cent_lit).select(
            "vec_id", "embedding", "norm", F.col("home_cent").alias("cluster_id")
        )
        assigned.write.partitionBy("cluster_id").parquet(f"{idx}/corpus")
        # quantizer sidecar: one row per centroid (k x d floats — the part
        # of the index small enough to broadcast to every query site)
        cents = spark.range(1).select(F.inline(cent_lit))  # cent_id, c_emb, c_norm
        cents.coalesce(1).write.parquet(f"{idx}/quantizer")

    build_once("ivfidx", sf, build)
    return _ivf_index_query(spark, sf, list(range(10)))


def _ivf_index_query(spark: SparkSession, sf: str, query_ids: list, nprobe: int = 2) -> DataFrame:
    """Query path of the persisted IVF index: reads ONLY the on-disk
    artifact (quantizer sidecar + cluster-partitioned corpus). The sidecar
    rows become the literal quantizer, the queries rank it map-side, and
    the probed cluster ids become a partition-pruning predicate (tested
    with a single query: <= nprobe of the cluster dirs are ever scanned)."""
    from bpspark.io import state_dir

    idx = state_dir("ivfidx", sf)
    quant = spark.read.parquet(f"{idx}/quantizer").select("cent_id", "c_emb").collect()
    cent_lit = _centroid_literal_from_rows(sorted((r["cent_id"], r["c_emb"]) for r in quant))
    # explicit schema: an empty corpus leaves no data file to infer it from
    corpus = spark.read.schema(
        "vec_id long, embedding array<float>, norm double, cluster_id int"
    ).parquet(f"{idx}/corpus")
    queries = _with_norm(
        table(spark, sf, "embeddings").filter(F.col("vec_id").isin(query_ids))
    )
    probe = _probe_queries(_ivf_probe_assign(queries, nprobe, cent_lit))
    # the probed cluster ids become a partition-pruning predicate on the
    # corpus table (collected: nprobe x |queries| <= 20 ints)
    probed = sorted({r["cent_id"] for r in probe.select("cent_id").collect()})
    pruned = corpus.filter(F.col("cluster_id").isin(probed))
    scored = _cosine_pairs(pruned.join(F.broadcast(probe), pruned.cluster_id == F.col("cent_id")))
    return (
        _top5(scored, F.col("cosine").desc())
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"))
        .orderBy("query_id", F.col("cosine").desc(), "neighbor_id")
    )


PQ_M, PQ_K = 4, 8  # 4 subspaces x 16 dims, 8 centroids each -> 4x3 bits/vector


def _pq_train(spark: SparkSession, e: DataFrame):
    """Train product-quantization codebooks: split the d-dim space into
    PQ_M contiguous subspaces and run 2 distributed Lloyd rounds — ALL
    subspaces per round in ONE job (assignment is _pq_encode_long against
    the current codebooks, new means are one groupBy(subspace, code, dim)
    aggregate; only m×k×(d/m) doubles reach the driver per round).
    Seeds are the first PQ_K vectors with vec_id % 61 == 0, topped up in
    vec_id order when fewer exist; a corpus under PQ_K vectors trains one
    centroid per vector. Means are rounded to 9dp so re-training on the
    same data yields identical codebooks regardless of partition-sum
    order. Returns [m][k][d/m] python lists (the shippable codebook:
    4×8×16 floats)."""
    seeds = e.orderBy(F.col("vec_id") % 61 != 0, "vec_id").limit(PQ_K).collect()
    sub_d = len(seeds[0]["embedding"]) // PQ_M if seeds else 0
    books = [
        [[float(x) for x in r["embedding"][s * sub_d : (s + 1) * sub_d]] for r in seeds]
        for s in range(PQ_M)
    ]
    for _ in range(2):
        means = (
            _pq_encode_long(e, books)
            .select("subspace", "code", F.posexplode("sub"))
            .groupBy("subspace", "code", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), 9).alias("mu"))
            .groupBy("subspace", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .collect()
        )
        new = {
            (int(r["subspace"]), int(r["code"])): [float(x["mu"]) for x in r["pm"]]
            for r in means
        }
        books = [
            [new.get((s, i), c) for i, c in enumerate(cents)] for s, cents in enumerate(books)
        ]
    return books


@op("embedding_pq_encode", sql=None)  # trained codebooks — invariant tests
def embedding_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization (the IVF-PQ compression layer): the 64-dim
    space splits into 4×16-dim subspaces, each with its own 8-centroid
    Lloyd codebook, and every vector is encoded as 4 small codes — 12
    bits instead of 256 bytes, the compression that makes billion-vector
    ANN indexes fit in memory (Jégou et al., PQ for nearest neighbor
    search). Scalar int8 (embedding_quantize_int8) compresses 4×; PQ
    compresses ~170× and still supports asymmetric distance scoring
    against the codebook.

    Plan: codebook training is 2 distributed Lloyd rounds per subspace
    (driver sees only k×16 floats per round); ENCODING is one map-only
    projection against the codebook literal — zero shuffles, the shape
    that encodes 100 TB of vectors in a single pass. Output is long-form
    (vec_id, subspace, code) plus the per-subspace reconstruction
    distance rounded to 6dp. Tests pin: code range, determinism across
    runs, twin-code agreement on planted near-dups, and reconstruction
    MSE ≪ the codebook-mean baseline."""
    e = _embeddings_with_planted_twins(spark, sf).select("vec_id", "embedding")
    books = _pq_train(spark, e)
    return _pq_encode_long(e, books).drop("sub").orderBy("vec_id", "subspace")


def _pq_encode_long(e: DataFrame, books) -> DataFrame:
    """(vec_id, subspace, sub, code, recon_dist) for every vector and
    subspace — the ONE encode path (numpy-parity-tested), shared by
    training, encoding and both ADC searches. Long form on purpose: the
    subspace index is a COLUMN consumed by element_at, so the transform
    lambda stays unary. Never close over a python loop var with a default
    arg inside an HOF lambda (``lambda c, s=s``): PySpark counts
    parameters to pick the unary vs binary (element, index) lambda form,
    so the defaulted name is silently REBOUND to the array-index column
    and every code reads garbage. Wide consumers pivot (_pq_codes_wide).
    sub_d comes from the codebooks, never hardcoded: a d != 64 corpus
    would otherwise zip_with a longer slice against a shorter centroid,
    null-padding the distance fold silently."""
    sub_d = len(books[0][0]) if books[0] else 0  # an empty corpus trains none
    subs = e.select(
        "vec_id",
        F.inline(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice("embedding", s * sub_d + 1, sub_d).alias("sub"),
                )
                for s in range(PQ_M)
            ])
        ),
    )
    # codebooks [m][k][sub_d] as one literal: arrays, not structs (the
    # lambda-binding note above); the centroid index IS the code
    books_lit = _typed_literal(books, "array<array<array<double>>>")
    darr = F.transform(
        F.element_at(books_lit, F.col("subspace") + 1),
        lambda c: F.aggregate(
            F.zip_with(F.col("sub"), c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    return subs.select(
        "vec_id",
        "subspace",
        "sub",
        (F.array_position(darr, F.array_min(darr)) - 1).cast("int").alias("code"),
        F.round(F.array_min(darr), 6).alias("recon_dist"),
    )


def _pq_codes_wide(e: DataFrame, books) -> DataFrame:
    """One row per vector with its PQ_M codes (code0, code1, …): the
    long-form encode pivoted by a conditional agg on vec_id (m values per
    key, map-side combine)."""
    return _pq_encode_long(e, books).groupBy("vec_id").agg(*[
        F.max(F.when(F.col("subspace") == s, F.col("code"))).alias(f"code{s}")
        for s in range(PQ_M)
    ])


def _adc_table(emb, books) -> list[list[float]]:
    """One query's ADC table: its exact squared distance to every codebook
    centroid, [subspace][code], computed in Python from the collected
    query (m×k doubles per query)."""
    import math

    qv = [float(x) for x in emb]
    sub_d = len(books[0][0])
    return [
        [math.fsum((qv[s * sub_d + j] - c[j]) ** 2 for j in range(sub_d)) for c in cents]
        for s, cents in enumerate(books)
    ]


def _adc_dist() -> F.Column:
    """ADC distance of a codes row against its exploded query ``q``: the
    query table's entries at the row's codes, summed (6dp)."""
    return F.round(
        sum(F.element_at(F.element_at(F.col("q.t"), s + 1), F.col(f"code{s}") + 1) for s in range(PQ_M)),
        6,
    ).alias("adc_dist")


@op("sim_pq_adc_search", sql=None)  # approximate ANN — recall floor in tests
def sim_pq_adc_search(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric-distance (ADC) search over PQ codes — the query half of
    IVF-PQ: each query precomputes a tiny distance TABLE (its exact
    distance to all k centroids of every subspace — m×k = 32 doubles),
    and scoring a database vector is then just m table lookups summed
    over its codes; the raw vectors are never touched at query time.
    This is how billion-vector indexes score candidates from RAM-resident
    12-bit codes (Jégou et al.): compression from embedding_pq_encode,
    scoring cost independent of dimension d.

    Plan: codes are one map-only encode pass (shared _pq_train
    codebooks); the per-query tables ride into the scan as a literal
    (m×k×|queries| doubles), so candidate scoring is map-side with ONE
    TakeOrdered per query — no shuffle of the corpus, no vector reads.
    Tests pin recall of the planted twins (approximate distance must
    still rank the twin at the top) and the top-k's agreement with exact
    brute force."""
    e = _embeddings_with_planted_twins(spark, sf).select("vec_id", "embedding")
    books = _pq_train(spark, e)
    # query side: exact distance tables to every centroid, computed on the
    # driver from the collected query vectors (10 queries x m x k doubles)
    # and shipped as ONE literal — every corpus row scores ALL queries in
    # the same map pass, then one window takes the top-5 per query
    qrows = table(spark, sf, "embeddings").filter(F.col("vec_id") < 10).collect()
    q_lit = _typed_literal(
        [{"qid": r["vec_id"], "t": _adc_table(r["embedding"], books)} for r in qrows],
        "array<struct<qid:bigint,t:array<array<double>>>>",
    )
    scored = (
        _pq_codes_wide(e, books)
        .select("*", F.explode(q_lit).alias("q"))
        .filter(F.col("vec_id") != F.col("q.qid"))
        .select(F.col("q.qid").alias("query_id"), F.col("vec_id").alias("neighbor_id"), _adc_dist())
    )
    return (
        _top5(scored, "adc_dist")
        .select("query_id", "neighbor_id", "adc_dist")
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


@op("sim_ivfpq_search", sql=None)  # approximate ANN — recall floor in tests
def sim_ivfpq_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ — the two halves COMPOSED, which is the actual shape of
    every billion-vector production index (FAISS IVFADC, Jégou et al.):
    the coarse IVF quantizer routes each query to ``IVF_NPROBE`` cells,
    and only the vectors homed in those cells are scored — by ADC table
    lookups over their 12-bit PQ codes, never their raw floats.
    sim_cosine_ivf prunes but scores full vectors (d multiplies the scan
    cost); sim_pq_adc_search compresses but scans every code (n
    multiplies it); this op pays nprobe/k_cells of the corpus at 3 bits
    per subspace per vector. Encodes raw vectors, not residuals
    (FAISS ``by_residual=False``) so the shared, numpy-parity-tested
    _pq_train/_pq_encode_long stack is reused verbatim.

    Plan: index build = one map-side home-cell assignment against the
    literal quantizer + one map-side PQ encode, joined on vec_id (the
    one build shuffle — in production this frame IS the persisted index,
    written cell-partitioned once, cf. sim_ivf_index_persist). Query =
    the 10 collected query rows ride in as ONE literal carrying each
    query's probe-cell list and its m×k ADC table; scoring is a map-side
    probe-cell filter + m table lookups, then one window top-5 per
    query. Scored candidates ≈ n·nprobe/k_cells per query; with
    k = √n (capped) that fraction vanishes as the corpus grows, and the
    scored payload is 12-bit codes — the raw embedding column is never
    read after the build."""
    e = _with_norm(_embeddings_with_planted_twins(spark, sf).select("vec_id", "embedding"))
    cent_lit, _n_cells = _ivf_centroid_literal(e)
    books = _pq_train(spark, e)
    index = _pq_codes_wide(e, books).join(
        _assign_home(e, cent_lit).select("vec_id", "home_cent"), "vec_id"
    )
    # query side: probe lists from the SAME quantizer (map-side, then a
    # 10-row collect) + exact per-subspace ADC tables from the codebooks
    qrows = (
        _ivf_probe_assign(e.filter(F.col("vec_id") < 10), IVF_NPROBE, cent_lit)
        .select("vec_id", "embedding", "probe_cents")
        .collect()
    )
    q_lit = _typed_literal(
        [
            {"qid": r["vec_id"], "probes": r["probe_cents"], "t": _adc_table(r["embedding"], books)}
            for r in sorted(qrows, key=lambda r: r["vec_id"])
        ],
        "array<struct<qid:bigint,probes:array<int>,t:array<array<double>>>>",
    )
    cand = index.select("*", F.explode(q_lit).alias("q")).filter(
        F.array_contains(F.col("q.probes"), F.col("home_cent"))
        & (F.col("vec_id") != F.col("q.qid"))
    )
    scored = cand.select(
        F.col("q.qid").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("home_cent").alias("cell"),
        _adc_dist(),
    )
    return (
        _top5(scored, "adc_dist")
        .select("query_id", "neighbor_id", "cell", "adc_dist")
        .orderBy("query_id", "adc_dist", "neighbor_id")
    )


_MMR_LAMBDA = 0.7
_MMR_MU = 1.0 - _MMR_LAMBDA  # the IEEE double 0.30000000000000004 — computed
# ONCE here and embedded verbatim (repr) in the oracle, so both engines
# subtract the same constant (DuckDB's bare `1.0 - 0.7` runs on the
# DECIMAL path and yields the double nearest 0.3 instead)
_MMR_CANDIDATES = 20
_MMR_K = 5


def _q6(x: float) -> float:
    """Tie-free 6dp quantization — floor(x·1e6 + 0.5)/1e6, THE shared
    cross-engine rounding (identical float ops in Python, Spark F.floor,
    DuckDB floor; unlike round(), whose tie/repr behavior differs across
    all three)."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _mmr_oracle_sql() -> str:
    """Full-replication oracle for sim_mmr_rerank (upgraded r8): the
    greedy is a FIXED 5-round loop over a 20-candidate set, so it unrolls
    into materialized CTEs (the r6 pattern). Every number is a left-fold
    dot product (list_reduce ≡ the op's explicit Python/Spark folds —
    bit-identical sequential IEEE sums), quantized tie-free at 6dp before
    every argmax, with vec_id tie-breaks — so DuckDB replays the exact
    slate, scores included."""
    lam = f"CAST({_MMR_LAMBDA!r} AS DOUBLE)"
    mu = f"CAST({_MMR_MU!r} AS DOUBLE)"
    dot = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y)"
    )
    rounds = []
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(f"SELECT vec_id FROM p{j}" for j in range(1, k))
        rounds.append(f"""
    sel{k} AS (SELECT vec_id FROM ({sel})),
    d{k} AS (
      SELECT c.vec_id, c.rel, MAX(s.sim) AS div
      FROM cand c JOIN sims s ON s.ia = c.vec_id
      WHERE s.ib IN (SELECT vec_id FROM sel{k})
        AND c.vec_id NOT IN (SELECT vec_id FROM sel{k})
      GROUP BY c.vec_id, c.rel
    ),
    p{k} AS MATERIALIZED (
      SELECT vec_id, rel,
             floor(({lam} * rel - {mu} * div) * 1e6 + 0.5) / 1e6 AS score
      FROM d{k} ORDER BY score DESC, vec_id LIMIT 1
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {k} AS rank, vec_id AS doc_id, rel AS relevance, score AS mmr_score FROM p{k}"
        for k in range(1, _MMR_K + 1)
    )
    return f"""
    WITH nrm AS (
      SELECT vec_id, embedding,
             sqrt({dot.format(a="embedding", b="embedding")}) AS norm
      FROM embeddings
    ),
    q AS (SELECT embedding AS q_emb, norm AS q_norm FROM nrm WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT n.vec_id, n.embedding, n.norm,
             floor(({dot.format(a="q.q_emb", b="n.embedding")}
                    / (q.q_norm * n.norm)) * 1e6 + 0.5) / 1e6 AS rel
      FROM nrm n, q WHERE n.vec_id <> 0
      ORDER BY rel DESC, n.vec_id LIMIT {_MMR_CANDIDATES}
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             floor(({dot.format(a="a.embedding", b="b.embedding")}
                    / (a.norm * b.norm)) * 1e6 + 0.5) / 1e6 AS sim
      FROM cand a, cand b WHERE a.vec_id <> b.vec_id
    ),
    p1 AS MATERIALIZED (
      SELECT vec_id, rel,
             floor(({lam} * rel - {mu} * CAST(0.0 AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS score
      FROM cand ORDER BY score DESC, vec_id LIMIT 1
    ),{",".join(rounds)}
    SELECT * FROM ({finals}) ORDER BY rank
    """


@op("sim_mmr_rerank", sql=_mmr_oracle_sql())
def sim_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998
    — the diversity step production retrieval runs after similarity):
    from the query's top-20 cosine candidates, greedily pick 5 where
    each pick maximizes λ·relevance − (1−λ)·max-similarity-to-already-
    picked (λ=0.7), so near-duplicate results can't crowd the slate.

    Plan split mirrors every serving stack: candidate GENERATION is the
    distributed part (the brute-force top-k plan here; the IVF index at
    scale) and runs corpus-sized; the greedy RE-RANK is inherently
    sequential and runs on the collected candidate set — ≤20×d floats,
    a bounded driver visit of the same class as the PQ query tables and
    IVF quantizer (audited pattern).

    Determinism/oracle (reworked r8, rows-only → full replication): all
    similarities and scores are explicit LEFT-FOLD dot products (never
    numpy matmul/linalg, whose internal summation order is a BLAS
    implementation detail) quantized tie-free at 6dp (_q6) before every
    argmax with vec_id tie-breaks — the same IEEE op sequence Spark,
    this driver-side loop, and the DuckDB oracle (_mmr_oracle_sql) all
    execute, so the slate matches bit-for-bit. The previous version
    mixed three rounding behaviors (F.round HALF_UP, np.round HALF_EVEN,
    Python round HALF_EVEN) — latent cross-version fragility, gone."""
    e = _with_norm(table(spark, sf, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    cands = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "norm",
            (
                F.floor(
                    (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm")))
                    * 1e6
                    + 0.5
                )
                / F.lit(1e6)
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_CANDIDATES)
        .collect()  # bounded: _MMR_CANDIDATES × d floats
    )
    ids = [r["vec_id"] for r in cands]
    rel = [float(r["rel"]) for r in cands]
    vecs = [[float(x) for x in r["embedding"]] for r in cands]
    norms = [float(r["norm"]) for r in cands]  # Spark-fold norms, not recomputed

    def _fold_dot(a, b):  # explicit left fold — mirrors _dot / list_reduce
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    n = len(ids)
    sims = [
        [
            _q6(_fold_dot(vecs[i], vecs[j]) / (norms[i] * norms[j])) if i != j else 0.0
            for j in range(n)
        ]
        for i in range(n)
    ]
    picked: list[int] = []
    out_rows = []
    while len(picked) < _MMR_K and len(picked) < n:
        best = None
        for i in range(n):
            if i in picked:
                continue
            div = max((sims[i][j] for j in picked), default=0.0)
            score = _q6(_MMR_LAMBDA * rel[i] - _MMR_MU * div)
            key = (score, -ids[i])
            if best is None or key > best[0]:
                best = (key, i, score)
        _, i, score = best
        picked.append(i)
        out_rows.append((len(picked), ids[i], rel[i], float(score)))
    return spark.createDataFrame(
        out_rows, "rank int, doc_id bigint, relevance double, mmr_score double"
    )


# Routing threshold for sim_adaptive_route: a query whose top-2 coarse
# centroids score within this margin sits BETWEEN cells — its true
# neighbors likely span clusters, so IVF probing under-recalls exactly
# there. Measured margin distribution at sf0.001 spans 0.003-0.44
# (median 0.07); 0.05 routes the ambiguous ~half to the exact path.
_ADAPTIVE_MARGIN = 0.05
_ADAPTIVE_NPROBE = 4
# Quantizer-size ceiling for THIS op, far below IVF_MAX_K (r3 verdict: with
# k = √n uncapped until 65536, the map-side corpus assignment is O(n·√n·d)
# until n = 4.3e9 — a measured 2.34× wall per 10× data step). The routing
# signal is a top-2 CELL-MARGIN, which needs cells coarse enough to have
# meaningful boundaries, not fine retrieval cells — so the adaptive op caps
# k at 512 and enters its linear O(n·512·d) regime at n = 512² ≈ 262k
# (measured on synthetic corpora up to 1.2M vectors, docs/SCALE.md; recall
# floor re-asserted by test_adaptive_route_beats_pure_ivf). Fewer, larger cells at
# fixed nprobe also probe a LARGER candidate fraction, so IVF-routed recall
# is equal-or-better than the uncapped form; the cost dial at 100 TB is
# nprobe/τ, not k.
_ADAPTIVE_MAX_K = 512


def _adaptive_route_k(n: int) -> int:
    """√n clamped to [4, _ADAPTIVE_MAX_K] — saturates to a CONSTANT at
    n ≥ 262k, making corpus assignment linear in n from there on."""
    import math

    return max(4, min(_ADAPTIVE_MAX_K, math.isqrt(max(n, 1))))


@op("sim_adaptive_route", sql=None)  # adaptive ANN — recall/routing tests
def sim_adaptive_route(spark: SparkSession, sf: str) -> DataFrame:
    """ADAPTIVE similarity search (the workload-adaptive index-usage idea
    of the retrieved SIGMOD'20 "Continuously Adaptive Similarity Search"
    line): per query, choose between the cheap IVF probe and exact brute
    force based on a confidence signal computed map-side from the
    quantizer itself — the margin between the query's top-2 centroid
    similarities. A wide margin means the query sits firmly inside one
    cell (its neighbors co-cluster → IVF recalls well); a narrow margin
    means it sits between cells, precisely where fixed-nprobe IVF
    under-recalls, so those queries pay the exact path instead. The
    result: near-exact recall at a fraction of all-exact cost, with the
    routing decision costing nothing beyond the centroid scoring IVF
    already does.

    25 queries against the corpus; low-margin queries (< 0.05) take
    brute force, the rest take the nprobe-4 IVF probe; output carries
    the route per row so tests can pin (a) exact-routed queries have
    perfect recall by construction, (b) overall recall ≥ pure-IVF at
    the same nprobe, (c) both routes are actually exercised.

    100 TB shape: routing is a map-side expression over the broadcast
    quantizer (no extra pass); the exact-path query subset is bounded
    by the margin distribution and broadcast against the corpus stream;
    the IVF path is the standard cluster-join. The dial (margin τ)
    trades cost for recall continuously — the adaptive claim. The
    quantizer is capped at _ADAPTIVE_MAX_K=512 cells (vs IVF_MAX_K=65536
    for the retrieval ops) so the per-vector assignment — this op's cost
    center — is O(n·512·d), linear in n beyond 262k vectors (measured:
    docs/SCALE.md, adaptive-route saturation)."""
    e = _with_norm(table(spark, sf, "embeddings"))
    cent_lit, _k = _ivf_centroid_literal(e, k=_adaptive_route_k(e.count()))
    assigned = _ivf_probe_assign(e, _ADAPTIVE_NPROBE, cent_lit)
    queries = assigned.filter(F.col("vec_id") < 25).withColumn(
        "route", F.when(F.col("margin") < _ADAPTIVE_MARGIN, "exact").otherwise("ivf")
    )
    ivf_scored = _ivf_candidates(
        assigned, F.broadcast(_probe_queries(queries.filter(F.col("route") == "ivf")))
    )
    exact_scored = _cosine_pairs(
        e.join(F.broadcast(_as_queries(queries.filter(F.col("route") == "exact"))))
    )
    return (
        _top5(
            ivf_scored.withColumn("route", F.lit("ivf")).unionByName(
                exact_scored.withColumn("route", F.lit("exact"))
            ),
            F.col("cosine").desc(),
        )
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"), "route")
        .orderBy("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# coreset selection over embeddings
# ---------------------------------------------------------------------------

_KCENTER_K = 16


def _kcenter_fold_sql(vec: str, center_subq: str) -> str:
    """Squared distance as a LEFT list fold — the same IEEE sequence as the
    op's F.aggregate(zip_with(...), 0.0, acc+x): list_reduce without an
    init folds ((x1+x2)+x3)..., and Spark's 0.0+x1 == x1, so the two are
    bit-identical (squares are non-negative; no -0.0 edge)."""
    return (
        f"list_reduce(list_transform(list_zip({vec}, {center_subq}), "
        f"z -> (z[1] - z[2]) * (z[1] - z[2])), (a, b) -> a + b)"
    )


def _kcenter_sql() -> str:
    rounds = []
    for i in range(2, 17):
        prev = i - 1
        fold = _kcenter_fold_sql("s.v", f"(SELECT v FROM p{i})")
        rounds.append(f"""
    p{i} AS MATERIALIZED (SELECT vec_id, v, min_sq FROM s{prev}
            ORDER BY min_sq DESC, vec_id LIMIT 1),
    s{i} AS MATERIALIZED (SELECT s.vec_id, s.v, least(s.min_sq, {fold}) AS min_sq
            FROM s{prev} s WHERE s.vec_id <> (SELECT vec_id FROM p{i}))""")
    picks = ["""
      SELECT 1 AS rnk, (SELECT vid FROM c1) AS vec_id,
             CAST(0.0 AS DOUBLE) AS radius"""]
    for i in range(2, 17):
        picks.append(f"""
      SELECT {i} AS rnk, (SELECT vec_id FROM p{i}) AS vec_id,
             floor(sqrt((SELECT min_sq FROM p{i})) * 1e6 + 0.5) / 1e6 AS radius""")
    fold0 = _kcenter_fold_sql(
        "p.v", "(SELECT v FROM pt WHERE vec_id = (SELECT vid FROM c1))"
    )
    return (
        f"""
    WITH pt AS MATERIALIZED (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    c1 AS MATERIALIZED (SELECT min(vec_id) AS vid FROM pt),
    s1 AS MATERIALIZED (SELECT p.vec_id, p.v, {fold0} AS min_sq
           FROM pt p WHERE p.vec_id <> (SELECT vid FROM c1)),"""
        + ",".join(rounds)
        + "SELECT * FROM ("
        + " UNION ALL ".join(picks)
        + ") ORDER BY rnk"
    )


@op(
    "embedding_kcenter_coreset",
    # Oracle (upgraded r6): the 16 farthest-point rounds unroll into
    # chained CTEs — each round's argmax is ORDER BY min_sq DESC, vec_id
    # LIMIT 1 and the state update is least(min_sq, fold). Every distance
    # is the identical sequential double fold in both engines (see
    # _kcenter_fold_sql), so ids and radii match BIT-exactly; only the
    # emitted radius is floor-quantized (shared tie-free form).
    sql=_kcenter_sql(),
)
def embedding_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point sampling — the
    core-set active-learning/data-selection criterion of Sener &
    Savarese ICLR'18): starting from the lowest vec_id, repeatedly pick
    the vector FARTHEST from everything selected so far. The selected
    set is a 2-approximation of the optimal k-center cover, so its
    radius sequence tells you how many exemplars summarize the corpus —
    the geometric dual of dedup_semdedup (which prunes the CLOSE pairs;
    this keeps the SPREAD ones).

    Distribution shape: the only per-round state is one column,
    min_sq = squared distance to the nearest selected center, riding
    WITH the data. Each of the k rounds is (1) a MAP-ONLY pass folding
    the newest center (a 64-float broadcast literal) into min_sq via a
    JVM zip_with/aggregate — no Python, no shuffle — and (2) a global
    top-1 argmax (TakeOrdered: per-partition max then a k-way merge of
    |partitions| rows — the 1-row collect is bounded, per the repo's
    collect() policy). Total O(k·n·d) work, k scans, zero shuffles of
    the corpus; materializing each round truncates the k-deep lineage. At 100 TB
    with large k, swap the exact argmax for per-IVF-cell argmaxes
    (sim_ivf_index_persist's cells) and batch several centers per scan —
    the per-round plan is unchanged.

    Determinism: ties on min_sq break to the smaller vec_id; distances
    are sequential double folds (bit-stable), so the selected ids and
    radii are reproducible run-to-run. Output: selection order, vec_id,
    and the coverage radius at selection time (0.0 by convention for
    the seed row) — monotone non-increasing from rank 2 on by
    construction (property-tested, plus an exact numpy-parity test of
    ids and radii)."""
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    first = (
        e.select("vec_id").orderBy("vec_id").limit(1).collect()[0][0]
    )

    def dist2_to(center_vals):
        lit_c = F.array(*[F.lit(float(x)) for x in center_vals])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                lit_c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    c0 = e.filter(F.col("vec_id") == first).select("embedding").collect()[0][0]
    state = materialize(e.select("vec_id", "embedding", dist2_to(c0).alias("min_sq")))
    picked = [(1, int(first), 0.0)]
    for rnk in range(2, _KCENTER_K + 1):
        far = (
            state.filter(~F.col("vec_id").isin([p[1] for p in picked]))
            .orderBy(F.col("min_sq").desc(), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picked.append((rnk, int(far["vec_id"]), float(far["min_sq"])))
        state = materialize(state.select(
            "vec_id",
            "embedding",
            F.least("min_sq", dist2_to(far["embedding"])).alias("min_sq"),
        ))
    import math as _math

    # tie-free cross-engine rounding (same float ops as the SQL oracle);
    # sqrt is IEEE-correctly-rounded so identical in both engines
    rows = [
        (r, v, _math.floor(_math.sqrt(s) * 1e6 + 0.5) / 1e6) for r, v, s in picked
    ]
    return spark.createDataFrame(rows, "rnk int, vec_id long, radius double")


_RECALL_EVAL_SQL = f"""
    WITH docs AS ({_PLANTED_DOCS_SQL}
    ),
    samp AS (
      SELECT * FROM docs
      WHERE (doc_id % 7 = 0 AND doc_id < 3500)
         OR doc_id >= 1000000 OR doc_id < 25
    ),{_jaccard_pairs_sql("samp")},
    tp AS (SELECT count(*) AS n FROM jac WHERE jaccard >= 0.5)
    SELECT (SELECT count(*) FROM samp) AS n_sample_docs,
           tp.n AS truth_pairs, tp.n AS pred_pairs, tp.n AS hit_pairs,
           CASE WHEN tp.n > 0
                THEN ROUND(CAST(tp.n AS DOUBLE) / tp.n, 4) END AS "precision",
           CASE WHEN tp.n > 0
                THEN ROUND(CAST(tp.n AS DOUBLE) / tp.n, 4) END AS recall
    FROM tp
    """


@op(
    "dedup_recall_eval",
    # Oracle (upgraded r6): ground truth is brute-force shingle-Jaccard
    # >= 0.5 on the sample; the LSH detector's sample-restricted candidate
    # set MEASURES as exactly that same set at every test SF (zero false
    # positives, exact recall — the r6 probe), so truth = pred = hits and
    # the oracle asserts it. This is deliberately a REGRESSION TRIPWIRE:
    # if an LSH parameter change ever costs recall or admits band-collision
    # false positives on this corpus, the driver hash flags it.
    sql=_RECALL_EVAL_SQL,
)
def dedup_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup detector against
    EXACT shingle-Jaccard ground truth on a deterministic sample — the
    dedup-family sibling of sim_ivf_recall_eval, closing the "measure,
    don't guess" loop for the approximate dedup stack: the detector runs
    corpus-wide, the ground truth is only ever affordable on a sample.

    Sample = every 7th doc of the first 3500 doc ids ∪ the planted
    twins and their sources (known positives always in-sample, so recall
    is meaningful at tiny sf). The id cap BOUNDS |sample| independently
    of corpus size — without it the |sample|² ground-truth join grows
    quadratically with the corpus (measured: 6.7× per 10× before the
    cap, ~1× after); at 100 TB the detector side stays corpus-wide and
    linear while the ground truth stays a fixed-size broadcast
    nested-loop join. Truth = exact Jaccard ≥ 0.5 (the LSH design
    threshold).
    Predictions are minhash_candidate_pairs restricted to in-sample
    endpoints (two semi-joins). Output is ONE row: sample size, truth/
    predicted/hit pair counts, precision, recall — all declarative, no
    collection; the planted-twin property test pins recall = 1.0 on
    them and the invariants hits ≤ min(truth, predicted)."""
    docs = _docs_with_planted_neardups(spark, sf)
    in_sample = (
        ((F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 3500))
        | (F.col("doc_id") >= 1_000_000)
        | (F.col("doc_id") < 25)
    )
    sample = docs.filter(in_sample)
    sh = sample.select(
        "doc_id", F.array_distinct(_word_shingles(F.col("text"))).alias("sh")
    )
    # the |sample|² jaccard evaluation runs in the BNLJ's STREAM-side tasks;
    # on a one-split scan that is ONE core — spread first (measured 9.5 s →
    # 1.6 s at sf0.1; no-op at scale, and the broadcast side stays unspread)
    a = _spread_if_scan_starved(sh, docs, "doc_id").select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    truth = (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b")
    )
    ids = sample.select("doc_id")
    pred = (
        minhash_candidate_pairs(docs)
        .join(F.broadcast(ids.withColumnRenamed("doc_id", "doc_a")), "doc_a", "left_semi")
        .join(F.broadcast(ids.withColumnRenamed("doc_id", "doc_b")), "doc_b", "left_semi")
        .select("doc_a", "doc_b")
    )
    # r12: ONE evaluation of each expensive side. The old shape computed
    # `truth` twice (hits semi-join + its count) and the corpus-wide
    # minhash pipeline twice (hits + pred count) — a full-outer join on
    # the (unique) pair key yields all three counts in one pass over one
    # evaluation of each subplan (13.3 s → ~7 s at sf0.1; identical
    # scalars, oracle hash unchanged). Restricting the LSH to in-sample
    # bands instead was CHECKED AND REJECTED: bucket sizes (the >1 and
    # ≤CAP gates) differ on the restricted corpus, so it computes a
    # different predicate set.
    t = truth.select("doc_a", "doc_b", F.lit(1).alias("t"))
    p = pred.select("doc_a", "doc_b", F.lit(1).alias("p"))
    stats = t.join(p, ["doc_a", "doc_b"], "full_outer").agg(
        F.count("t").alias("truth_pairs"),
        F.count("p").alias("pred_pairs"),
        F.count(F.when(F.col("t").isNotNull() & F.col("p").isNotNull(), 1)).alias(
            "hit_pairs"
        ),
    )
    return (
        sample.agg(F.count(F.lit(1)).alias("n_sample_docs"))
        .crossJoin(stats)
        .select(
            "n_sample_docs",
            "truth_pairs",
            "pred_pairs",
            "hit_pairs",
            F.when(
                F.col("pred_pairs") > 0,
                F.round(F.col("hit_pairs") / F.col("pred_pairs"), 4),
            ).alias("precision"),
            F.when(
                F.col("truth_pairs") > 0,
                F.round(F.col("hit_pairs") / F.col("truth_pairs"), 4),
            ).alias("recall"),
        )
    )


def _pack_bestfit_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(
        ["n_tokens", "doc_id"], ascending=[False, True]
    ).reset_index(drop=True)
    src = pdf["source"].iloc[0]
    packs: list[list] = []  # [room, n_docs, tokens, doc_ids-min, doc_ids-max]
    assign: list[int] = []
    for doc_id, n_tok in zip(pdf["doc_id"], pdf["n_tokens"]):
        placed = None
        for i, p in enumerate(packs):  # first fit over packs in creation order
            if p[0] >= n_tok:
                placed = i
                break
        if placed is None:
            packs.append([_PACK_BUDGET_TOKENS, 0, 0, doc_id, doc_id])
            placed = len(packs) - 1
        p = packs[placed]
        p[0] -= n_tok
        p[1] += 1
        p[2] += n_tok
        p[3] = min(p[3], doc_id)
        p[4] = max(p[4], doc_id)
        assign.append(placed)
    return pd.DataFrame(
        [
            (src, i, p[1], p[2], p[3], p[4])
            for i, p in enumerate(packs)
        ],
        columns=["source", "pack_id", "n_docs", "pack_tokens", "min_doc_id", "max_doc_id"],
    )


@op(
    "doc_pack_bestfit",
    # Oracle (upgraded r6): first-fit-decreasing is a linear recurrence
    # whose state is the open-pack load list, carried as a BIGINT[] column
    # through a recursive CTE (one doc per source per step). The first
    # fitting pack is list_position(list_transform(loads, x -> x+n<=1024),
    # true) — 0 when none fits (DuckDB returns 0, not NULL) — and the
    # chosen pack's load updates via an indexed lambda. Pure integer
    # arithmetic: no float fork surface.
    sql="""
    WITH RECURSIVE d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY source
                                ORDER BY len(string_split(text, ' ')) DESC,
                                         doc_id) AS rn
      FROM documents
    ),
    st AS (
      SELECT source, rn, doc_id, n, [n] AS loads, 0 AS pack_id
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n,
             CASE WHEN list_position(
                      list_transform(s.loads, x -> x + d.n <= 1024), true) > 0
                  THEN list_transform(
                      s.loads,
                      (x, i) -> CASE WHEN i = list_position(
                              list_transform(s.loads, x2 -> x2 + d.n <= 1024),
                              true)
                          THEN x + d.n ELSE x END)
                  ELSE list_append(s.loads, d.n) END AS loads,
             CASE WHEN list_position(
                      list_transform(s.loads, x -> x + d.n <= 1024), true) > 0
                  THEN list_position(
                      list_transform(s.loads, x -> x + d.n <= 1024), true) - 1
                  ELSE len(s.loads) END AS pack_id
      FROM st s JOIN d ON d.source = s.source AND d.rn = s.rn + 1
    )
    SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS pack_tokens,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM st GROUP BY source, pack_id ORDER BY source, pack_id
    """,
)
def doc_pack_bestfit(spark: SparkSession, sf: str) -> DataFrame:
    """First-fit-decreasing sequence packing — the bin-packing form
    production training pipelines use when pack UTILIZATION matters more
    than document order (doc_pack_greedy is the order-preserving form):
    docs sort by token count descending and each drops into the first
    open pack with room, so big docs claim packs early and small docs
    backfill the gaps. FFD is the classic 11/9·OPT+1 approximation
    (Johnson'73); the packs-used count is property-pinned ≤ greedy's and
    the whole assignment is reproduced exactly by a pure-Python replica
    in tests (deterministic: (n_tokens DESC, doc_id) order, first-fit
    over packs in creation order).

    Distribution: token counts are JVM-side (size(split()) in the scan
    stage); Python does only the inherently sequential placement, one
    Arrow batch per source group, parallel across groups — at 100 TB
    subdivide to (source, shard) keys exactly as doc_pack_greedy
    documents; an oversized single doc becomes its own pack, so nothing
    is dropped."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    d = table(spark, sf, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    return d.groupBy("source").applyInPandas(
        _pack_bestfit_group,
        "source string, pack_id long, n_docs long, pack_tokens long, "
        "min_doc_id long, max_doc_id long",
    ).orderBy("source", "pack_id")


# ---------------------------------------------------------------------------
# image near-dup via perceptual hash
# ---------------------------------------------------------------------------

# 7, not 8: the 4 x 16-bit banding + 1-bit multi-probe in
# _hamming_band_pairs is lossless exactly for pairs with min per-band
# Hamming <= 1, i.e. total Hamming <= 7 by pigeonhole — at 8 a 2+2+2+2
# band split could be silently missed, making the screen best-effort
# while the docstring claimed lossless (ADVICE r4).
_PHASH_HAMMING_MAX = 7
_PHASH_BUCKET_CAP = 32


def _dhash64(img) -> int:
    """64-bit difference hash (dHash): grayscale → 8×9 nearest-neighbor
    grid → bit = right cell brighter than left. Gradient comparison
    decorrelates monotone/flat regions, so identical-hash groups stay
    tiny where mean-threshold aHash saturates into band-aligned hot
    patterns (measured on this corpus: max identical-hash group 3 for
    dHash vs 34 for aHash). Signed-long packing (Spark LongType)."""
    import numpy as np

    g = img.astype(np.float64).mean(axis=2)
    h, w = g.shape
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(9) * w) // 9
    grid = g[np.ix_(rows, cols)]
    bits = (grid[:, 1:] > grid[:, :-1]).ravel()
    v = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            v |= np.uint64(1) << np.uint64(i)
    return int(np.int64(v))


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": [_dhash64(decode_ppm(bytes(p))) for p in pdf["payload"]],
            }
        )


@op("dedup_image_phash", sql=None)  # binary-media op — property-verified
def dedup_image_phash(spark: SparkSession, sf: str) -> DataFrame:
    """IMAGE near-duplicate detection — the multimodal arm of the dedup
    family: every document's PPM payload (the real P6 bytes
    ppm_image_payloads builds) is decoded and reduced to a 64-bit
    difference hash (grayscale → 8×9 grid → right-cell-brighter bits,
    dHash — see _dhash64 for why it beats aHash here), then near-dup
    pairs surface through the same banded-LSH discipline as
    dedup_simhash: candidates = equal-or-one-bit-off 16-bit band (any
    of 4 — total Hamming ≤ 7 over 64 bits forces min per-band Hamming
    ≤ 1 by pigeonhole, so banding + 1-bit multi-probe loses NOTHING at
    the screen threshold), screened to exact Hamming ≤ 7 via
    bit_count(xor) JVM-side. Planted
    twins (same image with a locally perturbed raster) must all
    surface; the per-(band, value) bucket takes the minhash
    BUCKET_CAP discipline so a degenerate corpus can't go quadratic.

    Python touches ONLY the decode+hash stage (Arrow-batched
    mapInPandas, 8 bytes out per image); banding, the bucket equi-join,
    popcount screening, and ordering are all JVM. At 100 TB: hash pass
    is map-only ∝ image bytes; the shuffle carries (band, band_val,
    doc_id, phash) rows — 32 B/image × 4 exact + × 68 probe keys (the
    multi-probe trade: ~2 KB/image of key traffic buys cap-proof
    recall, still nothing next to the image bytes) — and pair work is
    bounded by capped exact-bucket sizes, the same scale contract as
    the text LSH ops. The
    hash is environment-independent (pure integer/float ops on decoded
    rasters, no PYTHONHASHSEED)."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    d = table(spark, sf, "documents").select("doc_id", "text")
    twins = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("XXXXXX"), F.expr("substring(text, 7)")).alias("text"),
    )
    payloads = ppm_image_payloads(d.unionByName(twins))
    sig = payloads.mapInPandas(_phash_batches, "doc_id long, phash long")
    return _hamming_band_pairs(
        sig, "phash", hamming_max=_PHASH_HAMMING_MAX, bucket_cap=_PHASH_BUCKET_CAP
    )


def _hamming_band_pairs(
    sig: DataFrame, sig_col: str, *, hamming_max: int, bucket_cap: int
) -> DataFrame:
    """Near-dup pairs over a 64-bit signature column via banded Hamming
    LSH — the keys shared by the image, audio and video dedup ops: 4 ×
    16-bit bands, exact (band, value) buckets capped at ``bucket_cap``,
    and a 1-bit MULTI-PROBE side (every band key plus its 16 one-bit-flip
    variants, Lv'07) that band_pairs matches against the capped exact
    keys — a pair whose only informative band differs by one bit reaches
    the small exact bucket of the other doc's value instead of dying in a
    capped hot bucket. Candidates are screened to exact
    ``bit_count(xor) <= hamming_max`` JVM-side. Banding + 1-bit probe is
    lossless for pairs whose minimum per-band Hamming is <= 1
    (pigeonhole: any pair within total Hamming 7 over 4 bands
    qualifies); losses can only occur at the cap, which only hot
    boilerplate buckets hit.

    Input: (doc_id long, <sig_col> long). Output: (doc_a, doc_b,
    hamming), ordered."""

    def banded(masks) -> DataFrame:
        keys = [
            F.struct(
                F.lit(i).alias("band_idx"),
                F.expr(f"(({sig_col} >> {16 * i}) & 65535) ^ {m}").alias("band_val"),
            )
            for i in range(4)
            for m in masks
        ]
        return sig.select(
            "doc_id", F.col(sig_col).alias("sig"), F.explode(F.array(*keys)).alias("b")
        ).select("doc_id", "b.band_idx", "b.band_val", "sig")

    pairs = band_pairs(
        banded([0]), ["band_idx", "band_val"], carry=["sig"], cap=bucket_cap,
        probe=banded([0] + [1 << j for j in range(16)]),
    )
    return (
        pairs.select("doc_a", "doc_b", F.bit_count(F.expr("sig_a ^ sig_b")).alias("hamming"))
        .filter(F.col("hamming") <= hamming_max)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# audio near-dup via energy-gradient fingerprint
# ---------------------------------------------------------------------------

_AFP_WINDOWS = 65  # 65 window energies -> 64 gradient bits (the 1-D dHash)
_AFP_HAMMING_MAX = 6  # planted perturbed twins measure Hamming 0-2; 3x margin
_AFP_BUCKET_CAP = 32


def _audio_fp64(samples) -> int:
    """64-bit audio fingerprint: mean |amplitude| over a 65-point
    fractional window grid → bit i = energy(w[i+1]) > energy(w[i]).
    The 1-D analogue of the image dHash — gradient comparison is
    invariant to global gain and decorrelates local content, the same
    property Haitsma-Kalker'02 builds its energy-difference bits on
    (theirs span frequency bands; with no FFT dependency in this
    container, time-windowed energies carry the structure). Pure
    integer/float numpy, no PYTHONHASHSEED; signed packing (LongType).

    Known saturation mode (the audio twin of flat-image regions):
    silence / constant padding compresses to constant-energy windows,
    so near-silent clips cluster at low Hamming. That is semantically
    right for dedup — silence IS a duplicate of silence — and the
    bucket cap bounds the blowup; real pipelines gate on the RMS /
    duration floor multimodal_audio_decode emits before fingerprinting."""
    import numpy as np

    x = np.abs(samples.astype(np.float64))
    n = x.size
    starts = (np.arange(_AFP_WINDOWS + 1) * n) // _AFP_WINDOWS
    # clips shorter than the window count leave some grid cells empty —
    # score those 0.0 instead of nan so the bits stay deterministic
    e = np.array([
        x[starts[i]: starts[i + 1]].mean() if starts[i + 1] > starts[i] else 0.0
        for i in range(_AFP_WINDOWS)
    ])
    bits = e[1:] > e[:-1]
    v = np.uint64(0)
    for i, b in enumerate(bits):
        if b:
            v |= np.uint64(1) << np.uint64(i)
    return int(np.int64(v))


def _afp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "afp": [_audio_fp64(decode_wav(bytes(p))[0]) for p in pdf["payload"]],
            }
        )


@op("dedup_audio_fingerprint", sql=None)  # binary-media op — property-verified
def dedup_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO near-duplicate detection — completes the multimodal dedup
    matrix (text: minhash/simhash/substring; image: dedup_image_phash;
    audio: this op): every document's RIFF/WAVE payload (the real PCM16
    files wav_audio_payloads builds) is decoded by the stdlib wave
    parser and reduced to a 64-bit energy-gradient fingerprint
    (_audio_fp64), then near-dup pairs surface through the SAME
    banded-Hamming-LSH machinery as the image op (band_pairs over the
    _hamming_band_pairs keys: 4 × 16-bit bands, capped buckets, 1-bit
    multi-probe, exact bit_count screen ≤ 6). Planted twins — the same recording with a
    short mid-clip splice (6 bytes = 3 samples) — measure Hamming 0-2
    and must all surface.

    Python touches ONLY the decode+fingerprint stage (Arrow-batched
    mapInPandas, 8 bytes out per clip); banding, the bucket equi-join,
    popcount screening, and ordering are all JVM. At 100 TB: the
    fingerprint pass is map-only ∝ audio bytes, shuffle traffic is
    ~2 KB/clip of band keys (nothing next to the audio), and pair work
    is bounded by capped bucket sizes — the same scale contract as the
    text/image LSH ops."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    d = table(spark, sf, "documents").select("doc_id", "text")
    # +1_000_000 keeps doc_id parity, so twins land in the SAME payload
    # size class as their original (wav_audio_payloads sizes by parity)
    twins = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("concat(substring(text, 1, 20), '~~~~~~', substring(text, 27))").alias("text"),
    )
    payloads = wav_audio_payloads(d.unionByName(twins))
    sig = payloads.mapInPandas(_afp_batches, "doc_id long, afp long")
    return _hamming_band_pairs(
        sig, "afp", hamming_max=_AFP_HAMMING_MAX, bucket_cap=_AFP_BUCKET_CAP
    )


# ---------------------------------------------------------------------------
# video near-dup via per-scene keyframe fingerprint sets
# ---------------------------------------------------------------------------

_VFP_HAMMING_MAX = 7  # the lossless bound of _hamming_band_pairs' banding
_VFP_BUCKET_CAP = 32
_VFP_MIN_SCENES = 2  # matched keyframes required to call two videos near-dup
# scene_no packs into the low bits of the LSH row id: doc_id * 64 + scene_no
_VFP_SCENE_PACK = 64


def _frame_hash_stream(payload: bytes) -> list:
    """THE shared per-frame signature walk under
    multimodal_video_scene_cut and dedup_video_fingerprint: one
    (dhash64, hamming_vs_prev_or_None) tuple per frame, same parser,
    same hash, same adjacency. Both ops' cut decisions derive from this
    single definition, so a threshold-adjacent tweak cannot silently
    fork them (r10 review)."""
    out, prev = [], None
    for img in parse_ppm_stream(payload):
        h = _dhash64(img)
        out.append(
            (h, None if prev is None else bin((h ^ prev) & ((1 << 64) - 1)).count("1"))
        )
        prev = h
    return out


def _scene_keyframe_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per video stream: segment into scenes with the SAME cut rule as
    multimodal_video_scene_cut (shared _frame_hash_stream walk, cut at
    Hamming > _SCENE_CUT_HAMMING), emit one row per scene carrying the
    scene's KEYFRAME (first frame) dHash — the only Python stage of
    dedup_video_fingerprint."""
    for pdf in batches:
        out = {"doc_id": [], "scene_no": [], "khash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            scene = -1
            for h, d in _frame_hash_stream(bytes(payload)):
                if d is None or d > _SCENE_CUT_HAMMING:
                    scene += 1
                    # the packing precondition the op's docstring states.
                    # A real raise, not assert (ADVICE r10): under
                    # python -O an assert is stripped and scene 64 of
                    # video N would silently alias scene 0 of video N+1
                    # in the packed id — wrong dedup pairs, no error.
                    if scene >= _VFP_SCENE_PACK:
                        raise ValueError(
                            f"doc {doc_id}: scene_no {scene} overflows the "
                            f"{_VFP_SCENE_PACK}-slot id packing — raise "
                            "_VFP_SCENE_PACK (and the div/mod unpack) for "
                            "longer streams"
                        )
                    out["doc_id"].append(doc_id)
                    out["scene_no"].append(scene)
                    out["khash"].append(h)
        yield pd.DataFrame(out).astype(
            {"doc_id": "int64", "scene_no": "int32", "khash": "int64"}
        )


@op("dedup_video_fingerprint", sql=None)  # binary-media op — property-verified
def dedup_video_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """VIDEO near-duplicate detection — the last leg of the multimodal
    dedup matrix (text: minhash/simhash/substring; image:
    dedup_image_phash; audio: dedup_audio_fingerprint; video: this op).
    Standard video copy-detection shape: reduce each stream to its SET
    of per-scene keyframe fingerprints (scene segmentation = exactly
    multimodal_video_scene_cut's consecutive-dHash rule; keyframe =
    first frame of the scene), surface near-identical keyframe pairs
    through the SAME banded-Hamming-LSH machinery as the image/audio
    ops (band_pairs over the _hamming_band_pairs keys: 4 × 16-bit
    bands, capped buckets, 1-bit multi-probe, exact bit_count screen
    ≤ 7), then TEMPORALLY aggregate JVM-side: two videos are near-dups when ≥ _VFP_MIN_SCENES DISTINCT
    keyframes match on EACH side (least of the two per-side distinct
    counts — a repeated intro card matching twice is one matched
    keyframe, not two) — content-based, scene-order-free, so a re-cut /
    spliced copy still surfaces. Planted twins (same stream with a
    short splice inside ONE frame's raster) perturb at most one scene's
    keyframe by a few bits and must all surface.

    Python touches ONLY the decode+segment+hash stage (Arrow-batched
    mapInPandas, ≤ 4 rows of 8 B hashes out per stream); banding, the
    bucket equi-join, popcount screening, and the per-video-pair scene
    aggregation are all JVM. Like the certified image/audio LSH ops,
    the hash stage physically runs once per LSH side (probe + exact
    both derive from sig — a 2× decode constant, plan-pinned in
    tests/test_plans.py); a production run over real video would
    materialize the ~32 B/scene signature table first, exactly like
    sim_ivf_index_persist does for embeddings. At 100 TB of video: the fingerprint pass
    is map-only ∝ stream bytes; the shuffle carries band keys for
    |scenes| ≈ minutes-of-video rows per stream (~2 KB/scene — nothing
    next to the video bytes); pair work is bounded by capped bucket
    sizes and the final aggregate groups on (video_a, video_b) — the
    same scale contract as the text/image/audio LSH ops. Scene rows
    pack (doc_id, scene_no) into one long for the shared LSH
    (scene_no < _VFP_SCENE_PACK, enforced with a real ValueError — an
    assert dies under python -O and the overflow would silently alias
    packed ids across videos; streams here carry ≤ 4 frames, production
    re-packs at a wider stride)."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    flen = _VID_W * _VID_H * 3
    total = flen * _VID_FRAMES
    # Tile the (printable-cleaned) text across ALL frames: a raw short
    # document pads its tail frames with constant '.' rasters, whose
    # keyframes collapse into one corpus-wide flat-frame bucket (the
    # video twin of audio silence) that the LSH cap rightly drops —
    # tiling keeps every frame informative so each stream carries a
    # full scene set. rpad both pads and truncates to exactly ``total``;
    # ppm_stream_payloads' own clean+rpad is then a no-op pass-through.
    tiled = F.expr(
        f"rpad(repeat(regexp_replace(text, '[^ -~]', ' '), "
        f"CAST(ceil({total} / greatest(length(text), 1)) AS INT) + 1), "
        f"{total}, '.')"
    )
    d = table(spark, sf, "documents").select("doc_id", tiled.alias("text"))
    # twin plant: splice 6 chars at the start of frame 1's raster slice
    # — at most that scene's keyframe drifts a few bits, every other
    # scene keyframe stays byte-identical
    twins = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            f"concat(substring(text, 1, {flen}), '~~~~~~', substring(text, {flen + 7}))"
        ).alias("text"),
    )
    sig = ppm_stream_payloads(d.unionByName(twins)).mapInPandas(
        _scene_keyframe_batches, "doc_id long, scene_no int, khash long"
    )
    scene_rows = sig.select(
        (F.col("doc_id") * _VFP_SCENE_PACK + F.col("scene_no")).alias("doc_id"),
        "khash",
    )
    pairs = _hamming_band_pairs(
        scene_rows, "khash", hamming_max=_VFP_HAMMING_MAX, bucket_cap=_VFP_BUCKET_CAP
    )
    # unpack (video, scene) per side — doc_a < doc_b (canonical) implies
    # video_a <= video_b since packing is monotone in video id, so sides
    # stay aligned without re-canonicalizing. n_matched_scenes counts
    # DISTINCT matched keyframes on the weaker side (r10 review): a
    # video whose single intro card matches two repeated intro scenes
    # of another video has 1 matched keyframe, not 2.
    video_pairs = (
        pairs.select(
            F.expr(f"doc_a div {_VFP_SCENE_PACK}").alias("video_a"),
            F.expr(f"doc_a % {_VFP_SCENE_PACK}").alias("scene_a"),
            F.expr(f"doc_b div {_VFP_SCENE_PACK}").alias("video_b"),
            F.expr(f"doc_b % {_VFP_SCENE_PACK}").alias("scene_b"),
            "hamming",
        )
        .filter(F.col("video_a") != F.col("video_b"))
        .groupBy("video_a", "video_b")
        .agg(
            F.least(
                F.count_distinct("scene_a"), F.count_distinct("scene_b")
            ).alias("n_matched_scenes"),
            F.min("hamming").alias("min_hamming"),
        )
        .filter(F.col("n_matched_scenes") >= _VFP_MIN_SCENES)
    )
    return video_pairs.orderBy("video_a", "video_b")


# ---------------------------------------------------------------------------
# Fellegi-Sunter match-weight learning (unsupervised EM)
# ---------------------------------------------------------------------------

_FS_BG_WINDOW = 8  # md5-ring background neighbors per record (u-rich sample)
_FS_EM_ITERS = 25
_FS_CLAMP = 1e-6


def _fs_em(patterns, trace=None, quantize=False):
    """EM for the Fellegi-Sunter independent-binary-comparison model over
    agreement-pattern counts [(g1, g2, g3, n), ...]: learn λ (match
    prior) and per-comparison m/u probabilities, return (λ, m, u).
    Runs on ≤2^k pattern rows, so its cost is independent of corpus
    size — the estimation shape Splink uses in production. Pure driver
    floats over deterministic integer counts ⇒ bit-stable across runs.
    Pass a list as ``trace`` to collect the (λ, m, u) iterates — the
    likelihood-monotonicity property test drives it that way.
    ``quantize=True`` floor-quantizes the state at 1e-9 after every
    M-step (the tie-free cross-engine form) — the op path uses it so the
    DuckDB unrolled-CTE oracle, whose 8-row SUMs run in a different
    order, stays on the identical trajectory."""
    import math as _math

    n_total = sum(p[3] for p in patterns)
    lam, m, u = 0.1, [0.9, 0.9, 0.9], [0.1, 0.1, 0.1]

    def clamp(x):
        x = min(max(x, _FS_CLAMP), 1.0 - _FS_CLAMP)
        if quantize:
            x = _math.floor(x * 1e9 + 0.5) / 1e9
        return x

    if trace is not None:
        trace.append((lam, list(m), list(u)))
    for _ in range(_FS_EM_ITERS):
        sw, su = 0.0, 0.0
        sw_g, su_g = [0.0, 0.0, 0.0], [0.0, 0.0, 0.0]
        for g1, g2, g3, n in patterns:
            g = (g1, g2, g3)
            pm, pu = lam, 1.0 - lam
            for k in range(3):
                pm *= m[k] if g[k] else (1.0 - m[k])
                pu *= u[k] if g[k] else (1.0 - u[k])
            w = pm / (pm + pu)
            sw += w * n
            su += (1.0 - w) * n
            for k in range(3):
                sw_g[k] += w * n * g[k]
                su_g[k] += (1.0 - w) * n * g[k]
        lam = clamp(sw / n_total)
        m = [clamp(sw_g[k] / sw) for k in range(3)]
        u = [clamp(su_g[k] / su) for k in range(3)]
        if trace is not None:
            trace.append((lam, list(m), list(u)))
    return lam, m, u


def _fs_em_sql() -> str:
    """DuckDB oracle for er_fellegi_sunter_em: the test-proven pair/
    pattern SQL + the 25 EM rounds unrolled as MATERIALIZED CTEs.
    State (λ, m1..3, u1..3) is clamped then floor-quantized at 1e-9
    each round — the same tie-free form _fs_em(quantize=True) applies —
    so the two engines' different 8-row summation orders can never fork
    the trajectory. All products/divisions are written in the exact
    left-associated order of the Python loop."""

    def pm(s):  # match-class likelihood × prior, left-associated like Python
        return (
            f"((({s}.lam"
            f" * CASE WHEN p.g_name = 1 THEN {s}.m1 ELSE 1.0 - {s}.m1 END)"
            f" * CASE WHEN p.g_bal = 1 THEN {s}.m2 ELSE 1.0 - {s}.m2 END)"
            f" * CASE WHEN p.g_seg = 1 THEN {s}.m3 ELSE 1.0 - {s}.m3 END)"
        )

    def pu(s):
        return (
            f"((((CAST(1.0 AS DOUBLE) - {s}.lam)"
            f" * CASE WHEN p.g_name = 1 THEN {s}.u1 ELSE 1.0 - {s}.u1 END)"
            f" * CASE WHEN p.g_bal = 1 THEN {s}.u2 ELSE 1.0 - {s}.u2 END)"
            f" * CASE WHEN p.g_seg = 1 THEN {s}.u3 ELSE 1.0 - {s}.u3 END)"
        )

    def qz_clamp(x):
        return (
            f"floor(least(greatest({x}, CAST(0.000001 AS DOUBLE)),"
            f" CAST(1.0 AS DOUBLE) - CAST(0.000001 AS DOUBLE)) * 1e9 + 0.5) / 1e9"
        )

    rounds = []
    for i in range(1, _FS_EM_ITERS + 1):
        prev = f"s{i-1}"
        rounds.append(f"""
    e{i} AS MATERIALIZED (
      SELECT p.g_name, p.g_bal, p.g_seg, p.n,
             {pm(prev)} AS pm, {pu(prev)} AS pu
      FROM pats p, {prev}
    ),
    s{i} AS MATERIALIZED (
      SELECT {qz_clamp('sw / (SELECT n_total FROM nt)')} AS lam,
             {qz_clamp('swg1 / sw')} AS m1,
             {qz_clamp('swg2 / sw')} AS m2,
             {qz_clamp('swg3 / sw')} AS m3,
             {qz_clamp('sug1 / su')} AS u1,
             {qz_clamp('sug2 / su')} AS u2,
             {qz_clamp('sug3 / su')} AS u3
      FROM (
        SELECT SUM(pm / (pm + pu) * n) AS sw,
               SUM((1.0 - pm / (pm + pu)) * n) AS su,
               SUM(pm / (pm + pu) * n * g_name) AS swg1,
               SUM(pm / (pm + pu) * n * g_bal) AS swg2,
               SUM(pm / (pm + pu) * n * g_seg) AS swg3,
               SUM((1.0 - pm / (pm + pu)) * n * g_name) AS sug1,
               SUM((1.0 - pm / (pm + pu)) * n * g_bal) AS sug2,
               SUM((1.0 - pm / (pm + pu)) * n * g_seg) AS sug3
        FROM e{i})
    )""")
    final_s = f"s{_FS_EM_ITERS}"
    w_term = (
        "CASE WHEN p.{g} = 1 THEN log2(s.{m} / s.{u}) "
        "ELSE log2((1.0 - s.{m}) / (1.0 - s.{u})) END"
    )
    weight = (
        "(("
        + w_term.format(g="g_name", m="m1", u="u1")
        + " + "
        + w_term.format(g="g_bal", m="m2", u="u2")
        + ") + "
        + w_term.format(g="g_seg", m="m3", u="u3")
        + ")"
    )
    return (
        f"""
    WITH recs AS (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
             c_acctbal AS bal, c_mktsegment AS seg FROM customer
      UNION ALL
      SELECT c_custkey + 1000000, c_name || 'x', c_nationkey,
             c_acctbal, c_mktsegment FROM customer WHERE c_custkey < 40
      UNION ALL
      SELECT c_custkey + 2000000, c_name || 'yz', c_nationkey,
             c_acctbal, c_mktsegment FROM customer WHERE c_custkey < 20
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY nat ORDER BY md5(CAST(id AS VARCHAR))
      ) AS rn FROM recs
    ),
    bg AS (
      SELECT a.id, a.name, a.bal, a.seg,
             b.id AS id_b, b.name AS name_b, b.bal AS bal_b, b.seg AS seg_b
      FROM ranked a JOIN ranked b
        ON a.nat = b.nat AND b.rn - a.rn BETWEEN 1 AND {_FS_BG_WINDOW}
    ),
    blk AS (
      SELECT a.id, a.name, a.bal, a.seg,
             b.id AS id_b, b.name AS name_b, b.bal AS bal_b, b.seg AS seg_b
      FROM recs a JOIN recs b
        ON a.nat = b.nat AND a.bal = b.bal AND a.id < b.id
    ),
    gam AS (
      SELECT DISTINCT LEAST(id, id_b) AS ia, GREATEST(id, id_b) AS ib,
             CAST(levenshtein(name, name_b) <= 2 AS INT) AS g_name,
             CAST(bal = bal_b AS INT) AS g_bal,
             CAST(seg = seg_b AS INT) AS g_seg
      FROM (SELECT * FROM bg UNION ALL SELECT * FROM blk)
    ),
    pats AS MATERIALIZED (
      SELECT g_name, g_bal, g_seg, count(*) AS n
      FROM gam GROUP BY g_name, g_bal, g_seg
    ),
    nt AS (SELECT CAST(SUM(n) AS DOUBLE) AS n_total FROM pats),
    s0 AS (SELECT CAST(0.1 AS DOUBLE) AS lam,
                  CAST(0.9 AS DOUBLE) AS m1, CAST(0.9 AS DOUBLE) AS m2,
                  CAST(0.9 AS DOUBLE) AS m3,
                  CAST(0.1 AS DOUBLE) AS u1, CAST(0.1 AS DOUBLE) AS u2,
                  CAST(0.1 AS DOUBLE) AS u3),"""
        + ",".join(rounds)
        + f"""
    SELECT p.g_name, p.g_bal, p.g_seg, p.n AS n_pairs,
           {pm('s')} / ({pm('s')} + {pu('s')}) AS posterior,
           floor({weight} * 1e6 + 0.5) / 1e6 AS match_weight
    FROM pats p, {final_s} s
    ORDER BY p.g_name, p.g_bal, p.g_seg
    """
    )


@op("er_fellegi_sunter_em", sql=_fs_em_sql())
def er_fellegi_sunter_em(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi-Sunter match-weight learning (Fellegi & Sunter JASA'69;
    EM estimation per Winkler'88 — the model Splink runs on Spark in
    production): learn, UNSUPERVISED, how much each field agreement is
    worth as linkage evidence. The er_* family's rule-based forms use a
    fixed Levenshtein threshold; this op learns calibrated per-field
    m/u probabilities and emits log2 match weights + posteriors per
    agreement pattern.

    Pair population (the Splink estimation recipe, both parts linear):
    (a) an md5-ordered ring sample — each record compared to its next
    _FS_BG_WINDOW neighbors within its nation, decorrelated by hashing,
    giving the u-rich (non-match) background at n·W pairs; (b) the
    match-rich equal-(nation, balance) blocks. Comparison vector:
    name Levenshtein ≤ 2, exact balance, exact market segment (a
    deliberately weak field — its learned u must land near the 1/|seg|
    base rate). Planted typo twins ('x'/'yz' suffixes, ids < 40/20)
    give the mixture a real match class.

    Scale shape: pair generation is lead() windows + an equi-join
    (never corpus×corpus); pairs collapse to ≤2^3 agreement-pattern
    counts via ONE exact integer groupBy, and EM runs driver-side on
    those ≤8 rows — estimation cost is INDEPENDENT of corpus size,
    which is exactly why this is the production estimation shape.
    Output: one row per observed pattern with its count, posterior
    match probability, and log2 match weight (floats are driver-
    computed from deterministic integer counts ⇒ run-stable)."""
    import math

    c = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    v1 = c.filter(F.col("id") < 40).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.concat("name", F.lit("x")).alias("name"), "nat", "bal", "seg",
    )
    v2 = c.filter(F.col("id") < 20).select(
        (F.col("id") + 2_000_000).alias("id"),
        F.concat("name", F.lit("yz")).alias("name"), "nat", "bal", "seg",
    )
    recs = c.unionByName(v1).unionByName(v2)

    cols = ["id", "name", "bal", "seg"]
    wn = Window.partitionBy("nat").orderBy(F.md5(F.col("id").cast("string")))
    bg = None
    for step in range(1, _FS_BG_WINDOW + 1):
        nxt = recs.select(
            *cols, *[F.lead(col, step).over(wn).alias(col + "_b") for col in cols]
        ).filter(F.col("id_b").isNotNull())
        bg = nxt if bg is None else bg.unionByName(nxt)
    a = recs.select("nat", *cols)
    b = recs.select(
        F.col("nat").alias("nat_r"), F.col("bal").alias("bal_r"),
        *[F.col(col).alias(col + "_b") for col in cols],
    )
    blk = a.join(
        b,
        (F.col("nat") == F.col("nat_r"))
        & (F.col("bal") == F.col("bal_r"))
        & (F.col("id") < F.col("id_b")),
    ).select(*cols, *[col + "_b" for col in cols])
    pairs = bg.select(*cols, *[col + "_b" for col in cols]).unionByName(blk)
    gam = pairs.select(
        F.least("id", "id_b").alias("ia"),
        F.greatest("id", "id_b").alias("ib"),
        (F.levenshtein("name", "name_b") <= 2).cast("int").alias("g_name"),
        (F.col("bal") == F.col("bal_b")).cast("int").alias("g_bal"),
        (F.col("seg") == F.col("seg_b")).cast("int").alias("g_seg"),
    ).distinct()
    pat_rows = gam.groupBy("g_name", "g_bal", "g_seg").count().collect()
    patterns = sorted(
        (int(r["g_name"]), int(r["g_bal"]), int(r["g_seg"]), int(r["count"]))
        for r in pat_rows
    )

    lam, m, u = _fs_em(patterns, quantize=True)
    out = []
    for g1, g2, g3, n in patterns:
        g = (g1, g2, g3)
        pm, pu = lam, 1.0 - lam
        weight = 0.0
        for k in range(3):
            pm *= m[k] if g[k] else (1.0 - m[k])
            pu *= u[k] if g[k] else (1.0 - u[k])
            weight += (
                math.log2(m[k] / u[k]) if g[k] else math.log2((1.0 - m[k]) / (1.0 - u[k]))
            )
        # posterior is raw (identical products/division of the quantized
        # state in both engines); weight is floor-quantized because log2
        # can differ by an ULP between libms
        out.append(
            (g1, g2, g3, n, pm / (pm + pu), math.floor(weight * 1e6 + 0.5) / 1e6)
        )
    return spark.createDataFrame(
        out,
        "g_name int, g_bal int, g_seg int, n_pairs long, posterior double, match_weight double",
    ).orderBy("g_name", "g_bal", "g_seg")


_SNM_WINDOW = 5  # sorted-neighborhood sliding window (pairs within w-1 ranks)


@op(
    "er_sorted_neighborhood",
    sql=f"""
    WITH recs AS (
        SELECT s_suppkey AS id, s_name AS name, s_nationkey AS nat FROM supplier
        UNION ALL
        SELECT s_suppkey + 1000000, s_name || 'x', s_nationkey
        FROM supplier WHERE s_suppkey < 15
    ),
    keyed AS (
        SELECT id, name, nat,
               regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS k,
               substr(regexp_replace(lower(name), '[^a-z0-9]', '', 'g'), 1, 15) AS blk
        FROM recs
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY blk ORDER BY k, id) AS rn
        FROM keyed
    )
    SELECT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b,
           levenshtein(a.name, b.name) AS lev,
           a.nat = b.nat AS nat_match
    FROM ranked a JOIN ranked b
      ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND {_SNM_WINDOW - 1}
    WHERE levenshtein(a.name, b.name) <= 2
    ORDER BY id_a, id_b
    """,
)
def er_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD'95) —
    the complementary blocking method to er_resolve_entities' hash
    blocks: records sort by a cleaned key and only a sliding window of
    w=5 neighbors is compared, so candidates survive even when the
    equality block key itself is dirty (the case hash blocking
    structurally misses — the planted variants here append a typo to
    the NAME the key derives from, yet still sort adjacent). Residual
    predicate: Levenshtein ≤ 2 JVM-side, with the nation-agreement flag
    carried for downstream scoring.

    Plan: ONE sort per block partition — the block is a 15-char prefix
    of the sort key, long enough to SUBDIVIDE this keyspace (a 1-char
    prefix degenerates to one block here: every supplier name shares
    the 'supplier#' stem, which would funnel the whole relation through
    a single-partition window — the thing this op must avoid at scale);
    a planted variant always shares its source's full key as a prefix,
    so twins can never straddle a block boundary, while production SNM
    range-partitions the sort with w−1 rows of overlap to also keep
    boundary pairs between unrelated keys. Then the
    window pairs come from lead(·, k) for k = 1..w-1 — MAP-side after
    the sort, never a self-join; cost is exactly (w-1)·n pairs before
    the predicate. The oracle states the identical pair set as a
    rank-distance self-join. At 100 TB this is the canonical SNM
    shuffle shape (sort by key, slide the window inside partitions);
    multi-pass SNM = union over several sort keys, boundary pairs
    between prefix blocks are the documented single-pass tradeoff."""
    s = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nat"),
    )
    recs = s.unionByName(
        s.filter(F.col("id") < 15).select(
            (F.col("id") + 1_000_000).alias("id"),
            F.concat(F.col("name"), F.lit("x")).alias("name"),
            "nat",
        )
    )
    k = F.regexp_replace(F.lower("name"), "[^a-z0-9]", "")
    keyed = recs.select(
        "id", "name", "nat", k.alias("k"), F.substring(k, 1, 15).alias("blk")
    )
    w = Window.partitionBy("blk").orderBy("k", "id")
    pairs = None
    for step in range(1, _SNM_WINDOW):
        nxt = keyed.select(
            "id", "name", "nat",
            F.lead("id", step).over(w).alias("id2"),
            F.lead("name", step).over(w).alias("name2"),
            F.lead("nat", step).over(w).alias("nat2"),
        ).filter(F.col("id2").isNotNull())
        pairs = nxt if pairs is None else pairs.unionByName(nxt)
    lev = F.levenshtein("name", "name2")
    return (
        pairs.filter(lev <= 2)
        .select(
            F.least("id", "id2").alias("id_a"),
            F.greatest("id", "id2").alias("id_b"),
            lev.alias("lev"),
            (F.col("nat") == F.col("nat2")).alias("nat_match"),
        )
        .orderBy("id_a", "id_b")
    )


@op("pipeline_multimodal_corpus", sql=None)  # flagship composition — funnel
def pipeline_multimodal_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The MULTIMODAL corpus-prep flow as one composed pipeline — the
    image sibling of pipeline_llm_corpus: payload build → decode +
    feature extraction → quality gates (size floor, brightness band,
    histogram entropy) → exact perceptual dedup (identical dHash
    collapses to the min doc) → byte-budgeted shard packing. Each stage
    reuses the standalone ops' exact logic (ppm_image_payloads,
    _decode_image_batches, _phash_batches — the banded NEAR-dup channel
    stays dedup_image_phash's standalone job), so their tests transfer;
    the returned funnel (stage, n_rows) is the run's audit record.

    Scale shape per stage: decode/hash are Arrow-batched map-only
    passes ∝ image bytes; the entropy gate is a JVM higher-order fold
    over the 16-bin histogram (no Python); perceptual dedup is one
    |images|-row groupBy on the 8-byte hash; shard packing is a window
    cumsum per source (the sink_training_shards discipline). Stage
    frames that feed multiple counted stages are materialized where
    they are defined, exactly like pipeline_llm_corpus's."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    docs = table(spark, sf, "documents").select("doc_id", "text", "source")
    # materialized: BOTH the feature branch and the phash branch read the
    # payloads — without this the payload build re-runs for the dedup
    # stage's decode pass. Spread first: the Python decode reads the
    # materialized partitioning.
    payloads = materialize(_spread_if_scan_starved(
        ppm_image_payloads(docs.select("doc_id", "text")), docs, "doc_id"
    ))
    feats = payloads.mapInPandas(_decode_image_batches, MM_FEATURE_SCHEMA)
    decoded = materialize(feats.filter((F.col("width") > 0) & (F.col("height") > 0)))

    entropy = F.aggregate(
        "feature_vec",
        F.lit(0.0),
        lambda acc, x: acc
        - F.when(x > 0, x.cast("double") * F.log(x.cast("double"))).otherwise(0.0),
    )
    gated = materialize(decoded.filter(
        (F.col("n_bytes") >= 12 * 8 * 3)
        & F.col("feature_mean").between(30, 120)
        & (entropy >= F.lit(1.0))
    ))

    sig = (
        payloads.join(gated.select("doc_id"), "doc_id", "left_semi")
        .mapInPandas(_phash_batches, "doc_id long, phash long")
    )
    keep = sig.groupBy("phash").agg(F.min("doc_id").alias("doc_id"))
    deduped = materialize(gated.join(keep.select("doc_id"), "doc_id", "left_semi"))

    shard_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shards = (
        deduped.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            "doc_id",
            "n_bytes",
            F.floor(F.sum("n_bytes").over(shard_w) / F.lit(65536)).alias("shard_id"),
        )
        .groupBy("source", "shard_id")
        .agg(F.count(F.lit(1)).alias("n_images"), F.sum("n_bytes").alias("shard_bytes"))
    )

    stages = [
        ("0_raw", docs),
        ("1_decoded", decoded),
        ("2_quality_gate", gated),
        ("3_phash_dedup", deduped),
        ("4_shards", shards),
    ]
    counts = [(name, df.count()) for name, df in stages]
    return spark.createDataFrame(counts, "stage string, n_rows long")


@op("pipeline_audio_corpus", sql=None)  # flagship composition — funnel
def pipeline_audio_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The AUDIO corpus-prep flow as one composed pipeline — the audio
    sibling of pipeline_multimodal_corpus: payload build → stdlib-wave
    decode + feature extraction → quality gates (duration floor +
    RMS loudness floor, the silence gate every speech pipeline applies
    first; measured corpus rms spans 13.4k-26.2k so the 15k floor
    removes a real quiet tail) → exact perceptual dedup (identical
    energy-gradient fingerprints collapse to the min doc — the banded
    NEAR-dup channel stays dedup_audio_fingerprint's standalone job) →
    byte-budgeted shard packing. Each stage reuses the standalone ops'
    exact logic (wav_audio_payloads, _decode_audio_batches,
    _afp_batches), so their tests transfer; the returned funnel
    (stage, n_rows) is the run's audit record.

    Scale shape per stage: decode/fingerprint are Arrow-batched
    map-only passes ∝ audio bytes; the gates are JVM comparisons on
    8-byte features; perceptual dedup is one |clips|-row groupBy on
    the 8-byte fingerprint; shard packing is a window cumsum per
    source (the sink_training_shards discipline). The payload frame
    feeds both the feature branch and the fingerprint branch, so it is
    materialized exactly like the image pipeline's."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    docs = table(spark, sf, "documents").select("doc_id", "text", "source")
    # spread: the Python decode reads the materialized partitioning
    payloads = materialize(_spread_if_scan_starved(
        wav_audio_payloads(docs.select("doc_id", "text")), docs, "doc_id"
    ))
    feats = payloads.mapInPandas(_decode_audio_batches, _AUDIO_SCHEMA)
    decoded = materialize(feats.filter(F.col("n_samples") > 0))

    gated = materialize(decoded.filter(
        (F.col("duration_s") >= 0.02) & (F.col("rms") >= 15000.0)
    ))

    sig = (
        payloads.join(gated.select("doc_id"), "doc_id", "left_semi")
        .mapInPandas(_afp_batches, "doc_id long, afp long")
    )
    keep = sig.groupBy("afp").agg(F.min("doc_id").alias("doc_id"))
    deduped = materialize(gated.join(keep.select("doc_id"), "doc_id", "left_semi"))

    shard_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shards = (
        deduped.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            "doc_id",
            "n_bytes",
            F.floor(F.sum("n_bytes").over(shard_w) / F.lit(8192)).alias("shard_id"),
        )
        .groupBy("source", "shard_id")
        .agg(F.count(F.lit(1)).alias("n_clips"), F.sum("n_bytes").alias("shard_bytes"))
    )

    stages = [
        ("0_raw", docs),
        ("1_decoded", decoded),
        ("2_quality_gate", gated),
        ("3_afp_dedup", deduped),
        ("4_shards", shards),
    ]
    counts = [(name, df.count()) for name, df in stages]
    return spark.createDataFrame(counts, "stage string, n_rows long")


FILTERED_TOPK_SQL = """
WITH q AS (
    SELECT vec_id, label, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
    FROM embeddings WHERE vec_id < 10
), c AS (
    SELECT vec_id, label, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS label, c.vec_id AS neighbor_id,
           list_sum(list_transform(list_zip(q.embedding, c.embedding),
                    t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q.norm * c.norm) AS cosine,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q.norm * c.norm) DESC,
                        c.vec_id
           ) AS rn
    FROM q JOIN c ON q.vec_id <> c.vec_id AND q.label = c.label
)
SELECT query_id, label, neighbor_id, ROUND(cosine, 8) AS cosine
FROM scored WHERE rn <= 5
"""


@op("sim_filtered_topk", sql=FILTERED_TOPK_SQL)
def sim_filtered_topk(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED vector search — top-5 cosine neighbors SHARING THE
    QUERY'S LABEL, the metadata-predicate ANN every production vector
    store ships (category-scoped retrieval, tenant isolation, freshness
    windows). This op is the exact PRE-FILTER form: the predicate cuts
    the corpus before any scoring, so each query scores only its label
    stratum — correct at any selectivity, and the form post-filtered
    ANN must be measured against (post-filtering an IVF probe
    under-fills k when the predicate is selective: probed cells may
    hold few matching vectors; production systems over-fetch k/sel or
    maintain per-label postings — sim_ivf_index_persist's cells
    partitioned by (label, cell) gives exactly that here).

    Plan shape: queries broadcast with their labels; the label
    equi-condition joins each corpus row to ONLY the queries of its
    label (a broadcast hash join on label + the self-pair exclusion),
    so the corpus still streams through MAP-ONLY — the filter costs
    nothing extra — and the per-query window sees one stratum. Exact
    cross-engine: sequential double folds, rank on the unrounded
    cosine with id tie-break."""
    e = _with_norm(table(spark, sf, "embeddings").select("vec_id", "label", "embedding"))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("vec_id") != F.col("query_id")) & (F.col("label") == F.col("q_label")),
        )
        .select(
            "query_id",
            F.col("q_label").alias("label"),
            F.col("vec_id").alias("neighbor_id"),
            (_dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "label", "neighbor_id", F.round("cosine", 8).alias("cosine"))
    )


_BQ_RERANK = 128  # hamming candidates per query before exact rerank

# SQL form (the Python F.shiftleft only takes a literal shift count, but
# the per-dimension shift IS the lambda variable); module-level so the
# signature-parity test pins the exact expression the op ships
_BQ_SIG_EXPR = (
    "aggregate(zip_with(embedding, sequence(0, 63), "
    "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), "
    "0L, (acc, v) -> acc + v)"
)


BQ_TOPK_SQL = f"""
WITH s2 AS (
    SELECT vec_id, embedding,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
           -- exact signed int64: integer shifts for bits 0-62, bit 63
           -- contributes the sign term (a double-powers sum would lose
           -- low bits past the 53-bit mantissa)
           CAST(list_sum(list_transform(range(1, 65),
                i -> CASE WHEN embedding[i] > 0
                     THEN CASE WHEN i = 64
                          THEN (-9223372036854775807 - 1)
                          ELSE (CAST(1 AS BIGINT) << (i - 1)) END
                     ELSE 0 END))
             AS BIGINT) AS sig
    FROM embeddings
), q AS (
    SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm, sig AS q_sig
    FROM s2 WHERE vec_id < 10
), ham AS (
    SELECT q.query_id, c.vec_id AS neighbor_id, c.embedding, c.norm,
           q.q_emb, q.q_norm,
           bit_count(xor(q.q_sig, c.sig)) AS hamming,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY bit_count(xor(q.q_sig, c.sig)), c.vec_id) AS hrn
    FROM s2 c JOIN q ON c.vec_id <> q.query_id
), rr AS (
    SELECT query_id, neighbor_id, hamming,
           list_sum(list_transform(list_zip(q_emb, embedding),
                    t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) / (q_norm * norm) AS cosine
    FROM ham WHERE hrn <= {_BQ_RERANK}
)
SELECT query_id, neighbor_id, ROUND(cosine, 8) AS cosine, hamming
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM rr)
WHERE rn <= 5
"""


@op("sim_binary_quantized_topk", sql=BQ_TOPK_SQL)
def sim_binary_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-quantization ANN — the 1-bit-per-dimension compression
    modern vector stores ship as their cheapest tier (sign bit per
    dimension; here d = 64, so a whole vector is ONE int64 and distance
    is a single xor+popcount): candidates = top-128 by Hamming between
    sign signatures, then EXACT cosine rerank of those — the
    standard BQ-then-rerank serving pattern, completing the
    quantization ladder (float32 → int8 embedding_quantize_int8 → PQ
    sim_pq_adc_search → 1-bit, a 256× memory cut). The op is exact
    top-k ONLY when the true neighbors survive the Hamming prefilter —
    the oracle replays the
    identical two-stage plan, so certification is of the BQ pipeline
    itself, not of equivalence to brute force; the test cross-checks
    recall vs sim_cosine_topk. On ISOTROPIC embeddings (this synthetic
    corpus — the same caveat sim_knn_graph_ivf documents) sign bits
    carry little signal, so the rerank width must be generous: measured
    candidate recall 0.56/0.86/0.96 at widths 32/64/128 here; on
    clustered real-corpus embeddings BQ holds ~0.95 at far narrower
    widths, which is why vector stores ship it.

    Plan: signatures are a map-side JVM fold (aggregate over the array
    with a bit shift per dimension); the Hamming stage joins the corpus
    to the broadcast 10-query signature set and pays ONE xor+popcount
    per (query, vector) — the cheapest possible scoring pass, ~64×
    less arithmetic than cosine — and only the 128 survivors per query
    pay the full-precision rerank. At 100 TB the signature column is
    8 bytes/vector (the whole corpus's signatures fit where 1% of the
    floats would), and the prefilter is the map-only broadcast-query
    shape of sim_cosine_topk."""
    e = _with_norm(table(spark, sf, "embeddings").select("vec_id", "embedding"))
    sig = F.expr(_BQ_SIG_EXPR)
    s2 = e.withColumn("sig", sig)
    q = s2.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("sig").alias("q_sig"),
    )
    hamming = F.bit_count(F.expr("q_sig ^ sig"))
    wh = Window.partitionBy("query_id").orderBy(hamming.asc(), F.col("vec_id"))
    cand = (
        s2.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("hamming", hamming)
        .withColumn("hrn", F.row_number().over(wh))
        .filter(F.col("hrn") <= _BQ_RERANK)
    )
    cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
            "hamming",
        )
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id", F.round("cosine", 8).alias("cosine"), "hamming")
    )



@op("er_incremental_resolve", sql=_ER_FULL_RECOMPUTE_SQL)
def er_incremental_resolve(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL entity resolution — the production shape the batch
    op (er_resolve_entities) is the reference for: the entity registry
    is built once from the base population (suppliers + the 'x'
    variants), then a late-arriving batch (the 'yz' variants) resolves
    WITHOUT re-pairing the base: candidate generation runs only in the
    blocks the batch touches (a semi-join cuts the base to those
    blocks), and the old registry contributes its (member → cluster)
    edges — the transitive CLOSURE of every old pair — in place of the
    pairs themselves. Connected components over (registry edges ∪
    batch-block pairs) provably equals components over ALL pairs (old
    cluster edges encode old connectivity exactly), including the hard
    case: a batch record BRIDGING two existing entities merges them,
    with the min-id canonical label surviving. That equivalence is the
    certification: the DuckDB oracle is the FULL recompute (byte-
    identical to er_resolve_entities' SQL, test-pinned), so
    incremental ≡ recompute is hash-proven every sweep — the
    dedup_incremental_minhash pattern applied to ER.

    Per-batch cost at 100 TB: |batch| block probes + pairing inside
    touched blocks only + CC over (touched entities ∪ batch) — the
    registry's untouched blocks are never read, which is the entire
    point of keeping one."""
    s = table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nat"),
        F.col("s_acctbal").alias("bal"),
    )
    base, batch = _er_variant_corpus(s)

    # the registry a production system persists: base-only resolution
    base_labels = _min_label_cc(base.select("id"), _er_candidate_pairs(base))

    # incremental pair generation: only blocks the batch touches
    touched = batch.select("nat", "bal").distinct()
    in_scope = base.join(F.broadcast(touched), ["nat", "bal"], "left_semi").unionByName(
        batch
    )
    new_pairs = _er_candidate_pairs(in_scope)
    reg_edges = base_labels.select(
        F.col("id").alias("src"), F.col("cluster_id").alias("dst")
    )
    sup = base.unionByName(batch)
    labels = _min_label_cc(sup.select("id"), reg_edges.unionByName(new_pairs))
    return _er_entity_output(labels, sup)


_SCENE_CUT_HAMMING = 10


def _scene_hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per frame: dHash + Hamming distance to the PREVIOUS frame (NULL
    for frame 0) — the only Python stage of the scene-cut op. Shares
    _frame_hash_stream with dedup_video_fingerprint so the two ops'
    "same cut rule" claim is structural, not copy-paste (r10 review)."""
    for pdf in batches:
        out = {k: [] for k in ("doc_id", "frame_no", "hamming_prev")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for fno, (_h, d) in enumerate(_frame_hash_stream(bytes(payload))):
                out["doc_id"].append(doc_id)
                out["frame_no"].append(fno)
                out["hamming_prev"].append(d)
        yield pd.DataFrame(out).astype({"doc_id": "int64", "frame_no": "int32"})


@op("multimodal_video_scene_cut", sql=None)  # binary-media op — replica-tested
def multimodal_video_scene_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Shot/scene-boundary detection over the video streams — the
    standard first pass of every video-training pipeline (sample one
    keyframe per SCENE, not per N frames): consecutive frames' dHash
    Hamming distance spikes at a content transition (measured bimodal
    here: 0 for continuation frames vs 13-38 at transitions; threshold
    10), and each spike starts a new scene. Python touches only the
    decode+hash stage (Arrow-batched, one small row per frame out);
    the cut decision, scene count, and per-doc assembly are JVM
    aggregates. Cut frame lists are emitted as a comma-joined STRING —
    the no-complex-cells driver contract.

    At 100 TB of video: map-only ∝ stream bytes, one shuffle of
    |frames| tiny rows to the per-doc aggregate; the downstream
    keyframe sampler joins scenes back to the stream reader. The
    replica test recomputes cuts from the frames driver-side and must
    agree exactly."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    d = table(spark, sf, "documents")
    per_frame = ppm_stream_payloads(d).mapInPandas(
        _scene_hash_batches, "doc_id long, frame_no int, hamming_prev int"
    )
    is_cut = (F.col("hamming_prev") > _SCENE_CUT_HAMMING).cast("int")
    return (
        per_frame.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.coalesce(F.sum(is_cut), F.lit(0)).alias("n_cuts"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("hamming_prev") > _SCENE_CUT_HAMMING,
                                F.struct("frame_no"),
                            )
                        )
                    ),
                    lambda s: s.frame_no.cast("string"),
                ),
                ",",
            ).alias("cut_frames"),
        )
        .select(
            "doc_id",
            "n_frames",
            (F.col("n_cuts") + 1).alias("n_scenes"),
            "cut_frames",
        )
        .orderBy("doc_id")
    )
