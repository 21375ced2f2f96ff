"""Data-selection & privacy-governance ops for training-data pipelines.

Round-2 additions to the LLM-data-pipeline family (SURVEY §2.3 north
star). Reference provenance: the reference gates every record against a
dimension before ingest (``MetadataIngestionServiceImpl.java:112-116``);
these ops are the corpus-level generalisation of that admission decision —
*which* documents enter the training set (importance weighting, quality
bucketing, semantic dedup) and *what* may leave it (k-anonymity,
differentially-private release).

Methods are the published ones a 100 TB pretraining pipeline actually
runs: DSIR hashed-n-gram importance weights (Xie et al. 2023), CCNet
perplexity head/middle/tail buckets (Wenzek et al. 2020), SemDeDup
cluster-then-prune semantic dedup (Abbas et al. 2023).

All scoring stays in JVM codegen (explode/md5/ln/agg); the only Python
is SemDeDup's numpy centroid assignment — Arrow-batched mapInPandas,
the same quantizer machinery as sim_knn_graph_ivf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bpspark.io import materialize, table
from bpspark.registry import op

# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 256


@op(
    "sample_importance_dsir",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
    ),
    tokb AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM tok WHERE tok <> ''
    ),
    cs AS (SELECT b, COUNT(*) AS c_s FROM tokb GROUP BY b),
    ct AS (SELECT b, COUNT(*) AS c_t FROM tokb WHERE lang = 'en' GROUP BY b),
    tots AS (
        SELECT (SELECT COUNT(*) FROM tokb) AS tot_s,
               (SELECT COUNT(*) FROM tokb WHERE lang = 'en') AS tot_t
    ),
    model AS (
        SELECT cs.b,
               ln(CAST(COALESCE(ct.c_t, 0) + 1 AS DOUBLE))
                 - ln(CAST(tots.tot_t + {_DSIR_BUCKETS} AS DOUBLE))
                 - ln(CAST(cs.c_s + 1 AS DOUBLE))
                 + ln(CAST(tots.tot_s + {_DSIR_BUCKETS} AS DOUBLE)) AS llr
        FROM cs LEFT JOIN ct ON cs.b = ct.b CROSS JOIN tots
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(SUM(m.llr), 6) / COUNT(*) AS avg_llr
    FROM tokb t JOIN model m ON t.b = m.b
    GROUP BY t.doc_id
    ORDER BY doc_id
    """,
)
def sample_importance_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    model the TARGET distribution (here: the ``lang='en'`` slice) and the
    RAW distribution as bags of hashed unigrams (md5 → 256 buckets,
    add-1 smoothed), and score every doc by its mean log importance
    ratio ln p_target(tok)/p_raw(tok). High avg_llr = looks like the
    target domain; resampling by these weights is how a 100 TB crawl is
    tilted toward a curated target corpus.

    Plan shape: ONE token explode feeds the two bucket-count aggregates
    AND the scoring join. Both models collapse map-side to ≤256 rows
    (partial agg), totals are one more 1-row aggregate, and the
    per-token scoring join is a broadcast of the 256-row model — so the
    only corpus-sized shuffle is the final per-doc aggregate. The hash
    is md5-based so bucket ids are engine-portable (same rationale as
    text_feature_hashing). Float convention: ROUND(SUM,6)/COUNT as in
    text_perplexity_ngram — ln() stays in codegen, no Python."""
    docs = table(spark, sf, "documents")
    tokb = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
                F.lit(_DSIR_BUCKETS),
            ).alias("b"),
        )
    )
    cs = tokb.groupBy("b").agg(F.count(F.lit(1)).alias("c_s"))
    ct = (
        tokb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tots = tokb.agg(
        F.count(F.lit(1)).alias("tot_s"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tot_t"),
    )
    model = (
        cs.join(ct, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double"))
                - F.log((F.col("tot_t") + _DSIR_BUCKETS).cast("double"))
                - F.log((F.col("c_s") + 1).cast("double"))
                + F.log((F.col("tot_s") + _DSIR_BUCKETS).cast("double"))
            ).alias("llr"),
        )
    )
    return (
        tokb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(F.sum("llr"), 6) / F.count(F.lit(1))).alias("avg_llr"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------

# the bigram-LM scoring CTEs are shared with text_perplexity_ngram's own
# oracle (r10 review: this module carried a verbatim copy that could
# silently drift from the Spark plan it replays, since the Spark side
# already calls quality.text_perplexity_ngram directly)
from bpspark.quality import _PPL_SCORE_CTES as _PPL_SCORE_SQL


def _ordered_cumsum(hist: DataFrame, val_col: str, cnt_col: str) -> DataFrame:
    """Exact value-ordered running sum over a histogram WITHOUT a
    single-partition global window (r10 review: avg_nll is a per-doc
    quotient, so the histogram is effectively CORPUS-sized — distinct
    values ≈ one per document, not 'bounded by the rounding grid' as the
    old docstrings claimed, and `Window.orderBy(v)` alone collapses it
    onto one task). Two-phase exact scan instead: range-repartition by
    value, per-partition running sum (window PARTITIONED by the range
    id), plus each range's prefix total cumulated over ≤64 tiny rows and
    broadcast back. The result is partition-boundary-independent (prefix
    + within-range sum = the global value-ordered sum for any split);
    the repartitioned frame is materialized so the psums pass and
    the window pass read the SAME materialized boundaries (range
    boundaries come from sampling, and the two subtrees of one action
    must not resample independently)."""
    h = materialize(
        hist.repartitionByRange(64, val_col).withColumn("_pid", F.spark_partition_id())
    )
    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        h.groupBy("_pid")
        .agg(F.sum(cnt_col).alias("_psum"))
        .withColumn("_prefix", F.coalesce(F.sum("_psum").over(wprev), F.lit(0)))
        .select("_pid", "_prefix")
    )
    wpart = (
        Window.partitionBy("_pid")
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        h.join(F.broadcast(prefix), "_pid")
        .withColumn("cum", F.col("_prefix") + F.sum(cnt_col).over(wpart))
        .drop("_pid", "_prefix")
    )


@op(
    "sample_perplexity_buckets",
    sql=f"""
    WITH {_PPL_SCORE_SQL},
    cum AS (
        SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum, (SELECT COUNT(*) FROM scored) AS n
        FROM (SELECT avg_nll AS v, COUNT(*) AS cnt FROM scored GROUP BY avg_nll)
    ),
    bounds AS (
        SELECT MIN(CASE WHEN cum * 3 >= n THEN v END) AS b1,
               MIN(CASE WHEN cum * 3 >= 2 * n THEN v END) AS b2
        FROM cum
    )
    SELECT s.doc_id, s.avg_nll,
           CASE WHEN s.avg_nll <= b.b1 THEN 'head'
                WHEN s.avg_nll <= b.b2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s CROSS JOIN bounds b
    ORDER BY doc_id
    """,
)
def sample_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020): score every doc
    with the corpus bigram LM (same scoring plan as
    text_perplexity_ngram), then bucket by exact perplexity tertiles —
     'head' (most fluent third) is what CCNet keeps, 'middle' is
    sampled, 'tail' is dropped.

    The tertile boundaries are exact order statistics computed the
    scale-safe way: aggregate to DISTINCT score values (avg_nll is a
    per-doc quotient, so this histogram is ~corpus-sized — r10 review
    corrected the old 'bounded by the rounding grid' claim), then
    running-sum it with the two-phase range-partitioned scan
    (_ordered_cumsum: no single-partition window anywhere), and take the
    first value whose cumulative count crosses n/3 and 2n/3. The 2-row
    bounds frame re-enters as a broadcast cross join — no global sort of
    the corpus. Value-based boundaries mean ties straddle a boundary
    into the lower bucket in both engines identically (multiset
    semantics, no tie-break needed)."""
    from bpspark.quality import text_perplexity_ngram

    # r13: materialize the per-doc scores once — the plan otherwise
    # evaluates the ENTIRE bigram-LM scoring subtree twice (the histogram
    # → bounds path AND the final bucket projection). The scored frame is
    # one narrow row per DOCUMENT (~16 B) — the standard CCNet shape of
    # writing scores then bucketing them — so the materialization stays
    # tiny at any corpus scale while the scoring pass halves.
    # (6.0 → ~2.5 s at sf0.1; rows proven identical.)
    scored = materialize(text_perplexity_ngram(spark, sf).select("doc_id", "avg_nll"))
    hist = scored.groupBy(F.col("avg_nll").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # n = Σ cnt over the (already vocabulary-of-scores-sized) histogram —
    # the old scored.agg(count(*)) re-evaluated the ENTIRE bigram-LM
    # scoring plan a third time for one scalar (r12; identical value)
    n = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = _ordered_cumsum(hist, "v", "cnt").crossJoin(F.broadcast(n))
    bounds = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= F.col("n"), F.col("v"))).alias("b1"),
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("v"))).alias("b2"),
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("b1"), "head")
            .when(F.col("avg_nll") <= F.col("b2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup
# ---------------------------------------------------------------------------


# k-means cells are far coarser than LSH buckets (k ≈ sqrt(n) cells vs
# 16×2^32 band-buckets), so the quadratic guard sits higher: a 512-member
# cell still bounds pair work at ~131k comparisons, while a cell past the
# cap means the quantizer is under-provisioned — its members skip pairwise
# (stay kept) and the skip is the audit signal.
SEMDEDUP_CLUSTER_CAP = 512
# cosine threshold above which two cluster-mates are duplicates; shared
# by the Spark plan and the oracle via interpolation (never hard-coded
# twice, so an edit moves both engines)
SEMDEDUP_COS_THRESHOLD = 0.9


def _semdedup_oracle_sql() -> str:
    """Full-replication oracle for dedup_semdedup (r11, VERDICT r10
    item 3 — the last rows-only op whose every stage had a certified
    pattern): twin planting (the _lsh_oracle_sql REAL-round-trip CTE),
    the PORTABLE IVF quantizer funnel (_ivf_portable_cte_sql over the
    twinned corpus — md5 seeds, vec_id%3 sample, floor-quantized Lloyd
    means; rn=1 of ``pa`` is the home cluster, the same comparator as
    llm_ops._centroid_ranking), within-cluster pairwise cosine
    as list_sum folds over identical doubles (the TOPK_SQL pattern) with
    the cap filter, and min-label connected components as the recursive
    reach CTE (the split_leakage_safe / dedup_cluster_canonicalize
    pattern — provably the same min-label fixpoint as _min_label_cc)."""
    from bpspark.llm_ops import _ivf_portable_cte_sql, _plane_weights

    noise = "[" + ",".join(str(int(w)) for w in _plane_weights(99)) + "]"
    return f"""
    WITH RECURSIVE twinned AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(
               list_zip(embedding,
                        list_transform({noise}, b -> b * CAST(0.03 AS DOUBLE))),
               z -> CAST(CAST(z[1] AS DOUBLE) + z[2] AS REAL))
      FROM embeddings WHERE vec_id < 25
    ),
    {_ivf_portable_cte_sql(src="twinned")},
    home AS MATERIALIZED (
      SELECT vec_id, embedding, norm, cent_id AS cluster_id FROM pa WHERE rn = 1
    ),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS csize FROM home
    ),
    capped AS MATERIALIZED (
      SELECT * FROM sized WHERE csize <= {SEMDEDUP_CLUSTER_CAP}
    ),
    dup_pairs AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM capped a JOIN capped b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
              / (a.norm * b.norm) >= CAST({SEMDEDUP_COS_THRESHOLD} AS DOUBLE)
    ),
    members AS (SELECT src AS id FROM dup_pairs UNION SELECT dst FROM dup_pairs),
    edges AS (
      SELECT src, dst FROM dup_pairs
      UNION SELECT dst, src FROM dup_pairs
      UNION SELECT id, id FROM members
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
    ),
    roots AS (SELECT src AS vec_id, MIN(dst) AS root FROM reach GROUP BY src)
    SELECT h.vec_id, h.cluster_id,
           (r.root IS NULL OR r.root = h.vec_id) AS kept,
           CASE WHEN r.root <> h.vec_id THEN r.root END AS dup_of
    FROM home h LEFT JOIN roots r ON r.vec_id = h.vec_id
    ORDER BY h.vec_id
    """


@op("dedup_semdedup", sql=_semdedup_oracle_sql())
def dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    then compare pairs ONLY within a cluster and drop all but one of any
    pair above the cosine threshold (keep the lowest vec_id — the
    deterministic stand-in for the paper's keep-one rule). Catches
    paraphrase-level duplicates that exact/MinHash text dedup misses.

    Plan shape = the published algorithm's scale story: the quantizer is
    trained on a sample and shipped as a literal (same machinery as
    sim_knn_graph_ivf), assignment is MAP-SIDE (zero shuffle), and the
    pairwise compare is per-cluster — llm_ops.band_pairs on cluster id,
    one shuffle, work Σ|cluster|², never corpus². Hot clusters get the
    same cap as MinHash LSH (SEMDEDUP_CLUSTER_CAP, sized for k-means
    cells): clusters over the cap skip pairwise scoring entirely —
    their members stay kept, and the skip is the audit signal that the
    quantizer needs more centroids (mirrors minhash_bucket_overflow).

    Input is the corpus + 25 planted near-identical twins
    (_embeddings_with_planted_twins) so the invariant tests can measure
    that twins actually land in one cluster and get pruned. Output: one
    row per vector — cluster id, kept flag, and for dropped vectors the
    KEPT vector they duplicate (duplicate CHAINS B→A, C→B resolve to
    the kept component root via min-label propagation, so dup_of always
    references a survivor)."""
    from bpspark.llm_ops import (
        _assign_home,
        _dot,
        _embeddings_with_planted_twins,
        _ivf_centroid_literal,
        _min_label_cc,
        _with_norm_guarded,
        band_pairs,
    )

    # _with_norm_guarded, not _with_norm (r10 review): an all-zero
    # embedding has norm 0, its cosines are 0/0 = NaN, and Spark sorts
    # NaN LARGEST — NaN >= 0.9 is true, so the zero vector would link to
    # every cluster member and min-label CC would collapse the whole
    # cluster into one "duplicate" component. The guard scores it 0.0.
    e = _with_norm_guarded(_embeddings_with_planted_twins(spark, sf))
    # portable quantizer (r11 oracle upgrade): md5 seeds + %3 sample +
    # floor-quantized Lloyd means replay exactly in the DuckDB oracle;
    # the certified xxhash64 IVF ladder keeps its own default path
    cent_lit, _k = _ivf_centroid_literal(e, portable=True)
    # materialized (the llm_ops lineage pattern): assigned feeds the
    # pair join's BOTH sides AND the final output projection — without
    # it the map-side k×d centroid scoring re-runs three times (r10
    # review); dup_pairs likewise feeds members + the CC edge set.
    assigned = materialize(_assign_home(e, cent_lit).select(
        "vec_id", "embedding", "norm", F.col("home_cent").alias("cluster_id")
    ))
    pairs = band_pairs(
        assigned.withColumnRenamed("vec_id", "doc_id"), ["cluster_id"],
        carry=["embedding", "norm"], cap=SEMDEDUP_CLUSTER_CAP,
    )
    dup_pairs = materialize(
        pairs.filter(
            _dot("embedding_a", "embedding_b") / (F.col("norm_a") * F.col("norm_b"))
            >= SEMDEDUP_COS_THRESHOLD
        ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    # Resolve duplicate CHAINS (B→A, C→B with cos(A,C) below threshold)
    # to the component's kept root: min-label CC over the pair graph —
    # the component min has no earlier close neighbor, so it is kept,
    # and every dropped member's dup_of points at that survivor.
    members = (
        dup_pairs.select(F.col("src").alias("id"))
        .unionByName(dup_pairs.select(F.col("dst").alias("id")))
        .distinct()
    )
    roots = _min_label_cc(members, dup_pairs).select(
        F.col("id").alias("vec_id"), F.col("cluster_id").alias("root")
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(roots, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            (F.col("root").isNull() | (F.col("root") == F.col("vec_id"))).alias(
                "kept"
            ),
            F.when(F.col("root") != F.col("vec_id"), F.col("root")).alias("dup_of"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# dedup cluster canonicalization (keep-best)
# ---------------------------------------------------------------------------


@op(
    "dedup_cluster_canonicalize",
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
    ),
    cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    ranked AS (
        SELECT cc.doc_id, cc.cluster_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                  ORDER BY d.n_chars DESC, cc.doc_id) AS rn
        FROM cc JOIN documents d ON cc.doc_id = d.doc_id
    )
    SELECT r.doc_id, r.cluster_id, c.doc_id AS canonical_id,
           r.doc_id = c.doc_id AS kept
    FROM ranked r JOIN ranked c ON r.cluster_id = c.cluster_id AND c.rn = 1
    ORDER BY r.doc_id
    """,
)
def dedup_cluster_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """The KEEP decision a dedup pipeline must make after clustering:
    given near-dup clusters (connected components over the pair graph —
    same deterministic chain graph as dedup_cluster_cc so the recursive-
    CTE oracle can rebuild it), elect the best document of each cluster
    as canonical (longest text wins, doc_id breaks ties) and map every
    member to it. 'Keep the longest' is the common crawl-pipeline rule —
    near-dup copies are usually truncations of one original.

    Plan: CC via distributed min-label propagation (shared
    _min_label_cc), then ONE window ranked by (n_chars desc, doc_id) per
    cluster — the canonical election reuses the cluster_id shuffle, and
    max_by semantics come from row_number rather than a second
    self-join."""
    from bpspark.llm_ops import _min_label_cc

    docs = table(spark, sf, "documents").select("doc_id", "n_chars")
    ids = docs.select("doc_id")
    base = (
        ids.filter(F.col("doc_id") % 10 < 3)
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
        .join(ids.select(F.col("doc_id").alias("dst")), "dst", "left_semi")
    )
    cc = _min_label_cc(ids.select(F.col("doc_id").alias("id")), base).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )
    ranked = cc.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    canon = ranked.filter(F.col("rn") == 1).select(
        F.col("cluster_id").alias("ccl"), F.col("doc_id").alias("canonical_id")
    )
    return (
        ranked.join(canon, ranked.cluster_id == canon.ccl)
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# privacy: k-anonymity and differentially-private release
# ---------------------------------------------------------------------------


@op(
    "privacy_k_anonymize",
    sql="""
    WITH bands AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               FLOOR(c_acctbal / 1000) * 1000 AS bal_band
        FROM customer
    ),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band)
                      AS group_size
        FROM bands
    )
    SELECT c_custkey,
           CASE WHEN group_size >= 5 THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS nation_qi,
           CASE WHEN group_size >= 5 THEN c_mktsegment ELSE '*' END AS segment_qi,
           CASE WHEN group_size >= 5 THEN CAST(CAST(bal_band AS BIGINT) AS VARCHAR) ELSE '*' END AS balance_qi,
           group_size
    FROM sized
    ORDER BY c_custkey
    """,
)
def privacy_k_anonymize(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity suppression (k=5) over the quasi-identifier triple
    (nation, market segment, account-balance band): any combination
    shared by fewer than k customers is suppressed to '*' so no released
    row isolates fewer than k people. This is the release gate a
    training-data pipeline applies before structured records leave the
    boundary — the tabular sibling of text_pii_redact.

    Plan: one window COUNT over the QI partition (a single shuffle on
    the QI key) and a map-side CASE — no second pass, no join. At 100 TB
    the QI-group histogram is far smaller than the data and the same
    plan holds; a generalization-lattice anonymizer would iterate this
    op over coarser bands."""
    c = table(spark, sf, "customer")
    band = (F.floor(F.col("c_acctbal") / 1000) * 1000).alias("bal_band")
    sized = c.select("c_custkey", "c_nationkey", "c_mktsegment", band).withColumn(
        "group_size",
        F.count(F.lit(1)).over(
            Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
        ),
    )
    ok = F.col("group_size") >= 5
    return sized.select(
        "c_custkey",
        F.when(ok, F.col("c_nationkey").cast("string")).otherwise("*").alias("nation_qi"),
        F.when(ok, F.col("c_mktsegment")).otherwise("*").alias("segment_qi"),
        F.when(ok, F.col("bal_band").cast("long").cast("string"))
        .otherwise("*")
        .alias("balance_qi"),
        "group_size",
    ).orderBy("c_custkey")


@op(
    "privacy_dp_counts",
    sql="""
    WITH g AS (
        SELECT event_type, COUNT(*) AS true_n FROM events GROUP BY event_type
    ),
    u AS (
        SELECT event_type, true_n,
               CAST(('0x' || substr(md5('bpspark-dp-1:' || event_type), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS u
        FROM g
    )
    SELECT event_type, true_n,
           ROUND(true_n - SIGN(u - 0.5) *
                 ln(GREATEST(1e-12, 1.0 - 2.0 * ABS(u - 0.5))) / 1.0, 6)
               AS noisy_n
    FROM u
    ORDER BY event_type
    """,
)
def privacy_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """ε-differentially-private group counts (ε=1) by the Laplace
    mechanism: per-group noise drawn via the inverse CDF
    −sign(u−½)·ln(1−2|u−½|)/ε. The uniform u comes from md5 of a fixed
    seed and the group key, NOT an RNG — seeded inverse-CDF sampling is
    how distributed DP releases stay reproducible across retries and
    engines (a re-run must not re-randomize the noise, or the privacy
    budget doubles). true_n is returned alongside for the oracle; a real
    release would drop it.

    Plan: one hash aggregate (map-side partial), then pure codegen
    md5/ln arithmetic on the |groups|-row result. The GREATEST clamp
    bounds the tail so u≈0 can't produce ±inf; ROUND(·,6) absorbs
    last-ulp libm differences cross-engine (text_perplexity_ngram
    convention)."""
    g = table(spark, sf, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("bpspark-dp-1:"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    noise = (
        -F.signum(u - 0.5)
        * F.log(F.greatest(F.lit(1e-12), F.lit(1.0) - 2.0 * F.abs(u - 0.5)))
        / F.lit(1.0)
    )
    return g.select(
        "event_type",
        "true_n",
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# URL canonicalization dedup (crawl front door)
# ---------------------------------------------------------------------------


def _url_canon_cte_sql(split_name: str = "splitu", out_col: str = "canonical_url") -> str:
    """THE raw→parts→split→canon oracle CTE chain, shared by
    dedup_url_canonicalized and pipeline_web_corpus (r10 review: the
    pipeline carried a verbatim copy that a rule change — e.g. the utm_
    regex — would silently desync). The host is NULL-guarded with
    COALESCE(..., '') mirroring Spark's try_element_at + coalesce: for
    a scheme-less URL DuckDB's split[2] is NULL and the whole
    concatenation would go NULL while Spark emits 'scheme://path'."""
    return f"""raw AS (
      SELECT doc_id,
             'HTTPS://WWW.Site' || (doc_id % 7) || '.COM/Path/' || (doc_id % 50)
             || CASE WHEN doc_id % 3 = 0
                     THEN '?utm_source=feed&utm_campaign=x' || doc_id
                          || '&id=' || (doc_id % 50)
                     ELSE '?id=' || (doc_id % 50) END
             || CASE WHEN doc_id % 2 = 0 THEN '#section' || doc_id ELSE '' END
               AS url
      FROM documents
    ),
    parts AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
    {split_name} AS (
      SELECT doc_id,
             lower(string_split(nofrag, '://')[1]) AS scheme,
             COALESCE(lower(string_split(string_split(nofrag, '://')[2], '/')[1]),
                      '') AS host,
             regexp_replace(string_split(nofrag, '?')[1],
                            '^[a-zA-Z]+://[^/]+', '') AS path,
             COALESCE(string_split(nofrag, '?')[2], '') AS query
      FROM parts
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' || host || path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS {out_col}
      FROM (
        SELECT doc_id, scheme, host, path,
               array_to_string(list_sort(list_filter(
                   string_split(query, '&'),
                   p -> p <> '' AND NOT regexp_matches(p, '^utm_'))), '&') AS cq
        FROM {split_name})
    )"""


@op(
    "dedup_url_canonicalized",
    sql=f"""
    WITH {_url_canon_cte_sql()}
    SELECT canonical_url, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
)
def dedup_url_canonicalized(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization dedup — the crawl pipeline's FRONT DOOR (runs
    before any fetch or text dedup): scheme/host lowercased, fragment
    stripped, tracking params (utm_*) removed, surviving query params
    SORTED — then exact-dedup on the canonical form. The harness
    synthesizes per-doc URLs with deliberate mixed case, utm noise, and
    fragments so distinct raw strings collapse to shared canonicals
    (mod-arithmetic collisions), which the oracle reproduces exactly.

    Everything is codegen string surgery (split / lower / regexp /
    array_sort / array_join) — no backreference regex (Spark `$1` vs
    RE2 `\\1` would fork the engines), no UDF. The final groupBy ships a
    uniform canonical-string key: one shuffle, skew-free. At 100 TB
    (billions of URLs) this is the cheapest dedup tier by orders of
    magnitude — every URL it collapses never costs a fetch, a parse, or
    a MinHash signature downstream."""
    d = table(spark, sf, "documents").select("doc_id")
    canonical = _canonicalize_url(_synthetic_url(F.col("doc_id")))
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .orderBy("canonical_url")
    )


def _synthetic_url(doc_col) -> F.Column:
    """Deterministic raw URL per doc (mixed case + utm noise + fragment) —
    shared by dedup_url_canonicalized and pipeline_web_corpus."""
    return F.concat(
        F.lit("HTTPS://WWW.Site"), (doc_col % 7).cast("string"),
        F.lit(".COM/Path/"), (doc_col % 50).cast("string"),
        F.when(
            doc_col % 3 == 0,
            F.concat(
                F.lit("?utm_source=feed&utm_campaign=x"), doc_col.cast("string"),
                F.lit("&id="), (doc_col % 50).cast("string"),
            ),
        ).otherwise(F.concat(F.lit("?id="), (doc_col % 50).cast("string"))),
        F.when(
            doc_col % 2 == 0,
            F.concat(F.lit("#section"), doc_col.cast("string")),
        ).otherwise(F.lit("")),
    )


def _canonicalize_url(url) -> F.Column:
    """Canonical form: scheme/host lowercase, fragment stripped, utm_*
    params dropped, surviving params sorted. No backreference regex."""
    # try_element_at, not element_at: under ANSI mode (the Spark 4
    # default) element_at THROWS on out-of-bounds, so a real-world URL
    # with no '?' or no '://' would kill the job instead of falling
    # through to the coalesce default.
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.element_at(F.split(nofrag, "://"), 1))
    host = F.lower(
        F.coalesce(
            F.try_element_at(
                F.split(F.try_element_at(F.split(nofrag, "://"), F.lit(2)), "/"),
                F.lit(1),
            ),
            F.lit(""),
        )
    )
    path = F.regexp_replace(
        F.element_at(F.split(nofrag, "\\?"), 1), "^[a-zA-Z]+://[^/]+", ""
    )
    query = F.coalesce(
        F.try_element_at(F.split(nofrag, "\\?"), F.lit(2)), F.lit("")
    )
    cq = F.array_join(
        F.array_sort(
            F.filter(F.split(query, "&"), lambda p: (p != "") & ~p.rlike("^utm_"))
        ),
        "&",
    )
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)),
    )


from bpspark.llm_ops import _jaccard_pairs_sql as _jps

_WEB_CORPUS_SQL = rf"""
    WITH {_url_canon_cte_sql("splitp", "curl")},
    url_stage AS (
      SELECT d.* FROM documents d
      JOIN (SELECT min(doc_id) AS doc_id FROM canon GROUP BY curl) k
        USING (doc_id)
    ),
    lang_stage AS (SELECT * FROM url_stage WHERE lang = 'en'),
    quality_stage AS (
      SELECT * FROM lang_stage
      WHERE length(text) BETWEEN 100 AND 2000
        AND len(string_split(text, ' ')) >= 20
        AND CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE)
            / length(text) > CAST(0.9 AS DOUBLE)
    ),
    qw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM quality_stage),
    big AS (
      SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bigram
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
            FROM qw)
    ),
    c2 AS (SELECT bigram, count(*) AS c2 FROM big GROUP BY bigram),
    c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
    scored AS (
      SELECT b.doc_id,
             (floor(SUM(-ln(CAST(c2.c2 AS DOUBLE) / c1.c1)) * 1e6 + 0.5) / 1e6)
               / count(*) AS avg_nll
      FROM big b JOIN c2 USING (bigram) JOIN c1 USING (w1)
      GROUP BY b.doc_id
    ),
    hist AS (SELECT avg_nll AS v, count(*) AS cnt FROM scored GROUP BY avg_nll),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum,
             (SELECT count(*) FROM scored) AS n
      FROM hist
    ),
    b2 AS (SELECT min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS b2 FROM cum),
    ppl_stage AS (
      SELECT q.* FROM quality_stage q
      JOIN scored s USING (doc_id), b2
      WHERE s.avg_nll <= b2.b2
    ),
    exact_stage AS (
      SELECT p.* FROM ppl_stage p
      JOIN (
        SELECT min(doc_id) AS doc_id FROM (
          SELECT doc_id,
                 md5(trim(regexp_replace(regexp_replace(lower(text),
                     '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
          FROM ppl_stage)
        GROUP BY h) k
      USING (doc_id)
    ),
    {_jps("exact_stage", "e")},
    elosers AS (
      SELECT DISTINCT doc_b AS doc_id FROM ejac WHERE jaccard >= 0.5
    ),
    near_stage AS (
      SELECT * FROM exact_stage
      WHERE doc_id NOT IN (SELECT doc_id FROM elosers)
    )
    SELECT * FROM (
      SELECT '0_raw' AS stage, (SELECT count(*) FROM documents) AS n_rows
      UNION ALL SELECT '1_url_dedup', (SELECT count(*) FROM url_stage)
      UNION ALL SELECT '2_langid', (SELECT count(*) FROM lang_stage)
      UNION ALL SELECT '3_quality', (SELECT count(*) FROM quality_stage)
      UNION ALL SELECT '4_perplexity_head_middle', (SELECT count(*) FROM ppl_stage)
      UNION ALL SELECT '5_exact_dedup', (SELECT count(*) FROM exact_stage)
      UNION ALL SELECT '6_near_dedup', (SELECT count(*) FROM near_stage)
    ) ORDER BY stage
    """


@op(
    "pipeline_web_corpus",
    # Oracle (upgraded r6): the CCNet/RefinedWeb funnel re-derived in SQL,
    # reusing the standalone ops' oracle fragments (URL canonicalization
    # from dedup_url_canonicalized, normalized-md5 from
    # dedup_exact_normalized) verbatim. The perplexity stage stabilizes
    # its order-dependent NLL sum with the tie-free floor(x·1e6+0.5)/1e6
    # in BOTH engines before the histogram/boundary logic (integer
    # thereafter). The LSH near-dedup stage is replaced by its measured
    # ground truth exactly as in pipeline_llm_corpus (zero false
    # positives, exact >=0.5 recall at all three SFs).
    sql=_WEB_CORPUS_SQL,
)
def pipeline_web_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The published web-corpus curation recipe (CCNet / RefinedWeb order)
    as ONE composed pipeline: URL canonical dedup (front door, before
    anything touches text) → language gate → heuristic quality gates →
    perplexity TAIL drop (LM trained on the survivors themselves) →
    normalized exact dedup → MinHash near-dedup. Returns the per-stage
    funnel — the audit record that tells you where your corpus went.

    Stage logic reuses the standalone ops' exact predicates/parameters
    (canonicalization from dedup_url_canonicalized, quality gates from
    text_quality_filter, LM scoring from text_perplexity_ngram, LSH
    params from dedup_near_minhash) so their tests and oracle checks
    transfer. 100 TB posture: URL dedup is the cheapest tier and runs
    FIRST (a collapsed URL never costs a parse, a score, or a
    signature); the perplexity model tables are vocab-sized broadcasts;
    every dedup stage shuffles a uniform hash key. The expensive stage
    frames are materialized where they are defined, exactly as
    pipeline_llm_corpus does, so no count recomputes them."""
    from bpspark.llm_ops import minhash_candidate_pairs

    docs = table(spark, sf, "documents")

    # 1. URL canonical dedup — keep min doc_id per canonical URL
    with_url = docs.withColumn(
        "curl", _canonicalize_url(_synthetic_url(F.col("doc_id")))
    )
    url_keep = with_url.groupBy("curl").agg(F.min("doc_id").alias("doc_id"))
    # materialized: the funnel counts each downstream stage with its own
    # action, and stages 2-4 all sit on top of this groupBy+semi-join
    # shuffle — without it the shuffle would re-execute per count.
    # Spread first (no-op at scale): stages 2-6 — including the
    # 3×-evaluated bigram-LM subtree — read the materialized partitioning,
    # which on a one-split scan would otherwise be a single partition
    from bpspark.llm_ops import _spread_if_scan_starved

    url_stage = materialize(_spread_if_scan_starved(
        docs.join(url_keep.select("doc_id"), "doc_id", "left_semi"),
        docs,
        "doc_id",
    ))

    # 2. language gate
    lang_stage = url_stage.filter(F.col("lang") == "en")

    # 3. heuristic quality gates (text_quality_filter's predicates)
    toks = F.split(F.col("text"), " ")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double")
        / F.length("text")
    )
    quality_stage = lang_stage.filter(
        F.length("text").between(100, 2000)
        & (F.size(toks) >= 20)
        & (alpha_ratio > 0.9)
    )

    # 4. perplexity tail drop: bigram LM trained on the survivors, keep
    # docs at or below the 2/3 boundary (head+middle; CCNet drops tail)
    from bpspark.llm_ops import _word_shingles

    big = quality_stage.select(
        "doc_id", F.explode(_word_shingles(F.col("text"), 2)).alias("bigram")
    )
    c2 = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        big.select(F.split("bigram", " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    # r13 (same two fixes as sample_perplexity_buckets): the plan
    # evaluated this whole scoring aggregate THREE times (histogram,
    # the scalar n, the keep_ids projection) — one narrow row per
    # surviving doc, so materialize it once
    scored = materialize(
        big.withColumn("w1", F.split("bigram", " ").getItem(0))
        .join(c2, "bigram")
        .join(c1, "w1")
        .withColumn("nll", -F.log(F.col("c2").cast("double") / F.col("c1")))
        .groupBy("doc_id")
        # tie-free floor(x·1e6+0.5)/1e6 (not F.round): stabilizes the
        # order-dependent float sum with the SAME float ops the DuckDB
        # oracle runs, so the histogram keys below match cross-engine
        .agg(
            (
                (F.floor(F.sum("nll") * 1e6 + F.lit(0.5)) / 1e6)
                / F.count(F.lit(1))
            ).alias("avg_nll")
        )
    )
    hist = scored.groupBy(F.col("avg_nll").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = _ordered_cumsum(hist, "v", "cnt").crossJoin(F.broadcast(n))
    b2 = cum.agg(
        F.min(F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("v"))).alias("b2")
    )
    keep_ids = (
        scored.crossJoin(F.broadcast(b2))
        .filter(F.col("avg_nll") <= F.col("b2"))
        .select("doc_id")
    )
    ppl_stage = materialize(quality_stage.join(keep_ids, "doc_id", "left_semi"))

    # 5. normalized exact dedup (dedup_exact_normalized's canonical rule)
    clean_text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    exact_keep = (
        ppl_stage.select("doc_id", F.md5(clean_text).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    exact_stage = materialize(
        ppl_stage.join(exact_keep.select("doc_id"), "doc_id", "left_semi")
    )

    # 6. MinHash near-dedup (same LSH params as dedup_near_minhash)
    pairs = minhash_candidate_pairs(exact_stage.select("doc_id", "text"))
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    near_stage = exact_stage.join(losers, "doc_id", "left_anti")

    stages = [
        ("0_raw", docs),
        ("1_url_dedup", url_stage),
        ("2_langid", lang_stage),
        ("3_quality", quality_stage),
        ("4_perplexity_head_middle", ppl_stage),
        ("5_exact_dedup", exact_stage),
        ("6_near_dedup", near_stage),
    ]
    counts = [(name, df.count()) for name, df in stages]
    return spark.createDataFrame(counts, "stage string, n_rows bigint")


# ---------------------------------------------------------------------------
# Naive Bayes language classifier (train/predict, fully declarative)
# ---------------------------------------------------------------------------


@op(
    "ml_naive_bayes_langid",
    sql="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents
    ),
    tr AS (SELECT * FROM tok WHERE doc_id % 3 <> 0 AND tok <> ''),
    te AS (SELECT * FROM tok WHERE doc_id % 3 = 0 AND tok <> ''),
    counts AS (SELECT lang, tok, COUNT(*) AS c FROM tr GROUP BY lang, tok),
    lang_tot AS (SELECT lang, COUNT(*) AS tot FROM tr GROUP BY lang),
    prior AS (
        SELECT lang, COUNT(DISTINCT doc_id) AS nd FROM tr GROUP BY lang
    ),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tr),
    n_train AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tr),
    scored AS (
        SELECT te.doc_id, lt.lang,
               ROUND(
                 ln(CAST(p.nd AS DOUBLE) / nt.n)
                 + SUM(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                          / (lt.tot + vocab.v))),
                 6) AS score
        FROM te
        CROSS JOIN lang_tot lt
        LEFT JOIN counts c ON c.lang = lt.lang AND c.tok = te.tok
        JOIN prior p ON p.lang = lt.lang
        CROSS JOIN vocab CROSS JOIN n_train nt
        GROUP BY te.doc_id, lt.lang, p.nd, nt.n
    ),
    ranked AS (
        SELECT doc_id, lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang) AS rn
        FROM scored
    )
    SELECT r.doc_id, r.lang AS predicted_lang, d.lang AS true_lang
    FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
    WHERE r.rn = 1
    ORDER BY r.doc_id
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Multinomial Naive Bayes, trained AND applied as one declarative
    plan: word-count model per language on the 2/3 train split (add-1
    smoothing), argmax of ln-prior + Σ ln-likelihood on the held-out
    third. The supervised-classification sibling of ml_logreg_gd with
    ZERO iterations and zero Python — NB training IS a groupBy, which is
    why it's the classic first distributed text classifier.

    Plan: one tokenize explode feeds model counts (|langs|×|vocab| rows,
    partial agg) and the scoring join; scoring joins the test stream to
    the model on the token key, aggregates per (doc, lang) — shuffle
    carries doc×lang score rows — and one window takes the argmax.
    Cross-engine determinism: scores ROUND(·,6) BEFORE the argmax
    (ln last-ulp differences can't flip ranks), lang ascending breaks
    exact ties."""
    tok = (
        table(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tr = tok.filter(F.col("doc_id") % 3 != 0)
    te = tok.filter(F.col("doc_id") % 3 == 0)
    counts = tr.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    lang_tot = tr.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    prior = tr.groupBy("lang").agg(F.count_distinct("doc_id").alias("nd"))
    vocab = tr.agg(F.count_distinct("tok").alias("v"))
    n_train = tr.agg(F.count_distinct("doc_id").alias("n"))
    # scoring consumes `langs` (per-language totals) + a broadcast of the
    # sparse `counts` directly — there is deliberately NO joined "model"
    # frame (a counts⋈totals join would materialize |vocab|×|langs| rows
    # for nothing; r10 review removed a dead copy of exactly that)
    langs = lang_tot.join(prior, "lang").crossJoin(F.broadcast(vocab)).crossJoin(
        F.broadcast(n_train)
    )
    scored = (
        te.crossJoin(F.broadcast(langs.select("lang", "tot", "nd", "v", "n").withColumnRenamed("lang", "m_lang")))
        .join(
            F.broadcast(
                counts.withColumnRenamed("lang", "c_lang").withColumnRenamed(
                    "tok", "c_tok"
                )
            ),
            (F.col("m_lang") == F.col("c_lang")) & (F.col("tok") == F.col("c_tok")),
            "left",
        )
        .groupBy("doc_id", "m_lang", "nd", "n", "tot", "v")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("tot") + F.col("v"))
                )
            ).alias("ll")
        )
        .select(
            "doc_id",
            F.col("m_lang").alias("lang"),
            F.round(
                F.log(F.col("nd").cast("double") / F.col("n")) + F.col("ll"), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("predicted_lang"))
    )
    truth = table(spark, sf, "documents").select("doc_id", F.col("lang").alias("true_lang"))
    return pred.join(truth, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# training-shard export (the corpus pipeline's last step)
# ---------------------------------------------------------------------------


@op(
    "sink_training_shards",
    sql="""
    SELECT doc_id % 8 AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY shard
    ORDER BY shard
    """,
)
def sink_training_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard EXPORT — the step that hands the curated corpus to
    the trainer: deterministic shard assignment (doc_id mod N, so a
    re-export bit-reproduces), one gzip JSONL file per shard written BY
    THE EXECUTOR holding that shard's partition (repartition on shard id
    → partitionBy write, no driver funnel), and a driver-side manifest
    carrying each shard's sha256 + doc count — the integrity record a
    training job checks before reading (a truncated shard fails loudly
    at manifest check, not as silent data loss mid-epoch). The returned
    frame re-reads the SHARD FILES and re-aggregates them, and the
    oracle recomputes from the source table — proving the export is
    complete and lossless, not just that files appeared.

    At 100 TB: shard count scales to trainer data-parallel workers,
    assignment stays hash-mod (deterministic, skew-free on uniform ids),
    and the manifest is O(#shards) driver JSON. JSONL+gzip because every
    trainer reads it; content ordered by doc_id within shard so shard
    bytes are stable across re-exports."""
    import glob as _glob
    import gzip as _gzip
    import hashlib as _hashlib
    import json as _json
    import os as _os

    from bpspark.io import build_once

    N_SHARDS = 8
    docs = table(spark, sf, "documents").select(
        "doc_id", "text", (F.col("doc_id") % N_SHARDS).alias("shard")
    )

    def export(out: str) -> None:
        (
            # repartitionByRange, not hash repartition (r10 review): hashing
            # 8 shard values into 8 partitions almost surely collides
            # (birthday bound) — some tasks then gzip 2-3 shards serially
            # while others sit idle. Range partitioning on the already-
            # uniform shard id gives one shard per task; output is identical
            # either way (partitionBy dictates file layout).
            docs.repartitionByRange(N_SHARDS, "shard")
            .sortWithinPartitions("doc_id")
            .select("shard", F.to_json(F.struct("doc_id", "text")).alias("line"))
            .write.partitionBy("shard")
            .option("compression", "gzip")
            .mode("overwrite")
            .text(out)
        )
        manifest = {}
        for d in sorted(_glob.glob(_os.path.join(out, "shard=*"))):
            shard_id = int(d.rsplit("=", 1)[1])
            h = _hashlib.sha256()
            n_lines = 0
            for f in sorted(_glob.glob(_os.path.join(d, "part-*"))):
                with _gzip.open(f, "rb") as fh:
                    for line in fh:
                        h.update(line)
                        n_lines += 1
            manifest[shard_id] = {"sha256": h.hexdigest(), "n_docs": n_lines}
        with open(_os.path.join(out, "_MANIFEST.json"), "w") as fh:
            _json.dump(manifest, fh, sort_keys=True)

    # exported once per process: the shards are a function of the
    # dataset, so a frame an earlier call returned keeps reading them
    out = build_once("shards", sf, export)

    # verification read: the SHARD FILES, not the source
    back = spark.read.schema("doc_id bigint, text string").json(
        [p for p in _glob.glob(_os.path.join(out, "shard=*/part-*"))]
    )
    return (
        back.groupBy((F.col("doc_id") % N_SHARDS).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("shard")
    )


_RESERVOIR_K = 5       # sample size per stratum
_RESERVOIR_SALTS = 8   # phase-1 fan-out guarding the per-stratum window


@op(
    "sample_weighted_reservoir",
    sql=f"""
    WITH keyed AS (
        SELECT lang, doc_id, n_chars,
               ROUND(ln(GREATEST(1e-12,
                        CAST(('0x' || substr(md5('bpspark-res-1:' || doc_id), 1, 8)) AS BIGINT)
                        / 4294967296.0))
                     / n_chars, 9) AS es_key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT lang, doc_id, n_chars, es_key
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn
        FROM keyed
    )
    WHERE rn <= {_RESERVOIR_K}
    ORDER BY lang, doc_id
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted reservoir sample of K docs per language stratum —
    Efraimidis-Spirakis A-ES: each item draws u ~ U(0,1) and the sample
    is the top-K by u^(1/w) (equivalently by ln(u)/w, the monotone form
    used here to avoid pow), giving inclusion probability proportional
    to weight (n_chars: longer documents preferentially sampled) in ONE
    pass with no global sort. u is md5-derived from the doc id, not an
    RNG — the privacy_dp_counts convention: re-runs and retries must
    reproduce the exact sample, and both engines compute the identical
    key (6dp ln + 9dp rounding absorbs last-ulp libm differences;
    doc_id breaks residual ties).

    100 TB shape: A-ES is THE distributed weighted-sampling algorithm —
    the top-K-by-key reduction is associative, so it partial-aggregates
    map-side. Implemented as two-phase top-K to dodge the few-huge-
    strata window skew: phase 1 takes the top-K within (stratum, salt)
    — {_RESERVOIR_SALTS}-way fan-out, each window a fraction of the
    stratum — phase 2 re-ranks the surviving K·salts rows per stratum.
    Salting changes nothing semantically (top-K of a union = top-K of
    per-part top-Ks)."""
    d = table(spark, sf, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("bpspark-res-1:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    keyed = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(
            F.log(F.greatest(F.lit(1e-12), u)) / F.col("n_chars"), 9
        ).alias("es_key"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_RESERVOIR_SALTS)).alias("salt"),
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(F.col("es_key").desc(), "doc_id")
    survivors = (
        keyed.withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= _RESERVOIR_K)
    )
    w2 = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _RESERVOIR_K)
        .select("lang", "doc_id", "n_chars", "es_key")
        .orderBy("lang", "doc_id")
    )


@op(
    "privacy_l_diversity",
    sql="""
    WITH divers AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS group_size,
               COUNT(DISTINCT FLOOR(c_acctbal / 1000)) AS l_div
        FROM customer GROUP BY 1, 2
    )
    SELECT c.c_custkey,
           CASE WHEN d.group_size >= 5 AND d.l_div >= 3
                THEN CAST(c.c_nationkey AS VARCHAR) ELSE '*' END AS nation_qi,
           CASE WHEN d.group_size >= 5 AND d.l_div >= 3
                THEN c.c_mktsegment ELSE '*' END AS segment_qi,
           d.group_size, d.l_div
    FROM customer c
    JOIN divers d ON c.c_nationkey = d.c_nationkey
                 AND c.c_mktsegment = d.c_mktsegment
    ORDER BY c.c_custkey
    """,
)
def privacy_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """l-diversity release gate (Machanavajjhala'06, l=3) — the attack
    k-anonymity misses: a QI class can hold k people who all share ONE
    sensitive value, so membership alone discloses it (homogeneity
    attack). Here a (nation, segment) class is released only if it is
    BOTH k-anonymous (≥5 members, privacy_k_anonymize's bar) AND
    l-diverse (≥3 distinct account-balance bands among its members);
    otherwise the quasi-identifiers are suppressed to '*'. Emits the
    per-class group_size and diversity count alongside each row so the
    release is auditable.

    Plan: ONE hash aggregate builds the |QI classes| diversity table
    (count + count-distinct per class — distinct-aggregate expansion is
    bounded by members-per-class), which is broadcast back onto the
    customer scan; a map-side CASE finishes. No window, no second
    shuffle of the fact table. At 100 TB the class table is thousands
    of rows and the released scan stays one pass — the same shape as
    privacy_k_anonymize, so a generalization-lattice anonymizer can
    iterate both gates per candidate banding at one aggregate each."""
    c = table(spark, sf, "customer")
    divers = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct(F.floor(F.col("c_acctbal") / 1000)).alias("l_div"),
    )
    ok = (F.col("group_size") >= 5) & (F.col("l_div") >= 3)
    return (
        c.select("c_custkey", "c_nationkey", "c_mktsegment")
        .join(F.broadcast(divers), ["c_nationkey", "c_mktsegment"])
        .select(
            "c_custkey",
            F.when(ok, F.col("c_nationkey").cast("string")).otherwise("*").alias("nation_qi"),
            F.when(ok, F.col("c_mktsegment")).otherwise("*").alias("segment_qi"),
            "group_size",
            "l_div",
        )
        .orderBy("c_custkey")
    )


@op(
    "privacy_t_closeness",
    sql="""
    WITH banded AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               FLOOR(c_acctbal / 1000) AS band
        FROM customer
    ),
    gband AS (
        SELECT band, COUNT(*) AS g FROM banded GROUP BY band
    ),
    gcum AS (
        SELECT band, CAST(SUM(g) OVER (ORDER BY band) AS BIGINT) AS gc,
               (SELECT COUNT(*) FROM banded) AS n_total,
               (SELECT COUNT(*) FROM gband) AS n_bands
        FROM gband
    ),
    classes AS (
        SELECT nat, seg, COUNT(*) AS group_size FROM banded GROUP BY nat, seg
    ),
    grid AS (
        SELECT c.nat, c.seg, c.group_size, g.band, g.gc, g.n_total, g.n_bands
        FROM classes c CROSS JOIN gcum g
    ),
    cband AS (
        SELECT nat, seg, band, COUNT(*) AS a FROM banded GROUP BY nat, seg, band
    ),
    cells AS (
        SELECT grid.*,
               CAST(SUM(COALESCE(cband.a, 0)) OVER (
                   PARTITION BY grid.nat, grid.seg ORDER BY grid.band
               ) AS BIGINT) AS ac
        FROM grid LEFT JOIN cband
          ON grid.nat = cband.nat AND grid.seg = cband.seg AND grid.band = cband.band
    ),
    emd AS (
        SELECT nat, seg, group_size,
               CAST(SUM(ABS(ac * n_total - gc * group_size)) AS BIGINT) AS emd_num,
               CAST(group_size * n_total * GREATEST(n_bands - 1, 1) AS BIGINT) AS emd_den
        FROM cells GROUP BY nat, seg, group_size, n_total, n_bands
    )
    SELECT CAST(nat AS BIGINT) AS nat, seg, CAST(group_size AS BIGINT) AS group_size,
           emd_num, emd_den,
           CAST(emd_num AS DOUBLE) / CAST(emd_den AS DOUBLE) AS emd,
           group_size >= 5 AND
           CAST(emd_num AS DOUBLE) / CAST(emd_den AS DOUBLE) <= 0.2 AS released
    FROM emd ORDER BY nat, seg
    """,
)
def privacy_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE'07, t=0.2) —
    completes the classic privacy trio next to privacy_k_anonymize and
    privacy_l_diversity: l-diversity still leaks when a class's
    sensitive values are diverse but SKEWED versus the population
    (skewness attack), so each (nation, segment) QI class is gated on
    the Earth Mover's Distance between its account-balance-band
    distribution and the global one (ordered-attribute EMD = mean
    absolute cumulative-distribution gap).

    Cross-engine float discipline: the EMD is computed as EXACT
    integers — numerator Σ_bands |A_i·n − G_i·n_c| over cumulative
    counts, denominator n_c·n·(B−1) — and emitted as ONE IEEE division
    of those integers, so the value is bit-identical in Spark and
    DuckDB (both integer columns are also emitted, making the audit
    replayable). At sf scales the numerator fits BIGINT comfortably; at
    true 100 TB population sizes promote the two products to
    DECIMAL(38,0) — the shape (two tiny aggregates + a |classes|×|bands|
    grid join + per-class window cumsum) is unchanged.

    Plan: one groupBy builds per-(class, band) counts, one builds the
    global band histogram; the |classes|×|bands| grid (hundreds of
    rows) is a broadcast cross join; cumsums are windows over the tiny
    grid, never over the fact table — the customer scan happens exactly
    twice and everything downstream is dimension-sized."""
    banded = table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).alias("band"),
    )
    gband = banded.groupBy("band").agg(F.count(F.lit(1)).alias("g"))
    wg = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, 0)
    totals = gband.agg(
        F.sum("g").alias("n_total"), F.count(F.lit(1)).alias("n_bands")
    )
    gcum = gband.select("band", F.sum("g").over(wg).alias("gc")).crossJoin(
        F.broadcast(totals)
    )
    classes = banded.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    grid = classes.crossJoin(F.broadcast(gcum))
    cband = banded.groupBy("nat", "seg", "band").agg(F.count(F.lit(1)).alias("a"))
    wc = (
        Window.partitionBy("nat", "seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cells = grid.join(cband, ["nat", "seg", "band"], "left").select(
        "nat", "seg", "group_size", "gc", "n_total", "n_bands",
        F.sum(F.coalesce(F.col("a"), F.lit(0))).over(wc).alias("ac"),
    )
    emd = cells.groupBy("nat", "seg", "group_size", "n_total", "n_bands").agg(
        F.sum(
            F.abs(F.col("ac") * F.col("n_total") - F.col("gc") * F.col("group_size"))
        ).alias("emd_num")
    )
    emd_den = (
        F.col("group_size") * F.col("n_total") * F.greatest(F.col("n_bands") - 1, F.lit(1))
    ).cast("long")
    emd_val = F.col("emd_num").cast("double") / F.col("emd_den").cast("double")
    return (
        emd.select(
            F.col("nat").cast("long").alias("nat"),
            "seg",
            F.col("group_size").cast("long").alias("group_size"),
            F.col("emd_num").cast("long").alias("emd_num"),
            emd_den.alias("emd_den"),
        )
        .select(
            "nat", "seg", "group_size", "emd_num", "emd_den",
            emd_val.alias("emd"),
            ((F.col("group_size") >= 5) & (emd_val <= 0.2)).alias("released"),
        )
        .orderBy("nat", "seg")
    )


@op(
    "sample_neyman_allocation",
    sql="""
    WITH mo AS (
        SELECT o_orderpriority,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS syy
        FROM orders GROUP BY 1
    ),
    sig AS (
        SELECT *,
               sqrt((syy - sy * sy / n_rows) / (n_rows - 1)) AS sigma
        FROM mo
    ),
    wts AS (
        SELECT *, CAST(ROUND(n_rows * sigma, 4) AS DECIMAL(18,4)) AS w FROM sig
    ),
    tot AS (SELECT SUM(w) AS wsum FROM wts),
    alloc AS (
        SELECT wts.*, CAST(FLOOR(1000 * CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)) AS BIGINT) AS n_alloc
        FROM wts, tot
    ),
    ranked AS (
        SELECT o_orderpriority, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT),
                            o_orderkey) AS rk
        FROM orders
    ),
    est AS (
        SELECT r.o_orderpriority,
               CAST(SUM(CAST(r.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ssum,
               COUNT(*) AS n_drawn
        FROM ranked r JOIN alloc a ON r.o_orderpriority = a.o_orderpriority
        WHERE r.rk <= a.n_alloc
        GROUP BY 1
    )
    SELECT a.o_orderpriority AS stratum, a.n_rows,
           ROUND(a.sigma, 6) AS sigma, a.n_alloc,
           e.n_drawn,
           ROUND(e.ssum / e.n_drawn, 4) AS est_mean,
           ROUND(a.sy / a.n_rows, 4) AS true_mean
    FROM alloc a JOIN est e ON a.o_orderpriority = e.o_orderpriority
    ORDER BY stratum
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal stratified sampling (Neyman 1934, the survey-
    sampling allocation every stratified estimator wants): a total
    budget of 1000 draws is split across order-priority strata
    ∝ N_h·σ_h — big, high-variance strata get the samples; uniform
    allocation wastes budget on quiet strata. The whole chain is
    hash-certified: exact DECIMAL moments → σ_h (one sqrt over exact
    sums), weights snapped to DECIMAL(18,4) before the cross-stratum
    sum (5-float addition order would otherwise fork engines), FLOOR
    allocation, then the draw itself is the md5-rank trick (top-n_h by
    md5(o_orderkey) per stratum) — seeded inverse-CDF-style sampling,
    reproducible across engines, retries, and re-runs, so even the
    sampled means hash-match. Output: per-stratum size, σ, allocation,
    drawn count, sampled vs true mean.

    Plan: ONE aggregate pass for moments (map-side combined,
    |strata| rows), one window for the ranked draw (shuffle on the
    stratum key), one broadcast join of the |strata| allocation table.
    At 100 TB the moments pass rides any existing scan; the md5 rank
    needs no global state — the standard trick that replaces a
    distributed RNG."""
    o = table(spark, sf, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    mo = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((F.col("o_totalprice") * F.col("o_totalprice")).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
    )
    sig = mo.withColumn(
        "sigma",
        F.sqrt(
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n_rows"))
            / (F.col("n_rows") - 1)
        ),
    )
    wts = sig.withColumn("w", F.round(F.col("n_rows") * F.col("sigma"), 4).cast("decimal(18,4)"))
    tot = wts.agg(F.sum("w").alias("wsum"))
    alloc = wts.crossJoin(F.broadcast(tot)).withColumn(
        "n_alloc",
        F.floor(1000 * F.col("w").cast("double") / F.col("wsum").cast("double")).cast("long"),
    )
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10).cast("long")
    rk = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(h, "o_orderkey")
    )
    ranked = o.select("o_orderpriority", "o_totalprice", rk.alias("rk"))
    est = (
        ranked.join(
            F.broadcast(alloc.select("o_orderpriority", "n_alloc")), "o_orderpriority"
        )
        .filter(F.col("rk") <= F.col("n_alloc"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("ssum"),
            F.count(F.lit(1)).alias("n_drawn"),
        )
    )
    return (
        alloc.join(est, "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("stratum"),
            "n_rows",
            F.round("sigma", 6).alias("sigma"),
            "n_alloc",
            "n_drawn",
            F.round(F.col("ssum") / F.col("n_drawn"), 4).alias("est_mean"),
            F.round(F.col("sy") / F.col("n_rows"), 4).alias("true_mean"),
        )
        .orderBy("stratum")
    )


_PSEUD_KEY = "bpspark-pseud-v1"


@op(
    "privacy_pseudonymize_consistent",
    sql=f"""
    WITH c AS (
        SELECT 'c_' || substr(md5('{_PSEUD_KEY}:' || CAST(c_custkey AS VARCHAR)), 1, 12)
                   AS cust_token
        FROM customer
    ),
    o AS (
        SELECT 'c_' || substr(md5('{_PSEUD_KEY}:' || CAST(o_custkey AS VARCHAR)), 1, 12)
                   AS cust_token,
               o_totalprice
        FROM orders
    )
    SELECT c.cust_token AS cust_token,
           COUNT(o.cust_token) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM c LEFT JOIN o ON o.cust_token = c.cust_token
    GROUP BY 1
    ORDER BY c.cust_token
    """,
)
def privacy_pseudonymize_consistent(spark: SparkSession, sf: str) -> DataFrame:
    """Consistent keyed pseudonymization — the release technique when
    downstream still needs JOINS (redaction, text_pii_redact's job,
    destroys them): every identifier is replaced by a keyed-hash token,
    so the same customer maps to the same token in EVERY table and
    analytics run entirely in token space, while the raw key never
    leaves the boundary. Demonstrated end-to-end: customer and orders
    are tokenized independently, then joined ON THE TOKEN — the
    per-token order counts and DECIMAL-exact revenue equal the raw-key
    join's, which is precisely the property the technique promises (and
    what the oracle hash-certifies, since DuckDB derives the identical
    md5 tokens). Customers with no orders survive the left join with
    n_orders = 0 — pseudonymization must not drop population.

    The token is md5(secret_key || id) — deterministic across engines,
    retries, and tables (in production the key lives in a KMS and
    rotation re-keys the release, not the source). Plan: two map-side
    token projections + one equi-join on the token (hash-partitioned
    exactly like the raw key would be — tokenization changes NOTHING
    about the join strategy or skew profile at 100 TB) + one aggregate."""
    key = F.lit(_PSEUD_KEY + ":")
    c = table(spark, sf, "customer").select(
        F.concat(F.lit("c_"), F.substring(F.md5(F.concat(key, F.col("c_custkey").cast("string"))), 1, 12)).alias("cust_token")
    )
    o = table(spark, sf, "orders").select(
        F.concat(F.lit("c_"), F.substring(F.md5(F.concat(key, F.col("o_custkey").cast("string"))), 1, 12)).alias("cust_token"),
        "o_totalprice",
    )
    return (
        c.join(o.withColumnRenamed("cust_token", "o_tok"), c.cust_token == F.col("o_tok"), "left")
        .groupBy("cust_token")
        .agg(
            F.count("o_tok").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("cust_token")
    )
