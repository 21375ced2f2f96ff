"""Invariant tests for the data-selection & privacy ops (selection.py).

Oracle parity for the SQL-expressible ops is covered by
test_oracle_parity.py; these tests pin the semantic claims the oracles
can't express: SemDeDup recall on planted twins, DSIR's direction,
k-anonymity's guarantee, DP noise bounds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import bpspark
from tests.conftest import SF_SMALL
from tests.oracle_compare import compare_frames

OPS = bpspark.all_ops()


def test_semdedup_drops_planted_twins(spark):
    """Planted near-identical twins (cosine ≈ 0.95 > τ=0.9) must land in
    their original's cluster and be pruned — the SemDeDup recall claim."""
    pdf = OPS["dedup_semdedup"].fn(spark, SF_SMALL).toPandas()
    twins = pdf[pdf.vec_id >= 1_000_000]
    assert len(twins) == 25
    dropped = (~twins.kept).sum()
    # coarse k-means can split a twin pair across clusters occasionally;
    # measured 24/25 at sf0.001
    assert dropped >= 20, f"only {dropped}/25 planted twins pruned"


def test_semdedup_kept_set_has_no_close_pair_within_cluster(spark):
    """After pruning, no two KEPT vectors in the same cluster may still
    exceed the cosine threshold — the defining postcondition."""
    import numpy as np

    from bpspark.llm_ops import _embeddings_with_planted_twins

    res = OPS["dedup_semdedup"].fn(spark, SF_SMALL).toPandas()
    emb = _embeddings_with_planted_twins(spark, SF_SMALL).toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in emb.itertuples()}
    kept = res[res.kept]
    for cl, grp in kept.groupby("cluster_id"):
        ids = sorted(grp.vec_id)
        mats = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
        sims = mats @ mats.T
        np.fill_diagonal(sims, 0.0)
        assert sims.max() < 0.9 + 1e-9, f"cluster {cl} still has a close kept pair"


def test_semdedup_dropped_points_at_kept_canonical(spark):
    """Every dropped vector's dup_of must reference a SURVIVOR — chains
    (B→A, C→B) must resolve to the kept component root, never to another
    dropped vector."""
    res = OPS["dedup_semdedup"].fn(spark, SF_SMALL).toPandas()
    kept_ids = set(res[res.kept].vec_id)
    dropped = res[~res.kept]
    assert set(dropped.dup_of).issubset(kept_ids), (
        "dup_of must reference a KEPT vector"
    )
    # canonical is always the smaller id (keep-first rule)
    assert (dropped.dup_of < dropped.vec_id).all()


def test_dsir_scores_target_language_higher(spark):
    """The importance ratio must tilt toward the target slice: mean
    avg_llr of lang='en' docs above the non-en mean."""
    d = OPS["sample_importance_dsir"].fn(spark, SF_SMALL).toPandas()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang")
        .toPandas()
    )
    m = d.merge(docs, on="doc_id")
    en = m[m.lang == "en"].avg_llr.mean()
    other = m[m.lang != "en"].avg_llr.mean()
    assert en > other, f"en mean {en} not above non-en mean {other}"


def test_perplexity_buckets_are_tertiles(spark):
    b = OPS["sample_perplexity_buckets"].fn(spark, SF_SMALL).toPandas()
    n = len(b)
    counts = b.bucket.value_counts()
    for name in ("head", "middle", "tail"):
        # value-boundary buckets: ties straddle, so sizes are n/3 ± ties
        assert abs(counts.get(name, 0) - n / 3) <= max(5, n * 0.05), counts.to_dict()
    # head must hold the LOWEST perplexity third
    assert b[b.bucket == "head"].avg_nll.max() <= b[b.bucket == "tail"].avg_nll.min()


def test_k_anonymize_guarantee(spark):
    """Every released (non-suppressed) QI combination must be shared by
    at least k=5 rows — the definition of k-anonymity."""
    r = OPS["privacy_k_anonymize"].fn(spark, SF_SMALL).toPandas()
    released = r[r.nation_qi != "*"]
    if len(released):
        sizes = released.groupby(["nation_qi", "segment_qi", "balance_qi"]).size()
        assert (sizes >= 5).all(), sizes[sizes < 5]
    # suppression is all-or-nothing across the QI triple
    supp = r[r.nation_qi == "*"]
    assert (supp.segment_qi == "*").all() and (supp.balance_qi == "*").all()


def test_dp_counts_noise_bounded_and_nonzero(spark):
    r = OPS["privacy_dp_counts"].fn(spark, SF_SMALL).toPandas()
    err = (r.noisy_n - r.true_n).abs()
    # Laplace(1/ε=1) clamped at ln(1e12) ≈ 27.6
    assert (err <= 30).all()
    assert (err > 0).any(), "seeded noise must actually perturb"


def test_dp_counts_deterministic(spark):
    a = OPS["privacy_dp_counts"].fn(spark, SF_SMALL).toPandas()
    b = OPS["privacy_dp_counts"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)


def test_web_corpus_funnel_monotone_and_stage_parity(spark):
    """The web-corpus funnel must be non-increasing stage to stage, and
    its URL-dedup stage must agree with the standalone op's keep set."""
    pdf = OPS["pipeline_web_corpus"].fn(spark, SF_SMALL).toPandas()
    counts = dict(zip(pdf.stage, pdf.n_rows))
    order = [
        "0_raw", "1_url_dedup", "2_langid", "3_quality",
        "4_perplexity_head_middle", "5_exact_dedup", "6_near_dedup",
    ]
    assert list(pdf.stage) == order
    vals = [counts[s] for s in order]
    assert all(a >= b for a, b in zip(vals, vals[1:])), counts
    assert vals[-1] > 0
    # URL stage == number of canonical groups from the standalone op
    url_groups = OPS["dedup_url_canonicalized"].fn(spark, SF_SMALL).count()
    assert counts["1_url_dedup"] == url_groups
    # perplexity stage keeps ~2/3 (value-boundary ties may push it over)
    assert counts["4_perplexity_head_middle"] <= counts["3_quality"]


def test_web_corpus_deterministic(spark):
    a = OPS["pipeline_web_corpus"].fn(spark, SF_SMALL).toPandas()
    b = OPS["pipeline_web_corpus"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)


def test_canonicalize_url_handles_bare_urls_under_ansi(spark):
    """Real-world URLs without a query string or scheme must canonicalize,
    not throw — under ANSI mode element_at raises on out-of-bounds, so
    the helper must use try_element_at."""
    from pyspark.sql import functions as F

    from bpspark.selection import _canonicalize_url

    df = spark.createDataFrame(
        [("HTTPS://Site.COM/path",), ("https://x.com",), ("mailto:a@b.c",), ("",)],
        "url string",
    ).select(_canonicalize_url(F.col("url")).alias("c"))
    rows = [r["c"] for r in df.collect()]
    assert rows[0] == "https://site.com/path"
    assert rows[1] == "https://x.com"
    assert rows[2].startswith("mailto:a@b.c")


def test_naive_bayes_beats_chance(spark):
    """The synthetic corpus's lang label is only weakly encoded in the
    text, but NB must still beat the chance rate by a clear margin."""
    pdf = OPS["ml_naive_bayes_langid"].fn(spark, SF_SMALL).toPandas()
    acc = (pdf.predicted_lang == pdf.true_lang).mean()
    n_langs = pdf.true_lang.nunique()
    assert acc > 1.5 / n_langs, f"accuracy {acc:.3f} vs chance {1/n_langs:.3f}"


def test_training_shards_bit_reproducible(spark):
    """Two independent exports must produce byte-identical shards — the
    manifest sha256s prove it (deterministic assignment + within-shard
    doc_id ordering)."""
    import json
    import os
    import shutil

    from bpspark.io import state_dir

    # the op exports once per process into its state dir; removing the
    # published dir before each call makes both calls real exports
    out = state_dir("shards", SF_SMALL)
    manifests = []
    for _ in range(2):
        shutil.rmtree(out, ignore_errors=True)
        OPS["sink_training_shards"].fn(spark, SF_SMALL).collect()
        manifests.append(json.load(open(os.path.join(out, "_MANIFEST.json"))))
    assert manifests[0] == manifests[1]
    assert len(manifests[0]) == 8
    assert all(v["n_docs"] > 0 for v in manifests[0].values())


def test_weighted_reservoir_invariants(spark):
    """A-ES weighted reservoir: exactly K docs per language stratum,
    deterministic across runs, and the salted two-phase top-K must equal
    the plain single-window top-K (salting is a physical rewrite only).
    The weight bias is structural: sampled docs skew longer than the
    stratum average."""
    from bpspark.selection import _RESERVOIR_K

    a = OPS["sample_weighted_reservoir"].fn(spark, SF_SMALL).toPandas()
    b = OPS["sample_weighted_reservoir"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)
    per = a.groupby("lang").size()
    assert (per == _RESERVOIR_K).all(), per.to_dict()

    # reference single-window form (no salt) over the same keyed frame
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("bpspark-res-1:"), F.col("doc_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") / F.lit(4294967296.0)
    )
    keyed = d.select(
        "lang", "doc_id", "n_chars",
        F.round(F.log(F.greatest(F.lit(1e-12), u)) / F.col("n_chars"), 9).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    ref = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RESERVOIR_K)
        .select("lang", "doc_id", "n_chars", "es_key")
        .orderBy("lang", "doc_id")
        .toPandas()
    )
    assert a.equals(ref)

    corpus_avg = d.agg(F.avg("n_chars")).collect()[0][0]
    assert a.n_chars.mean() > corpus_avg, (
        f"weighting has no effect: sample mean {a.n_chars.mean():.0f} "
        f"vs corpus {corpus_avg:.0f}"
    )


def test_hybrid_rrf_fusion_invariants(spark):
    """RRF fusion: 10 rows, scores in (0, 2/(60+1)], sorted desc with
    doc_id tiebreak, deterministic, and every fused doc must come from a
    retriever leg (lexical BM25 top-20 or dense cosine top-20)."""
    rows1 = OPS["search_hybrid_rrf"].fn(spark, SF_SMALL).collect()
    rows2 = OPS["search_hybrid_rrf"].fn(spark, SF_SMALL).collect()
    assert rows1 == rows2
    assert len(rows1) == 10
    scores = [r.rrf for r in rows1]
    assert all(0 < s <= 2 / 61 + 1e-9 for s in scores)
    assert scores == sorted(scores, reverse=True)
    # the lexical rank-1 doc scores exactly 1/61 from that leg alone, so
    # it can only miss the fused top-10 if ten docs scored strictly higher
    # (i.e. were ranked by BOTH legs — legitimate outcompetition). On this
    # corpus text and embeddings are independent, so the legs are disjoint
    # and both rank-1 docs must surface.
    bm25_top = OPS["text_bm25_rank"].fn(spark, SF_SMALL).collect()[0].doc_id
    fused_ids = {r.doc_id for r in rows1}
    outcompeted = sum(1 for s in scores if s > 1 / 61 + 1e-9) >= 10
    assert bm25_top in fused_ids or outcompeted


def test_crossencoder_rerank_contract(spark):
    """Retrieve-then-rerank: the reranker must score EXACTLY the hybrid
    candidate set (never widen retrieval), rank_ce must be a dense
    permutation ordered by (ce_score desc, rrf desc, doc_id), scores
    must be bounded by the feature construction (coverage <= 1 plus the
    dampened-tf term >= 0), and a doc containing ALL query terms must
    outrank one containing none."""
    cands = {r.doc_id: r.rrf for r in OPS["search_hybrid_rrf"].fn(spark, SF_SMALL).collect()}
    rer = OPS["search_crossencoder_rerank"].fn(spark, SF_SMALL).collect()
    assert {r.doc_id for r in rer} == set(cands)
    assert [r.rank_ce for r in rer] == list(range(1, len(rer) + 1))
    for r in rer:
        assert abs(r.rrf - cands[r.doc_id]) < 1e-12
        assert r.ce_score >= 0.0
    keys = [(-r.ce_score, -r.rrf, r.doc_id) for r in rer]
    assert keys == sorted(keys)
    # determinism across runs (Arrow batch boundaries must not matter)
    again = OPS["search_crossencoder_rerank"].fn(spark, SF_SMALL).collect()
    assert rer == again


def test_bm25_incremental_append_only_and_reuse(spark, tmp_path):
    """Segment model contract: appending segment 1 must not rewrite a
    byte of segment 0 (append-only index maintenance — the whole point
    vs a rebuild), and the registered op's second call must answer from
    the persisted index (reuse path) with identical output. Merged-
    segment ≡ full-corpus scoring is the op's DuckDB oracle
    (test_oracle_parity) — this test covers what the oracle can't see:
    the on-disk maintenance behavior."""
    import glob
    import os

    from bpspark.io import table
    from bpspark.search import _bm25_build_segment

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    s0, s1 = str(tmp_path / "seg=0"), str(tmp_path / "seg=1")
    _bm25_build_segment(d.filter(F.pmod("doc_id", F.lit(5)) != 0), s0)
    before = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{s0}/**/*.parquet", recursive=True)
    }
    assert before  # segment 0 materialized something
    _bm25_build_segment(d.filter(F.pmod("doc_id", F.lit(5)) == 0), s1)
    after = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{s0}/**/*.parquet", recursive=True)
    }
    assert after == before, "building segment 1 touched segment 0 files"

    a = OPS["search_bm25_incremental"].fn(spark, SF_SMALL).toPandas()
    b = OPS["search_bm25_incremental"].fn(spark, SF_SMALL).toPandas()  # reuse path
    assert not compare_frames(a, b, "bm25_incremental_reuse")
    assert len(a) == 10 and a["bm25"].is_monotonic_decreasing


def test_bm25_segment_merge_equals_multisegment_and_preserves_sources(spark, tmp_path):
    """The compaction contract: (a) querying the ONE merged segment must
    return exactly the multi-segment query's rows (merge moved statistics
    without changing any — merged ≡ live segments; the op's DuckDB oracle
    separately proves merged ≡ whole-corpus rebuild), (b) the merge reads
    segment files only and leaves the source segments byte-untouched
    (mtime-pinned — merge is not a rebuild), (c) a merged segment is
    itself a segment: the same read path serves it (closure under merge,
    Lucene's tiered-compaction invariant)."""
    import glob
    import os

    from bpspark.io import table
    from bpspark.search import (
        _MERGE_QUERY_TERMS,
        _bm25_build_segment,
        _bm25_merge_segments,
        _bm25_query_segments,
    )

    d = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    s0, s1 = str(tmp_path / "seg=0"), str(tmp_path / "seg=1")
    merged = str(tmp_path / "merged")
    _bm25_build_segment(d.filter(F.pmod("doc_id", F.lit(5)) != 0), s0)
    _bm25_build_segment(d.filter(F.pmod("doc_id", F.lit(5)) == 0), s1)
    before = {
        p: os.stat(p).st_mtime_ns
        for s in (s0, s1)
        for p in glob.glob(f"{s}/**/*.parquet", recursive=True)
    }
    _bm25_merge_segments(spark, [s0, s1], merged)
    after = {
        p: os.stat(p).st_mtime_ns
        for s in (s0, s1)
        for p in glob.glob(f"{s}/**/*.parquet", recursive=True)
    }
    assert after == before, "merge touched source segment files"

    terms = list(_MERGE_QUERY_TERMS)
    live = _bm25_query_segments(spark, [s0, s1], terms).toPandas()
    compacted = _bm25_query_segments(spark, [merged], terms).toPandas()
    assert not compare_frames(compacted, live, "bm25_merged_vs_live")
    # compaction actually consolidated: one postings file vs >= 2
    assert len(glob.glob(f"{merged}/postings/*.parquet")) == 1

    a = OPS["search_bm25_segment_merge"].fn(spark, SF_SMALL).toPandas()
    b = OPS["search_bm25_segment_merge"].fn(spark, SF_SMALL).toPandas()  # reuse
    assert not compare_frames(a, b, "bm25_segment_merge_reuse")
    assert len(a) == 10 and a["bm25"].is_monotonic_decreasing


def test_bm25_oracle_single_source():
    """Every BM25-family oracle must be the one formula: all four ops
    take their oracle SQL from _bm25_oracle with their own query terms."""
    from bpspark.search import (
        _INC_QUERY_TERMS,
        _MERGE_QUERY_TERMS,
        _QUERY_TERMS,
        _bm25_oracle,
    )
    from bpspark.streaming import _SBM25_QUERY_TERMS

    assert OPS["text_bm25_rank"].sql == _bm25_oracle(_QUERY_TERMS)
    assert OPS["search_bm25_incremental"].sql == _bm25_oracle(_INC_QUERY_TERMS)
    assert OPS["search_bm25_segment_merge"].sql == _bm25_oracle(_MERGE_QUERY_TERMS)
    assert OPS["stream_bm25_index_append"].sql == _bm25_oracle(_SBM25_QUERY_TERMS)


# ---------------------------------------------------------------------------
# rag_context_pack
# ---------------------------------------------------------------------------


def test_context_pack_budget_and_prefix_maximality(spark):
    """The packed context per query must (a) respect the token budget,
    (b) be a contiguous rank prefix (1..n, no gaps — prefix packing, not
    skip packing), and (c) be MAXIMAL: the first excluded candidate
    would overflow the budget."""
    from bpspark.search import _RAG_CONTEXT_BUDGET_TOKENS

    pdf = OPS["rag_context_pack"].fn(spark, SF_SMALL).toPandas()
    assert set(pdf["query"]) == {"vector", "merge", "stream"}
    for q, g in pdf.groupby("query"):
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == list(range(1, len(g) + 1)), q
        assert (g["cum_tokens"] == g["n_tokens"].cumsum()).all(), q
        assert g["cum_tokens"].iloc[-1] <= _RAG_CONTEXT_BUDGET_TOKENS, q
        # relevance order is respected: tf non-increasing down the ranks
        assert (g["tf"].diff().dropna() <= 0).all(), q

    # maximality: recompute the full ranked candidate list without the
    # budget filter and check the first excluded doc overflows
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    full = (
        tok.filter(F.col("tok").isin("vector", "merge", "stream"))
        .groupBy(F.col("tok").alias("query"), "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(
            d.select("doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tokens")),
            "doc_id",
        )
        .toPandas()
    )
    for q, g in full.groupby("query"):
        g = g.sort_values(["tf", "doc_id"], ascending=[False, True]).reset_index(drop=True)
        packed_n = int((pdf["query"] == q).sum())
        if packed_n < len(g):
            overflow = g["n_tokens"].iloc[: packed_n + 1].sum()
            assert overflow > _RAG_CONTEXT_BUDGET_TOKENS, q


def test_l_diversity_release_invariant(spark):
    """Released rows must satisfy BOTH gates (k≥5, l≥3); suppressed rows
    must violate at least one — and sf0.001 must actually exercise the
    suppression branch."""
    pdf = OPS["privacy_l_diversity"].fn(spark, SF_SMALL).toPandas()
    released = pdf[pdf["nation_qi"] != "*"]
    suppressed = pdf[pdf["nation_qi"] == "*"]
    assert len(suppressed) > 0
    assert ((released["group_size"] >= 5) & (released["l_div"] >= 3)).all()
    assert ((suppressed["group_size"] < 5) | (suppressed["l_div"] < 3)).all()
    # suppression is all-or-nothing per column pair
    assert (suppressed["segment_qi"] == "*").all()
    assert (released["segment_qi"] != "*").all()


def test_neyman_allocation_properties(spark):
    """Allocation must be FLOOR(1000·w_h/Σw) on 4dp-snapped weights,
    total ≤ 1000, and the draw must fill every allocation exactly."""
    import math

    pdf = OPS["sample_neyman_allocation"].fn(spark, SF_SMALL).toPandas()
    w = (pdf["n_rows"] * pdf["sigma"]).round(4)
    want_alloc = (1000 * w / w.sum()).apply(math.floor)
    assert list(pdf["n_alloc"]) == list(want_alloc)
    assert pdf["n_alloc"].sum() <= 1000
    assert (pdf["n_drawn"] == pdf["n_alloc"]).all()


def test_sorted_neighborhood_planted_recall_and_window(spark):
    """Every planted key-dirty variant must pair with its source (hash
    blocking on the name-derived key would miss them all), and every
    emitted pair must come from within the sliding window of the same
    prefix block (pandas replica of the rank geometry)."""
    import pandas as pd

    pdf = OPS["er_sorted_neighborhood"].fn(spark, SF_SMALL).toPandas()
    sup = pd.read_parquet(f"{SF_SMALL}/supplier.parquet")
    n_planted = int((sup["s_suppkey"] < 15).sum())
    planted = pdf[(pdf["id_b"] - pdf["id_a"]) == 1_000_000]
    assert len(planted) == n_planted
    assert (planted["lev"] == 1).all() and planted["nat_match"].all()

    recs = pd.concat([
        sup.rename(columns={"s_suppkey": "id", "s_name": "name"})[["id", "name"]],
        sup[sup["s_suppkey"] < 15].assign(
            id=lambda d: d["s_suppkey"] + 1_000_000,
            name=lambda d: d["s_name"] + "x",
        )[["id", "name"]],
    ])
    recs["k"] = recs["name"].str.lower().str.replace("[^a-z0-9]", "", regex=True)
    recs["blk"] = recs["k"].str[:15]
    recs = recs.sort_values(["blk", "k", "id"]).reset_index(drop=True)
    recs["rn"] = recs.groupby("blk").cumcount()
    pos = dict(zip(recs["id"], zip(recs["blk"], recs["rn"])))
    for _, r in pdf.iterrows():
        ba, ra = pos[r["id_a"]]
        bb, rb = pos[r["id_b"]]
        assert ba == bb and 1 <= abs(ra - rb) <= 4, (r["id_a"], r["id_b"])


def test_pseudonymize_token_space_equals_raw_key_space(spark):
    """The token-space join must reproduce the raw-key join exactly
    (consistency + collision-freedom on this population), with tokens
    derived via the keyed hash."""
    import hashlib

    import pandas as pd

    pdf = OPS["privacy_pseudonymize_consistent"].fn(spark, SF_SMALL).toPandas()
    cust = pd.read_parquet(f"{SF_SMALL}/customer.parquet")
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")

    def tok(k):
        return "c_" + hashlib.md5(f"bpspark-pseud-v1:{k}".encode()).hexdigest()[:12]

    want = (
        orders.assign(cust_token=orders["o_custkey"].map(tok))
        .groupby("cust_token")
        .agg(n_orders=("o_custkey", "size"),
             total_price=("o_totalprice", lambda s: round(s.round(2).sum(), 2)))
    )
    # every customer appears exactly once; tokens collide for no one
    assert len(pdf) == len(cust)
    assert pdf["cust_token"].is_unique
    got = pdf.set_index("cust_token")
    for t, row in want.iterrows():
        assert got.loc[t, "n_orders"] == row["n_orders"], t
        assert abs(got.loc[t, "total_price"] - row["total_price"]) < 1e-6, t


def test_er_incremental_oracle_single_sourced_and_merges(spark):
    """The incremental op's oracle must be byte-identical to the batch
    op's full-recompute SQL (equivalence IS the certification), the
    late batch must BRIDGE existing entities (every key<8 entity holds
    the base pair AND the batch record — the 3-member chain), and the
    output must equal er_resolve_entities row-for-row."""
    from bpspark.llm_ops import _ER_FULL_RECOMPUTE_SQL

    # all three ER forms now share the constant by reference
    assert OPS["er_resolve_entities"].sql is _ER_FULL_RECOMPUTE_SQL
    assert OPS["er_incremental_resolve"].sql is _ER_FULL_RECOMPUTE_SQL
    assert OPS["stream_er_resolve"].sql is _ER_FULL_RECOMPUTE_SQL

    inc = (
        OPS["er_incremental_resolve"].fn(spark, SF_SMALL).toPandas()
        .sort_values(["entity_id", "member_id"]).reset_index(drop=True)
    )
    full = (
        OPS["er_resolve_entities"].fn(spark, SF_SMALL).toPandas()
        .sort_values(["entity_id", "member_id"]).reset_index(drop=True)
    )
    assert inc.equals(full)
    for k in range(8):
        members = set(inc[inc["entity_id"] == k]["member_id"])
        assert {k, k + 1_000_000, k + 2_000_000} <= members, k
