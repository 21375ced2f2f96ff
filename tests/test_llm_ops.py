"""Property-based checks for the non-SQL-expressible LLM ops
(SURVEY §5.2.4): planted near-dups must be found, IVF recall vs brute
force, simhash self-consistency, multimodal plumbing shape."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bpspark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()


def test_minhash_finds_planted_neardups(spark):
    pairs = OPS["dedup_near_minhash"].fn(spark, SF_SMALL).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # every planted twin (doc_id+1M, one appended word) must be a candidate
    for i in range(25):
        assert (i, i + 1_000_000) in found, f"planted near-dup {i} missed"


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """Adversarial fixture: hundreds of identical docs share every LSH
    bucket. Uncapped banding would emit O(B²) ≈ 45k pairs; the BUCKET_CAP
    guard must instead drop the hot buckets before pair expansion and
    surface them on the overflow audit channel."""
    from bpspark import llm_ops

    n = 300
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated for every single doc here").alias("text"),
    )
    pairs = llm_ops.minhash_candidate_pairs(docs)
    assert pairs.count() == 0, "hot bucket leaked through the cap"
    overflow = llm_ops.minhash_bucket_overflow(docs).collect()
    # all 16 bands collapse to one bucket of n identical signatures
    assert len(overflow) == llm_ops.N_BANDS
    assert all(r.bucket_size == n for r in overflow)
    # mixed corpus: the cap must not disturb genuinely-near-dup discovery
    # (covered by test_minhash_finds_planted_neardups above)


def test_minhash_cap_keeps_small_buckets(spark):
    """Buckets at exactly the cap still emit pairs; only >CAP is dropped."""
    from bpspark import llm_ops

    docs = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("identical three way text for one tiny bucket of documents").alias("text"),
    )
    assert llm_ops.minhash_candidate_pairs(docs).count() == 3  # C(3,2)
    assert llm_ops.minhash_bucket_overflow(docs).count() == 0


def test_simhash_identical_corpus_collapses_before_pairing(spark):
    """300 identical docs = one signature group: the representative
    collapse must keep pair emission at zero instead of O(B²)·bands."""
    from unittest import mock

    from bpspark import llm_ops

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated for every single doc here").alias("text"),
    )
    with mock.patch.object(llm_ops, "_docs_with_planted_neardups", lambda s, sf: docs):
        assert OPS["dedup_simhash"].fn(spark, SF_SMALL).count() == 0


def test_ngram_jaccard_verifies_planted_pairs(spark):
    rows = OPS["dedup_ngram_jaccard"].fn(spark, SF_SMALL).collect()
    verified = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    for i in range(25):
        j = verified.get((i, i + 1_000_000))
        assert j is not None and j >= 0.5, f"planted pair {i} not verified: {j}"
    # jaccard is a proper similarity: bounded, no self-pairs, a<b ordering
    assert all(0.0 <= j <= 1.0 for j in verified.values())
    assert all(a < b for a, b in verified)


def test_simhash_signature_matches_pure_python_reference(spark):
    """Independent replication of _simhash_signatures' documented contract
    (single-space split, drop empty tokens, DISTINCT tokens, md5 hex
    halves as two 32-bit ints, per-bit ±1 majority vote with ties -> 0,
    tokenless doc -> zero signature) on adversarial texts: tabs and
    newlines stay INSIDE tokens (space-only split), runs of spaces yield
    dropped empties, repeated tokens vote once. Guards the tokenization
    contract the docstring documents (ADVICE r7) against both engines
    drifting together."""
    import hashlib

    from bpspark.llm_ops import _simhash_signatures

    texts = [
        "plain three word doc",
        "tab\tinside one token here",
        "line\nbreak stays in token",
        "multi   space   runs collapse",
        " leading and trailing ",
        "",
        "repeated repeated repeated token vote once",
        "unicode tökens aré fine ünd stable",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.sig_lo, r.sig_hi) for r in _simhash_signatures(docs).collect()}

    def ref(text):
        toks = {w for w in text.split(" ") if w}
        if not toks:
            return 0, 0
        votes_lo, votes_hi = [0] * 32, [0] * 32
        for w in toks:
            h = hashlib.md5(w.encode()).hexdigest()
            hi, lo = int(h[:8], 16), int(h[8:16], 16)
            for i in range(32):
                votes_lo[i] += 1 if (lo >> i) & 1 else -1
                votes_hi[i] += 1 if (hi >> i) & 1 else -1
        sig_lo = sum(1 << i for i in range(32) if votes_lo[i] > 0)
        sig_hi = sum(1 << i for i in range(32) if votes_hi[i] > 0)
        return sig_lo, sig_hi

    for i, t in enumerate(texts):
        assert got[i] == ref(t), f"doc {i} ({t!r}): {got[i]} != {ref(t)}"


def test_simhash_finds_planted_neardups(spark):
    rows = OPS["dedup_simhash"].fn(spark, SF_SMALL).collect()
    found = {(r.doc_a, r.doc_b) for r in rows}
    hits = sum((i, i + 1_000_000) in found for i in range(25))
    # one appended word flips few bits; most planted twins must collide
    assert hits >= 20, f"only {hits}/25 planted twins found by simhash"
    # the jaccard re-rank must keep output near-dup-sized, not
    # hamming-screen-sized (the screen alone passes ~22k pairs here)
    assert len(rows) < 500, f"{len(rows)} pairs — re-rank not pruning"
    assert all(r.jaccard >= 0.5 and r.hamming <= 7 for r in rows)


def test_tri_band_pairs_equals_plain_self_join(spark):
    """band_pairs must emit EXACTLY the brute-force pair set of a plain
    self-join — for every slice count k (the triangular decomposition's
    coverage must not depend on how doc_ids hash into slices), with the
    60-doc hot bucket kept or dropped by the cap, pairs met in several
    buckets emitted once, and each side's carried columns riding with
    it — and its probe mode must equal a brute-force join of every row's
    key and one-bit flips against the capped exact buckets."""
    import itertools
    from collections import defaultdict

    from bpspark.llm_ops import band_pairs

    def sig(d):
        return (d * 37) % 256, d % 16

    # one hot (band, chunk) bucket of 60 docs, a 10-doc and a 5-doc bucket
    # that re-pair hot docs, four 2-doc buckets one bit apart, singletons
    keys = [(d, 0, 7) for d in range(60)]
    keys += [(d, 1, 11) for d in range(10)]
    keys += [(d, 3, 9) for d in range(5)]
    keys += [(200 + d, 2, 40 + d // 2) for d in range(8)]
    keys += [(300 + d, 4, d) for d in range(4)]
    rows = [(d, band, chunk, *sig(d)) for d, band, chunk in keys]
    schema = "doc_id long, band int, chunk long, sig_hi long, sig_lo long"
    bands = spark.createDataFrame(rows, schema)
    carry = ["sig_hi", "sig_lo"]

    def capped(cap):
        buckets = defaultdict(list)
        for d, band, chunk, *_ in rows:
            buckets[band, chunk].append(d)
        return {k: v for k, v in buckets.items() if cap is None or len(v) <= cap}

    def pair(x, y):
        a, b = min(x, y), max(x, y)
        return (a, b, *sig(a), *sig(b))

    def got(df):
        cols = ["doc_a", "doc_b", "sig_hi_a", "sig_lo_a", "sig_hi_b", "sig_lo_b"]
        out = [tuple(r) for r in df.select(*cols).collect()]
        assert len(out) == len(set(out)), "duplicate pairs"
        return set(out)

    for cap, k in itertools.product((None, 5), (1, 3, 8)):
        want = {
            pair(x, y)
            for ids in capped(cap).values()
            for x, y in itertools.combinations(ids, 2)
        }
        assert want, (cap, k)
        pairs = band_pairs(bands, ["band", "chunk"], carry=carry, cap=cap, slices=k)
        assert got(pairs) == want, (cap, k)

    flips = [(d, band, chunk ^ m, *sig(d)) for d, band, chunk, *_ in rows for m in (0, 1, 2, 4)]
    probe = spark.createDataFrame(flips, schema)
    for cap, k in itertools.product((None, 5), (1, 3)):
        exact = capped(cap)
        want = {
            pair(d, y)
            for d, band, val, *_ in flips
            for y in exact.get((band, val), [])
            if y != d
        }
        assert any(a >= 200 for a, *_ in want), "no cross-bucket probe pair"
        assert got(
            band_pairs(bands, ["band", "chunk"], carry=carry, cap=cap, slices=k, probe=probe)
        ) == want, (cap, k)


def test_spread_guard_counts_splits_not_files(spark, tmp_path, monkeypatch):
    """_spread_if_scan_starved must judge starvation on ESTIMATED SPLITS
    (bytes / maxPartitionBytes), not file count (VERDICT r12 item 2): a
    single big SPLITTABLE parquet file is many input splits, and adding a
    spread there would insert the very full-row shuffle the guard exists
    to avoid. Emulated by shrinking maxPartitionBytes so the one test file
    counts as >= parallelism/4 splits. The parallelism is stubbed to 16,
    so the starved case is checked on any host (the guard never spreads
    at 4 or fewer cores)."""
    import os

    from pyspark import SparkContext

    from bpspark.llm_ops import _spread_if_scan_starved

    p = str(tmp_path / "one_file")
    spark.range(5000).selectExpr(
        "id as doc_id", "repeat('x', 64) as text"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 1
    par = 16
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda sc: par))
    # one tiny file at the default 128 MB split size = one split -> starved
    out = _spread_if_scan_starved(df, df, "doc_id")
    assert out is not df, "single-split scan must be spread"
    assert out.rdd.getNumPartitions() == par
    assert sorted(out.collect()) == sorted(df.collect())
    # the SAME one file with a small split size = many estimated splits ->
    # NOT starved, no repartition added (this is the case the old
    # file-count gate got wrong)
    part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
    size = os.path.getsize(os.path.join(p, part))
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, f"{max(1, size * 4 // max(par, 1))}b")
    try:
        assert _spread_if_scan_starved(df, df, "doc_id") is df
    finally:
        spark.conf.set(key, prev)


def test_fractional_max_partition_bytes_is_parsed(tmp_path):
    """A fractional size such as ``spark.sql.files.maxPartitionBytes =
    '1.5g'`` parses to bytes instead of raising and silently falling back
    to the file count; a conf that does not parse raises instead of being
    treated as an un-statable file. Spark's typed conf setter rejects
    fractions, so the conf is fed through a stub source."""
    from types import SimpleNamespace

    import pytest

    from bpspark.llm_ops import _estimated_scan_splits, _parse_size_bytes

    assert _parse_size_bytes("1.5g") == 3 * 1024**3 // 2
    assert _parse_size_bytes("0.5k") == 512

    f = tmp_path / "part-0.parquet"
    f.write_bytes(b"x" * 4096)

    def src(mpb):
        conf = SimpleNamespace(get=lambda key, default=None: mpb)
        return SimpleNamespace(inputFiles=lambda: [f"file://{f}"],
                               sparkSession=SimpleNamespace(conf=conf))

    assert _estimated_scan_splits(src("1.5g")) == 1
    assert _estimated_scan_splits(src("1.5k")) == 3  # ceil(4096 / 1536)
    with pytest.raises(ValueError):
        _estimated_scan_splits(src("lots"))


def test_ivf_recall_vs_brute_force(spark):
    brute = OPS["sim_cosine_topk"].fn(spark, SF_SMALL).collect()
    ivf = OPS["sim_cosine_ivf"].fn(spark, SF_SMALL).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute}
    approx = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(truth & approx) / len(truth)
    # IVF probes a single cluster — recall is approximate by design, but the
    # nearest neighbors are usually co-clustered with the query
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_ivf_quantizer_size_sublinear_in_corpus(spark):
    """r2 verdict #2: the collected quantizer must be O(k·d) with k ≈ √n
    capped at IVF_MAX_K — NOT linear in corpus rows. 4× the corpus must
    give ~2× the centroids (√ growth), and k can never exceed the cap."""
    import math

    from bpspark.io import table
    from bpspark.llm_ops import IVF_MAX_K, _ivf_centroid_literal, _ivf_target_k, _with_norm

    e = _with_norm(table(spark, SF_SMALL, "embeddings"))
    n = e.count()
    assert _ivf_target_k(n) == max(4, min(IVF_MAX_K, math.isqrt(n)))
    # k for 4x the rows is ~2x, not 4x (sublinear growth)
    assert _ivf_target_k(4 * n) <= 2 * _ivf_target_k(n) + 1
    # and it saturates at the hard cap regardless of corpus size (100 TB)
    assert _ivf_target_k(10**12) == IVF_MAX_K
    # the literal actually collected matches the target (Lloyd refinement
    # may only ever shrink it by dropping empty cells)
    _lit, k = _ivf_centroid_literal(e, train_iters=0)
    assert k == _ivf_target_k(n)
    _lit2, k2 = _ivf_centroid_literal(e, train_iters=IVF_TRAIN_ITERS_DEFAULT)
    assert k2 <= _ivf_target_k(n)


IVF_TRAIN_ITERS_DEFAULT = 2


def test_adaptive_route_k_saturates_early():
    """r3 verdict #5: sim_adaptive_route's quantizer must saturate to a
    CONSTANT far below IVF_MAX_K so its corpus assignment — the op's cost
    center — is O(n·const·d), linear in n from n = _ADAPTIVE_MAX_K² on
    (the pre-cap O(n^1.5) window measured 2.34× wall per 10× data)."""
    from bpspark.llm_ops import IVF_MAX_K, _ADAPTIVE_MAX_K, _adaptive_route_k

    assert _ADAPTIVE_MAX_K < IVF_MAX_K // 100
    # saturation point is reachable by the probe's synthetic sizes
    assert _adaptive_route_k(_ADAPTIVE_MAX_K**2) == _ADAPTIVE_MAX_K
    for n in (10**6, 10**9, 10**12):  # constant across the 100 TB range
        assert _adaptive_route_k(n) == _ADAPTIVE_MAX_K
    # below saturation it tracks √n like the retrieval quantizer
    assert _adaptive_route_k(10_000) == 100


def test_embedding_cosine_pairs_symmetric_bounded(spark):
    rows = OPS["dedup_embedding_cosine"].fn(spark, SF_SMALL).collect()
    assert all(r.vec_a < r.vec_b for r in rows)
    assert rows, "threshold must yield pairs at test SF (vacuous otherwise)"
    assert all(0.35 <= r.cosine <= 1.0 + 1e-9 for r in rows)


def test_multimodal_columns_schema(spark):
    from bpspark.llm_ops import multimodal_columns_typed

    df = multimodal_columns_typed(spark, SF_SMALL)
    kinds = dict(df.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["embedding"] == "array<float>"
    assert kinds["meta"].startswith("struct<")
    row = df.filter(F.col("doc_id") == 0).collect()[0]
    assert bytes(row.payload).decode("utf-8") == row.text


def test_multimodal_columns_registered_is_driver_canonicalizable(spark):
    """The *registered* op must carry only scalar cells (the driver's pandas
    sort_values canonicalizer crashes on list/dict/ndarray cells — r2) and
    its hashes must be deterministic across runs."""
    import hashlib

    df = OPS["multimodal_columns"].fn(spark, SF_SMALL)
    kinds = dict(df.dtypes)
    assert all(
        not k.startswith(("array", "struct", "map", "binary")) for k in kinds.values()
    ), kinds
    pdf = df.toPandas()
    pdf.sort_values(by=sorted(pdf.columns), kind="stable")  # driver canonicalization
    row = df.filter(F.col("doc_id") == 0).collect()[0]
    assert row.payload_sha256 == hashlib.sha256(row.text.encode()).hexdigest()
    a = sorted(r.embedding_sha256 or "" for r in df.collect())
    b = sorted(r.embedding_sha256 or "" for r in OPS["multimodal_columns"].fn(spark, SF_SMALL).collect())
    assert a == b


def test_multimodal_decode_real_ppm(spark):
    """The decode op consumes REAL PPM(P6) files: header-derived dims per
    size class, raster-derived features, stable content hash."""
    a = OPS["multimodal_decode_stub"].fn(spark, SF_SMALL).collect()
    b = OPS["multimodal_decode_stub"].fn(spark, SF_SMALL).collect()
    assert a == b
    for r in a[:50]:
        if r.doc_id % 2 == 0:
            assert (r.width, r.height) == (16, 12)
            assert r.n_bytes == len(b"P6\n16 12\n255\n") + 16 * 12 * 3
        else:
            assert (r.width, r.height) == (12, 8)
            assert r.n_bytes == len(b"P6\n12 8\n255\n") + 12 * 8 * 3
        assert r.media_type == "image/x-portable-pixmap"
        vec = json.loads(r.feature_vec_json)
        assert len(vec) == 16
        assert abs(sum(vec) - 1.0) < 1e-5
        assert len(r.content_sha256) == 64


def test_ppm_decode_golden_content_hash():
    """Golden fixture: a hand-built 2×2 P6 image must decode to exactly
    the known pixels (content hash pinned) through the same decoder the
    Spark op ships to executors — PIL path and fallback path alike."""
    import hashlib

    import numpy as np

    from bpspark.llm_ops import decode_ppm

    pixels = bytes([255, 0, 0,  0, 255, 0,
                    0, 0, 255,  255, 255, 255])
    payload = b"P6\n2 2\n255\n" + pixels
    img = decode_ppm(payload)
    assert img.shape == (2, 2, 3)
    assert img.tobytes() == pixels
    assert (
        hashlib.sha256(img.tobytes()).hexdigest()
        == hashlib.sha256(pixels).hexdigest()
        == "6733cdd08e5c7ef0453e2759ef0d28fbd43ea2aa7883b55422a13dac38e23ecc"
    )
    assert np.allclose(img.mean(), float(np.frombuffer(pixels, np.uint8).mean()))


def test_multimodal_resize_thumbnails(spark):
    """Resize = decode → grayscale → 8×8 nearest-neighbor; every thumb is
    64 floats in [0,1] with a content hash, deterministic across runs."""
    rows = OPS["multimodal_resize_stub"].fn(spark, SF_SMALL).limit(50).collect()
    assert rows
    for r in rows:
        thumb = json.loads(r.thumb_json)
        assert len(thumb) == 64
        assert all(0.0 <= v <= 1.0 for v in thumb)
        assert len(r.thumb_sha256) == 64


def test_exact_dedup_identity_on_dupfree_corpus(spark):
    """f∘f = f: on a duplicate-free corpus every hash group has one member."""
    res = OPS["dedup_exact_hash"].fn(spark, SF_SMALL)
    assert res.filter(F.col("n_copies") > 1).count() == 0


def test_lsh_finds_planted_twin_embeddings(spark):
    rows = OPS["sim_cosine_lsh"].fn(spark, SF_SMALL).collect()
    found = {(r.query_id, r.neighbor_id) for r in rows}
    hits = sum((q, q + 1_000_000) in found for q in range(25))
    # sign-LSH with hamming<=1 multi-probe: ~0.95-cosine twins land in the
    # probed buckets for nearly all queries (op is fully deterministic;
    # measured 24/25 at this scale)
    assert hits >= 20, f"only {hits}/25 planted twins found by LSH"
    assert all(r.query_id < 25 for r in rows)  # only the 25 query vectors


def test_doc_pack_greedy_invariants(spark):
    from bpspark.llm_ops import _PACK_BUDGET_TOKENS

    packs = OPS["doc_pack_greedy"].fn(spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    n_docs_total = docs.count()
    # every document lands in exactly one pack
    assert sum(p.n_docs for p in packs) == n_docs_total
    by_src: dict = {}
    for p in packs:
        # budget respected unless a single oversized doc forms the pack
        assert p.n_docs == 1 or p.pack_tokens <= _PACK_BUDGET_TOKENS, p
        assert p.first_doc_id <= p.last_doc_id
        by_src.setdefault(p.source, []).append(p)
    for src, ps in by_src.items():
        ps.sort(key=lambda p: p.pack_id)
        # pack ids dense from 0; packs contiguous & ordered in doc_id space
        assert [p.pack_id for p in ps] == list(range(len(ps)))
        for a, b in zip(ps, ps[1:]):
            assert a.last_doc_id < b.first_doc_id
    # deterministic: second run produces the identical pack set
    again = OPS["doc_pack_greedy"].fn(spark, SF_SMALL).collect()
    assert sorted(map(tuple, packs)) == sorted(map(tuple, again))


def test_doc_pack_tokenized_invariants(spark):
    """Tokenizer-aware packing: same structural contract as
    doc_pack_greedy (every doc in exactly one pack, budget respected
    except one-doc oversize packs, dense contiguous pack ids), but the
    budget is measured in BPE tokens — so packs hold FAR fewer docs than
    whitespace packing (the whole point: whitespace counts under-
    estimate model tokens ~5x on this corpus) and pack_tokens must sum
    to the corpus BPE token total."""
    from bpspark.llm_ops import _PACK_BUDGET_TOKENS

    packs = OPS["doc_pack_tokenized"].fn(spark, SF_SMALL).collect()
    tok = OPS["text_bpe_tokenize"].fn(spark, SF_SMALL).collect()
    assert sum(p.n_docs for p in packs) == len(tok)
    assert sum(p.pack_tokens for p in packs) == sum(r.n_tokens_bpe for r in tok)
    by_src: dict = {}
    for p in packs:
        assert p.n_docs == 1 or p.pack_tokens <= _PACK_BUDGET_TOKENS, p
        assert p.first_doc_id <= p.last_doc_id
        by_src.setdefault(p.source, []).append(p)
    for _src, ps in by_src.items():
        ps.sort(key=lambda p: p.pack_id)
        assert [p.pack_id for p in ps] == list(range(len(ps)))
        for a, b in zip(ps, ps[1:]):
            assert a.last_doc_id < b.first_doc_id
    ws_packs = OPS["doc_pack_greedy"].fn(spark, SF_SMALL).collect()
    # BPE budgets bite harder than whitespace budgets on the same corpus
    assert len(packs) > len(ws_packs)


def test_split_leakage_safe_invariants(spark):
    """Leakage safety: every doc gets exactly one split; every planted
    twin (doc<25, doc+1_000_000) shares its original's CLUSTER and hence
    its split — near-dups never straddle train/test; buckets are the
    md5-of-cluster prefix so re-runs are identical; proportions are
    hash-binomial around 80/10/10."""
    rows = {r.doc_id: r for r in OPS["split_leakage_safe"].fn(spark, SF_SMALL).collect()}
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert len(rows) == docs.count() + 25  # corpus + planted twins
    for d in range(25):
        assert rows[d].cluster_id == rows[d + 1_000_000].cluster_id
        assert rows[d].split == rows[d + 1_000_000].split
    from collections import Counter

    by_split = Counter(r.split for r in rows.values())
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split["train"] > by_split["val"] and by_split["train"] > by_split["test"]
    again = {r.doc_id: r for r in OPS["split_leakage_safe"].fn(spark, SF_SMALL).collect()}
    assert {k: (v.cluster_id, v.split) for k, v in rows.items()} == {
        k: (v.cluster_id, v.split) for k, v in again.items()
    }


def test_split_incremental_assign_inherits_twin_splits(spark):
    """Incremental split stability: every planted twin (+3M of an
    indexed doc) must INHERIT its original's anchor — so its split is
    exactly the original's md5 bucket and a test doc's twin can never
    land in train; genuinely novel batch docs anchor on themselves; the
    whole assignment is deterministic across runs."""
    rows = {r.doc_id: r for r in OPS["split_incremental_assign"].fn(spark, SF_SMALL).collect()}
    twins = [r for r in rows.values() if r.doc_id >= 3_000_000]
    assert twins, "fixture must plant twins"
    for t in twins:
        # a twin always matches at least its original, so it inherits;
        # the anchor is the MIN matched index doc, which can be an even
        # nearer neighbor than the original (the corpus has a few real
        # near-dups) — but never a larger id than the original
        assert t.inherited and t.anchor_id <= t.doc_id - 3_000_000, t
    novel = [r for r in rows.values() if 400 <= r.doc_id < 3_000_000]
    for r in novel:
        if not r.inherited:
            assert r.anchor_id == r.doc_id
    assert {r.split for r in rows.values()} <= {"train", "val", "test"}
    again = {r.doc_id: r for r in OPS["split_incremental_assign"].fn(spark, SF_SMALL).collect()}
    assert {k: (v.anchor_id, v.split) for k, v in rows.items()} == {
        k: (v.anchor_id, v.split) for k, v in again.items()
    }


def test_kmeans_lloyd_invariants(spark):
    """Every point is assigned exactly once, cluster ids stay in [0, k),
    and inertia is non-negative — the Lloyd-loop contract."""
    import bpspark
    from tests.conftest import SF_SMALL
    from bpspark.io import table

    out = bpspark.all_ops()["ml_kmeans_lloyd"].fn(spark, SF_SMALL).collect()
    n_total = table(spark, SF_SMALL, "embeddings").count()
    assert sum(r.n_points for r in out) == n_total
    assert all(0 <= r.cluster < 8 for r in out)
    assert all(r.inertia >= 0.0 for r in out)
    assert len({r.cluster for r in out}) == len(out)


def test_corpus_pipeline_funnel_consistent(spark):
    """The composed pipeline's stage counts must agree with the standalone
    ops it reuses, and the funnel must be monotone (each filter stage only
    removes rows)."""
    ops = OPS
    funnel = {
        r["stage"]: r["n_rows"]
        for r in ops["pipeline_llm_corpus"].fn(spark, SF_SMALL).collect()
    }
    assert funnel["1_quality"] == ops["text_quality_filter"].fn(spark, SF_SMALL).count()
    assert funnel["0_raw"] >= funnel["1_quality"] >= funnel["2_exact_dedup"] >= funnel["3_near_dedup"] >= funnel["4_decontaminated"]
    assert funnel["5_chunks"] >= funnel["4_decontaminated"]
    assert 0 < funnel["6_packs"] <= funnel["4_decontaminated"]


def test_knn_graph_shape_and_no_self_loops(spark):
    """Corpus×corpus kNN graph: exactly 5 neighbors for every vector,
    never itself, cosine within [-1, 1]."""
    rows = OPS["sim_knn_graph_ivf"].fn(spark, SF_SMALL).collect()
    n_vec = 500  # sf0.001 embeddings table
    assert len(rows) == 5 * n_vec
    per_q: dict[int, int] = {}
    for r in rows:
        assert r.query_id != r.neighbor_id
        assert -1.0001 <= r.cosine <= 1.0001
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert set(per_q.values()) == {5}


def test_ivf_recall_eval_single_row_high_recall(spark):
    """Self-evaluating recall op: one row. With the fixed-k quantizer
    (k=√n=22 at sf0.001) and nprobe=4, the candidate pool is ~18% of the
    isotropic corpus — the adversarial shape where recall is necessarily
    ∝ fraction scanned. The assertion pins (a) the measured operating
    point (0.53, floor 0.45) and (b) that clustering beats the
    no-structure baseline (recall ≥ 2× candidate fraction) — i.e. the
    quantizer is doing real work, not random partitioning."""
    rows = OPS["sim_ivf_recall_eval"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.truth_pairs == 5 * r.n_queries
    assert r.hit_pairs <= r.truth_pairs
    candidate_frac = 4 / 22  # nprobe / k at this scale
    assert r.recall_at_5 >= 0.45, f"recall {r.recall_at_5} too low at sf0.001"
    assert r.recall_at_5 >= 2 * candidate_frac, (
        f"recall {r.recall_at_5} no better than random bucketing"
    )


def test_bpe_batched_merges_beyond_default_bound(spark):
    """VERDICT r2 #4: merge counts beyond _BPE_MERGES run in BATCHED mode —
    ceil(k/batch) distributed passes instead of k driver round-trips. The
    batched trainer must (a) produce the requested merge count, (b) stay
    deterministic, (c) emit well-formed symbol-disjoint-per-pass merges,
    and (d) agree with exact greedy on the very first merge (the top pair
    of pass 1 is selected first in both modes)."""
    from bpspark.llm_ops import _BPE_MERGES, _bpe_learn_impl

    k = _BPE_MERGES * 3
    batched1 = _bpe_learn_impl(spark, SF_SMALL, n_merges=k, batch=8)
    batched2 = _bpe_learn_impl(spark, SF_SMALL, n_merges=k, batch=8)
    assert batched1 == batched2
    assert [m[0] for m in batched1] == list(range(1, len(batched1) + 1))
    assert len(batched1) == k
    for _rank, left, right, merged, w in batched1:
        assert merged == left + right
        assert w > 0
    greedy = _bpe_learn_impl(spark, SF_SMALL, n_merges=1, batch=1)
    assert batched1[0][1:] == greedy[0][1:]


def test_bpe_double_space_replay_matches_lookaround_regex():
    """The r8 BPE oracles replay Spark's lookaround merge regex
    `(?<=^|\\s)L\\sR(?=\\s|$)` in RE2-only DuckDB via the double-space
    literal replace (see _bpe_merge_cte_sql). Property-pin the string-level
    equivalence of the two algorithms on adversarial token streams —
    self-overlapping pairs (L == R), tokens that are substrings of other
    tokens, and </w>-suffixed symbols. Both must implement 'replace
    non-overlapping token-adjacent (L, R) occurrences left-to-right
    without rescanning replacements'."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    tokens = st.sampled_from(
        ["a", "b", "ab", "ba", "aa", "aab", "</w>", "a</w>", "b</w>", "ab</w>"]
    )

    def regex_replay(s: str, left: str, right: str, merged: str) -> str:
        # Python needs the fixed-width lookbehind split; Java's
        # (?<=^|\s) and this alternation scan identically left-to-right
        pat = (
            r"(?:^|(?<=\s))"
            + re.escape(left)
            + r"\s"
            + re.escape(right)
            + r"(?=\s|$)"
        )
        return re.sub(pat, merged.replace("\\", "\\\\"), s)

    def double_space_replay(s: str, left: str, right: str, merged: str) -> str:
        d = " " + s.replace(" ", "  ") + " "
        d = d.replace(f" {left}  {right} ", f" {merged} ")
        return re.sub(" +", " ", d).strip()

    @settings(max_examples=300, deadline=None)
    @given(
        seq=st.lists(tokens, min_size=0, max_size=12),
        left=tokens,
        right=tokens,
    )
    def check(seq, left, right):
        s = " ".join(seq)
        merged = left + right
        assert regex_replay(s, left, right, merged) == double_space_replay(
            s, left, right, merged
        ), (s, left, right)

    check()


def test_bpe_vocab_induction_deterministic_and_wellformed(spark):
    """BPE merge learning: ranks are 1..k, merged token = left+right,
    weights positive, and the greedy argmax (lexicographic tie-break)
    makes the whole table deterministic across runs."""
    rows1 = OPS["text_bpe_vocab_induction"].fn(spark, SF_SMALL).collect()
    rows2 = OPS["text_bpe_vocab_induction"].fn(spark, SF_SMALL).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]
    assert [r.rank for r in rows1] == list(range(1, len(rows1) + 1))
    assert len(rows1) >= 4
    for r in rows1:
        assert r.merged == r.left + r.right
        assert r.pair_weight > 0


def test_er_planted_variant_clusters(spark):
    """Every supplier with suppkey < 8 must resolve into a 3-member
    entity (original + 'x' + 'yz' variants — transitivity across the
    chain), keys 8..14 into 2-member entities, and the canonical id is
    always the original suppkey."""
    from bpspark.io import table

    max_key = table(spark, SF_SMALL, "supplier").agg({"s_suppkey": "max"}).collect()[0][0]
    rows = OPS["er_resolve_entities"].fn(spark, SF_SMALL).collect()
    by_entity: dict[int, set[int]] = {}
    for r in rows:
        by_entity.setdefault(r.entity_id, set()).add(r.member_id)
    for k in range(0, min(8, max_key + 1)):
        assert by_entity.get(k) == {k, k + 1_000_000, k + 2_000_000}, (k, by_entity.get(k))
    for k in range(8, min(15, max_key + 1)):
        assert by_entity.get(k) == {k, k + 1_000_000}, (k, by_entity.get(k))


def test_rag_retrieval_eval_needle_recall(spark):
    """Excerpt queries must retrieve a chunk of their own source doc at
    rank 1 for ≥85% of queries (0.96 at sf0.01; slightly lower on the
    truncated sf0.001 docs), with a sane cosine."""
    rows = OPS["rag_retrieval_eval"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_queries >= 40
    assert r.hit_rate_at_1 >= 0.85, r
    assert 0.3 <= r.mean_top1_cosine <= 1.0001


def test_audio_decode_golden_wav():
    """Hand-built 8-sample PCM16 wav must decode to exactly those samples
    with the documented feature math."""
    import struct

    import numpy as np

    from bpspark.llm_ops import _wav_header, decode_wav

    samples = np.array([1000, -1000, 2000, -2000, 0, 500, -500, 32000], dtype="<i2")
    payload = _wav_header(len(samples)) + samples.tobytes()
    got, rate = decode_wav(payload)
    assert rate == 8000
    assert np.array_equal(got, samples)
    # zero-crossing definition: strict sign product < 0
    zc = int(((got[:-1].astype(np.int64) * got[1:]) < 0).sum())
    assert zc == 5  # 1000/-1000, -1000/2000, 2000/-2000, 500/-500, -500/32000


def test_audio_decode_op_deterministic(spark):
    """The registered op decodes every document's wav; per-row hashes and
    features are identical across two runs, and header-derived sample
    counts follow the size classes."""
    r1 = OPS["multimodal_audio_decode"].fn(spark, SF_SMALL).collect()
    r2 = OPS["multimodal_audio_decode"].fn(spark, SF_SMALL).collect()
    assert [tuple(x) for x in r1] == [tuple(x) for x in r2]
    assert len(r1) == 500
    for r in r1:
        assert r.n_samples == (256 if r.doc_id % 2 == 0 else 160)
        assert r.sample_rate == 8000
        assert r.n_bytes == 44 + r.n_samples * 2
        assert r.rms > 0 and r.peak > 0


def test_video_stream_parser_golden():
    """Hand-built 3-frame PPM stream: the parser must find every frame
    boundary and decode each raster exactly."""
    import numpy as np

    from bpspark.llm_ops import parse_ppm_stream

    def frame(fill):
        return b"P6\n2 2\n255\n" + bytes([fill] * 12)

    frames = parse_ppm_stream(frame(10) + frame(200) + frame(0))
    assert len(frames) == 3
    assert frames[0].shape == (2, 2, 3)
    assert int(frames[0].mean()) == 10
    assert int(frames[1].mean()) == 200
    assert int(frames[2].mean()) == 0


def test_video_frames_op_samples_every_other(spark):
    """4-frame streams sampled at stride 2 → frames 0 and 2 per doc,
    with distinct content hashes (frames carry different text slices)."""
    rows = OPS["multimodal_video_frames"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 1000  # 500 docs × 2 sampled frames
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.n_frames == 4 and r.width == 12 and r.height == 8
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in by_doc.items():
        assert sorted(x.frame_no for x in rs) == [0, 2]


def test_incremental_dedup_detects_replants(spark):
    """Replanted texts (doc_id+2M copies of every 50th existing doc) must
    be flagged as duplicates; genuinely new docs as novel."""
    rows = OPS["dedup_incremental_exact"].fn(spark, SF_SMALL).collect()
    replants = [r for r in rows if r.doc_id >= 2_000_000]
    fresh = [r for r in rows if r.doc_id < 2_000_000]
    assert replants and all(not r.is_novel for r in replants)
    assert fresh and all(r.doc_id >= 400 for r in fresh)
    assert sum(r.is_novel for r in fresh) == len(fresh)  # corpus has no dupes ≥400


def test_bpe_tokenize_compresses_never_expands(spark):
    """Applying the learned merges can only reduce token counts, and the
    compression must be real on this corpus (the top merge 'er' etc.
    appear constantly)."""
    rows = OPS["text_bpe_tokenize"].fn(spark, SF_SMALL).collect()
    assert len(rows) == 500
    assert all(r.n_tokens_bpe <= r.n_tokens_chars for r in rows)
    mean_comp = sum(r.compression for r in rows) / len(rows)
    assert mean_comp < 0.95, mean_comp


def test_bpe_tokenize_oracle_survives_merge_starved_corpus():
    """ADVICE r8: if the corpus yields fewer than _BPE_MERGES learnable
    merges, the later m{k} CTEs are empty — the apply steps must pass
    symbols through (LEFT JOIN + COALESCE), never annihilate the doc set
    via a cross join with an empty merge row. A 1-letter alphabet runs
    out of adjacent pairs after ~3 merges; every doc must still get a
    row, with counts consistent with full merging."""
    import duckdb

    from bpspark.llm_ops import _bpe_tokenize_oracle_sql

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'a a a'), (2, 'aa'), (3, 'a aa a')) AS t(doc_id, text)"
    )
    df = con.sql(_bpe_tokenize_oracle_sql()).df()
    assert list(df["doc_id"]) == [1, 2, 3]
    # 'a' -> 'a </w>' (2 syms) and 'aa' -> 'a a </w>' (3 syms) both
    # collapse to ONE symbol once the learnable merges are exhausted.
    assert list(df["n_tokens_bpe"]) == [3, 1, 3]
    assert list(df["n_tokens_chars"]) == [6, 3, 7]


def test_video_stream_parser_rejects_truncation():
    """Truncated frame headers/rasters must raise, never hang (the
    parser's loops are bounded by the payload length)."""
    import pytest

    from bpspark.llm_ops import parse_ppm_stream

    good = b"P6\n2 2\n255\n" + bytes(12)
    with pytest.raises(ValueError):
        parse_ppm_stream(good + b"P6\n12")       # header cut off
    with pytest.raises(ValueError):
        parse_ppm_stream(good + b"P6\n2 2\n255\n" + bytes(5))  # raster short
    with pytest.raises(ValueError):
        parse_ppm_stream(b"XX" + good)            # bad magic


def test_temperature_mixture_plan_and_application(spark):
    """α=1/2 tempering must (a) hand every low-resource domain a larger
    share than its natural share (and the largest domain a smaller one),
    (b) hand out ppm shares that sum to ≤1e6 (floor division), and (c)
    applying the plan via seeded sampleBy must land each domain's count
    within 5σ binomial bounds of its quota."""
    from bpspark.llm_ops import sample_temperature_mixture, temperature_mixture_sample

    plan = {r["lang"]: r for r in sample_temperature_mixture(spark, SF_SMALL).collect()}
    assert sum(r["tempered_ppm"] for r in plan.values()) <= 1_000_000
    biggest = max(plan.values(), key=lambda r: r["n_docs"])
    smallest = min(plan.values(), key=lambda r: r["n_docs"])
    if biggest["n_docs"] != smallest["n_docs"]:
        assert biggest["tempered_ppm"] < biggest["natural_ppm"]
        assert smallest["tempered_ppm"] > smallest["natural_ppm"]

    sampled = (
        temperature_mixture_sample(spark, SF_SMALL, epoch_docs=300, seed=7)
        .groupBy("lang")
        .count()
        .collect()
    )
    got = {r["lang"]: r["count"] for r in sampled}
    for lang, r in plan.items():
        quota = r["quota_10k"] * 300 / 10000
        frac = min(1.0, quota / r["n_docs"])
        sigma = (r["n_docs"] * frac * (1 - frac)) ** 0.5
        assert abs(got.get(lang, 0) - min(quota, r["n_docs"])) <= 5 * sigma + 1, (
            f"{lang}: got {got.get(lang, 0)}, quota {quota}"
        )


def test_ivf_index_persist_recall_and_pruning(spark):
    """The persisted-index query path must (a) recall the planted twins
    (vec_id+1M twins are each other's top neighbor at cosine ~0.95) and
    (b) physically scan ONLY the probed clusters' partition files."""
    from bpspark import llm_ops
    from tests.conftest import SF_SMALL

    res = OPS["sim_ivf_index_persist"].fn(spark, SF_SMALL).toPandas()
    # recall floor on planted twins among the 10 queries: twin id = q+1M
    hits = sum(
        1
        for q in range(10)
        if ((res.query_id == q) & (res.neighbor_id == q + 1_000_000)).any()
    )
    assert hits >= 8, f"only {hits}/10 twins recalled from the persisted index"
    # pruning: the scan of the partitioned corpus must touch a strict
    # subset of cluster dirs
    from bpspark.io import state_dir
    import os

    corpus = os.path.join(state_dir("ivfidx", SF_SMALL), "corpus")
    all_clusters = {d for d in os.listdir(corpus) if d.startswith("cluster_id=")}
    # a SINGLE query probes nprobe=2 clusters -> the corpus scan must carry
    # a partition-pruning predicate on cluster_id (inputFiles() is logical
    # and ignores pruning, so assert on the physical scan instead)
    import contextlib, io as _io

    df = llm_ops._ivf_index_query(spark, SF_SMALL, [0])
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert len(all_clusters) > 2
    assert any("cluster_id" in ln and " IN " in ln for ln in scan_lines), plan


def test_pq_encode_invariants(spark):
    """PQ codes: full coverage, valid range, twin-code agreement, and
    reconstruction far better than the codebook-mean baseline."""
    import numpy as np

    from bpspark import llm_ops
    from tests.conftest import SF_SMALL

    pdf = OPS["embedding_pq_encode"].fn(spark, SF_SMALL).toPandas()
    n_vecs = pdf.vec_id.nunique()
    assert len(pdf) == n_vecs * llm_ops.PQ_M  # every vector, every subspace
    assert pdf.code.between(0, llm_ops.PQ_K - 1).all()
    # planted twins (vec_id+1M, +-0.03 perturbation) should mostly share codes
    twins = pdf[pdf.vec_id >= 1_000_000].copy()
    twins["orig"] = twins.vec_id - 1_000_000
    merged = twins.merge(
        pdf, left_on=["orig", "subspace"], right_on=["vec_id", "subspace"],
        suffixes=("_t", "_o"),
    )
    agree = (merged.code_t == merged.code_o).mean()
    assert agree >= 0.8, f"twin code agreement only {agree:.2f}"
    # reconstruction: per-subspace distance must beat assigning every
    # vector to the codebook's global mean distance by a wide margin
    mean_dist = pdf.recon_dist.mean()
    assert 0 < mean_dist < 2.0, mean_dist


def test_pq_encode_deterministic(spark):
    from tests.conftest import SF_SMALL

    a = OPS["embedding_pq_encode"].fn(spark, SF_SMALL).toPandas()
    b = OPS["embedding_pq_encode"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)


def test_pq_adc_recall_vs_brute(spark):
    """ADC over 12-bit codes must still rank each query's planted twin
    first, and overlap heavily with exact brute-force top-5."""
    import numpy as np

    from tests.conftest import SF_SMALL

    res = OPS["sim_pq_adc_search"].fn(spark, SF_SMALL).toPandas()
    assert res.query_id.nunique() == 10
    assert (res.groupby("query_id").size() == 5).all()
    # twin = query_id + 1M at cosine ~0.95 -> smallest true distance; the
    # quantized distance must keep it in the top-5 for nearly all queries
    twin_hits = sum(
        1
        for q in range(10)
        if ((res.query_id == q) & (res.neighbor_id == q + 1_000_000)).any()
    )
    assert twin_hits >= 8, f"ADC lost the twin for {10 - twin_hits} queries"


def test_pq_codes_match_numpy_ground_truth(spark):
    """Assignment parity vs a from-scratch numpy argmin over the same
    trained codebooks — guards the HOF-lambda arity footgun: a
    ``lambda c, s=s`` closure is treated as the BINARY (element, index)
    form and the defaulted name is rebound to the index column,
    silently corrupting every distance."""
    import numpy as np

    from bpspark import llm_ops
    from tests.conftest import SF_SMALL

    e = llm_ops._embeddings_with_planted_twins(spark, SF_SMALL).select(
        "vec_id", "embedding"
    )
    books = llm_ops._pq_train(spark, e)
    pdf = OPS["embedding_pq_encode"].fn(spark, SF_SMALL).toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, float) for r in e.toPandas().itertuples()}
    sub_d = 64 // llm_ops.PQ_M
    checked = 0
    for vid in list(vecs)[:40]:
        v = vecs[vid]
        for s in range(llm_ops.PQ_M):
            expect = int(
                np.argmin(
                    [
                        np.sum((v[s * sub_d : (s + 1) * sub_d] - np.asarray(c)) ** 2)
                        for c in books[s]
                    ]
                )
            )
            got = int(
                pdf[(pdf.vec_id == vid) & (pdf.subspace == s)].code.iloc[0]
            )
            assert got == expect, (vid, s, got, expect)
            checked += 1
    assert checked == 160


def test_ivfpq_recall_and_pruning(spark):
    """IVF-PQ composition: the planted twin must survive BOTH
    approximations at once — coarse probe pruning (only IVF_NPROBE cells
    scored per query) AND 12-bit ADC scoring — for nearly all of the 10
    queries, and the output must prove the pruning actually happened
    (every returned neighbor's cell sits inside the probe budget)."""
    from bpspark import llm_ops
    from tests.conftest import SF_SMALL

    res = OPS["sim_ivfpq_search"].fn(spark, SF_SMALL).toPandas()
    assert res.query_id.nunique() == 10
    assert (res.groupby("query_id").size() == 5).all()
    twin_hits = sum(
        1
        for q in range(10)
        if ((res.query_id == q) & (res.neighbor_id == q + 1_000_000)).any()
    )
    assert twin_hits >= 8, f"IVF-PQ lost the twin for {10 - twin_hits} queries"
    # pruning is observable: per query, neighbors come from <= nprobe cells
    assert (res.groupby("query_id").cell.nunique() <= llm_ops.IVF_NPROBE).all()


def test_ivfpq_deterministic_and_no_cartesian(spark):
    """Deterministic end-to-end (xxhash64-seeded quantizer + Lloyd
    codebooks), and the query side must stay joinless: the 10 queries
    ride in as ONE literal (explode + probe-cell filter), so the only
    join in the plan is the build-side vec_id equi-join — any
    CartesianProduct/BroadcastNestedLoopJoin means the probe filter
    degenerated into an all-pairs scan."""
    import contextlib
    import io

    from tests.conftest import SF_SMALL

    a = OPS["sim_ivfpq_search"].fn(spark, SF_SMALL).toPandas()
    b = OPS["sim_ivfpq_search"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)

    df = OPS["sim_ivfpq_search"].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # scoring is pure JVM expression work: no Python boundary anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_incremental_minhash_detects_twins_and_verifies_matches(spark):
    """The batch-vs-persisted-LSH-index probe must (a) catch every
    replanted twin and tie it to its original, (b) be deterministic and
    rerun-idempotent (the index persists across calls), and (c) only
    claim matches that are REAL near-dups — every claimed (batch, index)
    pair must clear exact 3-shingle jaccard 0.5 (measured: the corpus's
    natural cross-split near-dups score 0.97+)."""
    a = OPS["dedup_incremental_minhash"].fn(spark, SF_SMALL).toPandas()
    b = OPS["dedup_incremental_minhash"].fn(spark, SF_SMALL).toPandas()
    assert a.equals(b)

    twins = a[a.doc_id >= 3_000_000]
    assert len(twins) == 20
    assert (~twins.is_novel).all(), "replanted twin not detected"
    exact = (twins.matched_doc == twins.doc_id - 3_000_000).sum()
    assert exact >= 18, f"only {exact}/20 twins matched their original"

    matches = a[~a.is_novel]
    from bpspark.llm_ops import _word_shingles

    assert (matches.n_matches >= 1).all()
    assert a[a.is_novel].n_matches.eq(0).all()

    # exact-jaccard verification of every claimed non-twin match
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sh = {
        r.doc_id: set(r.sh)
        for r in docs.select(
            "doc_id", F.array_distinct(_word_shingles(F.col("text"))).alias("sh")
        ).collect()
    }
    for r in matches.itertuples():
        src = int(r.doc_id - 3_000_000) if r.doc_id >= 3_000_000 else int(r.doc_id)
        a_sh, b_sh = sh[src], sh[int(r.matched_doc)]
        j = len(a_sh & b_sh) / len(a_sh | b_sh)
        assert j >= 0.5, f"claimed match {r.doc_id}->{int(r.matched_doc)} jaccard {j:.2f}"


def test_incremental_topk_equals_full_recompute(spark):
    """The maintained top-k state merged with a batch's scores must equal
    brute-force top-k over the full corpus EXACTLY (same rows, same
    rounded cosines) — the defining invariant of incremental top-k. Runs
    twice to exercise the memoized-state path."""
    full = sorted(map(tuple, OPS["sim_cosine_topk"].fn(spark, SF_SMALL).collect()))
    inc1 = sorted(map(tuple, OPS["sim_incremental_topk"].fn(spark, SF_SMALL).collect()))
    inc2 = sorted(map(tuple, OPS["sim_incremental_topk"].fn(spark, SF_SMALL).collect()))
    assert inc1 == full
    assert inc2 == full


def test_mmr_rerank_diversity_and_reference_parity(spark):
    """MMR invariants: deterministic; pick #1 is the most relevant
    candidate; the MMR slate is strictly more diverse than the plain
    top-5 (lower mean pairwise cosine); and an independent reference
    built from raw parquet reproduces the exact slate (same explicit
    left-fold dots and tie-free _q6 quantization the op — and since r8
    its full-replication oracle — uses; numpy matmul is deliberately
    NOT used for the slate, its summation order is a BLAS detail)."""
    import math

    import numpy as np

    from bpspark.llm_ops import _MMR_CANDIDATES, _MMR_K, _MMR_LAMBDA, _MMR_MU, _q6

    a = [tuple(r) for r in OPS["sim_mmr_rerank"].fn(spark, SF_SMALL).collect()]
    b = [tuple(r) for r in OPS["sim_mmr_rerank"].fn(spark, SF_SMALL).collect()]
    assert a == b
    assert len(a) == _MMR_K
    assert [r[0] for r in a] == [1, 2, 3, 4, 5]

    # independent reference from raw parquet — explicit folds throughout
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").toPandas()
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    def fold_dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc += x * y
        return acc

    norm = {i: math.sqrt(fold_dot(v, v)) for i, v in vecs.items()}
    rel = {
        i: _q6(fold_dot(vecs[0], v) / (norm[0] * norm[i]))
        for i, v in vecs.items()
        if i != 0
    }
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:_MMR_CANDIDATES]
    sim = {
        (i, j): _q6(fold_dot(vecs[i], vecs[j]) / (norm[i] * norm[j]))
        for i in cand
        for j in cand
        if i != j
    }
    picked: list[int] = []
    scores: list[float] = []
    while len(picked) < _MMR_K:
        best = None
        for i in cand:
            if i in picked:
                continue
            div = max((sim[(i, j)] for j in picked), default=0.0)
            score = _q6(_MMR_LAMBDA * rel[i] - _MMR_MU * div)
            if best is None or (score, -i) > best[0]:
                best = ((score, -i), i, score)
        picked.append(best[1])
        scores.append(best[2])
    assert [r[1] for r in a] == picked, f"spark slate {[r[1] for r in a]} != ref {picked}"
    assert [r[3] for r in a] == scores
    assert a[0][1] == cand[0]  # first pick = max relevance

    def mean_pairwise(ids):
        M = np.stack([np.asarray(vecs[i]) / norm[i] for i in ids])
        S = M @ M.T
        iu = np.triu_indices(len(ids), 1)
        return float(S[iu].mean())

    assert mean_pairwise(picked) <= mean_pairwise(cand[:_MMR_K]) + 1e-12


def test_adaptive_route_beats_pure_ivf(spark):
    """Adaptive routing invariants: both routes exercised; exact-routed
    queries recall 1.0 vs brute force by construction; overall recall
    strictly above a pure-IVF baseline at the same nprobe (the routed
    exact queries are exactly the ones IVF under-recalls); deterministic."""
    from pyspark.sql import functions as FF
    from pyspark.sql.window import Window as W

    from bpspark.io import table
    from bpspark.llm_ops import (
        _ADAPTIVE_NPROBE,
        _dot,
        _ivf_centroid_literal,
        _ivf_probe_assign,
        _with_norm,
    )

    rows1 = OPS["sim_adaptive_route"].fn(spark, SF_SMALL).collect()
    rows2 = OPS["sim_adaptive_route"].fn(spark, SF_SMALL).collect()
    assert rows1 == rows2
    routes = {r.route for r in rows1}
    assert routes == {"ivf", "exact"}, f"both routes must fire, got {routes}"

    # ground truth: brute force for the same 25 queries
    e = _with_norm(table(spark, SF_SMALL, "embeddings"))
    q = e.filter(FF.col("vec_id") < 25).select(
        FF.col("vec_id").alias("query_id"),
        FF.col("embedding").alias("q_emb"),
        FF.col("norm").alias("q_norm"),
    )
    cos = _dot(FF.col("q_emb"), FF.col("embedding")) / (FF.col("q_norm") * FF.col("norm"))
    w = W.partitionBy("query_id").orderBy(FF.col("cosine").desc(), "neighbor_id")
    truth_rows = (
        e.join(FF.broadcast(q), FF.col("vec_id") != FF.col("query_id"))
        .select("query_id", FF.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rn", FF.row_number().over(w))
        .filter(FF.col("rn") <= 5)
        .collect()
    )
    truth = {(r.query_id, r.neighbor_id) for r in truth_rows}
    got = {(r.query_id, r.neighbor_id) for r in rows1}
    exact_q = {r.query_id for r in rows1 if r.route == "exact"}
    for qid in exact_q:
        t = {p for p in truth if p[0] == qid}
        g = {p for p in got if p[0] == qid}
        assert t == g, f"exact-routed query {qid} must have perfect recall"

    # pure-IVF baseline at the same nprobe over the same queries
    assigned = _ivf_probe_assign(e, _ADAPTIVE_NPROBE)
    home = assigned.select(FF.col("home_cent").alias("cent_id"), "vec_id", "embedding", "norm")
    probes = (
        assigned.filter(FF.col("vec_id") < 25)
        .select(
            FF.col("vec_id").alias("query_id"),
            FF.col("embedding").alias("q_emb"),
            FF.col("norm").alias("q_norm"),
            FF.explode("probe_cents").alias("cent_id"),
        )
    )
    ivf_rows = (
        home.join(FF.broadcast(probes), "cent_id")
        .filter(FF.col("vec_id") != FF.col("query_id"))
        .select("query_id", FF.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rn", FF.row_number().over(w))
        .filter(FF.col("rn") <= 5)
        .collect()
    )
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_rows}
    recall_adaptive = len(truth & got) / len(truth)
    recall_ivf = len(truth & ivf) / len(truth)
    assert recall_adaptive > recall_ivf, (
        f"adaptive {recall_adaptive:.3f} must beat pure IVF {recall_ivf:.3f}"
    )
    assert recall_adaptive >= 0.7, f"adaptive recall {recall_adaptive:.3f} too low"


def test_boilerplate_ngrams_flagging_rules(spark):
    """The three defining rules of per-source boilerplate: (1) a gram in
    >= _BP_MIN_DOCS distinct docs of ONE source flags every doc carrying
    it; (2) the same gram in a different source does NOT flag (domain
    scoping); (3) within-doc repetition counts once (array_distinct), so
    a single doc repeating the template 5x is not boilerplate."""
    from bpspark.quality import _BP_MIN_DOCS, boilerplate_frame

    tmpl = "sign up for our newsletter today"
    rows = (
        # source A: template appears in exactly _BP_MIN_DOCS docs
        [(i, "a", f"{tmpl} plus unique filler words {i} x y z w")
         for i in range(_BP_MIN_DOCS)]
        # source B: SAME template but only one doc -> not boilerplate there
        + [(100, "b", f"{tmpl} other body entirely distinct here")]
        # source A: one doc repeating a PRIVATE phrase 5x -> distinct once
        + [(101, "a", " ".join(["private repeated phrase only here"] * 5))]
    )
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in boilerplate_frame(d).collect()}
    for i in range(_BP_MIN_DOCS):
        assert out[i]["n_bp"] >= 4, out[i]  # the template's 4 trigrams
    assert out[100]["n_bp"] == 0, out[100]
    assert out[101]["n_bp"] == 0, out[101]
    assert out[101]["n_grams"] < 5 * 3  # distinct collapsed the repeats


def test_boilerplate_ngrams_nondegenerate_at_sf001(spark):
    """At sf0.01 the corpus must actually produce flagged docs — guards
    against a parameter drift that silences the signal entirely (n=5 was
    degenerate on this vocabulary; see _BP_N comment)."""
    pdf = OPS["text_boilerplate_ngrams"].fn(spark, "/root/testdata/sf0.01").toPandas()
    assert len(pdf) == 500
    assert (pdf.n_bp > 0).sum() >= 10
    assert ((pdf.bp_frac >= 0) & (pdf.bp_frac <= 1)).all()


def test_kcenter_coreset_matches_numpy_greedy(spark):
    """Selected ids must equal the exact numpy farthest-point greedy
    (same seed, same min-vec_id tie-break) and radii must match to 1e-6
    (the output rounding); radii are non-increasing after the seed."""
    import numpy as np
    import pandas as pd

    ops = all_ops()
    pdf = (
        ops["embedding_kcenter_coreset"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .sort_values("rnk")
        .reset_index(drop=True)
    )
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet").sort_values("vec_id")
    ids = emb["vec_id"].to_numpy()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)

    sel = [0]
    min_sq = ((X - X[0]) ** 2).sum(axis=1)
    want = [(1, int(ids[0]), 0.0)]
    for rnk in range(2, 17):
        masked = min_sq.copy()
        masked[sel] = -1.0
        far = int(np.lexsort((ids, -masked))[0])
        want.append((rnk, int(ids[far]), float(np.sqrt(min_sq[far]))))
        sel.append(far)
        min_sq = np.minimum(min_sq, ((X - X[far]) ** 2).sum(axis=1))

    assert list(pdf["vec_id"]) == [w[1] for w in want]
    assert np.allclose(pdf["radius"], [round(w[2], 6) for w in want], atol=2e-6)
    r = pdf["radius"].to_numpy()[1:]
    assert (np.diff(r) <= 1e-12).all()


def test_dedup_recall_eval_invariants(spark):
    """hit ≤ min(truth, pred); planted twins guarantee truth_pairs ≥ 25
    and the LSH detector must recover nearly all true pairs (the twins
    are 1-word perturbations, far above the 0.5 design threshold)."""
    row = all_ops()["dedup_recall_eval"].fn(spark, SF_SMALL).collect()[0]
    assert row["hit_pairs"] <= min(row["truth_pairs"], row["pred_pairs"])
    assert row["truth_pairs"] >= 25
    assert row["recall"] >= 0.9
    assert row["precision"] >= 0.5


def test_decision_tree_hist_matches_pandas_replica(spark):
    """The distributed histogram tree must be reproduced byte-for-byte
    by a sequential pandas/int replica of the same algorithm (same bins,
    same exact integer moments, same tie-breaks)."""
    import numpy as np
    import pandas as pd

    B, DEPTH, MIN_LEAF = 16, 2, 100
    got = (
        all_ops()["ml_decision_tree_hist"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )

    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    x = np.stack(
        [li["l_quantity"].astype(float), li["l_discount"].astype(float)], axis=1
    )
    y = np.round(li["l_extendedprice"].astype(float) * 100).astype(np.int64)
    edges = []
    bins = np.zeros((len(li), 2), dtype=np.int64)
    for f in (0, 1):
        mn, mx = x[:, f].min(), x[:, f].max()
        w = (mx - mn) / B or 1.0
        edges.append((mn, w))
        bins[:, f] = np.minimum(B - 1, np.floor((x[:, f] - mn) / w)).astype(np.int64)

    import math

    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    node = np.zeros(len(li), dtype=np.int64)
    want = {}
    active = [0]
    for depth in range(DEPTH + 1):
        new_active = []
        for nid in active:
            m = node == nid
            n_tot = int(m.sum())
            sy = int(y[m].sum())
            want[nid] = dict(depth=depth, n=n_tot, mean=q6(sy / (100.0 * n_tot)),
                             feature=None, sbin=None)
            if depth == DEPTH or n_tot < 2 * MIN_LEAF:
                continue
            # gain form: Σy² cancels from every split comparison (the op's
            # staged-float derivation — see _grow_hist_tree)
            gain_parent = float(sy) * float(sy) / float(n_tot)
            best = None
            for f in (0, 1):
                for s in range(B - 1):
                    lm = m & (bins[:, f] <= s)
                    ln = int(lm.sum())
                    rn = n_tot - ln
                    if ln < MIN_LEAF or rn < MIN_LEAF:
                        continue
                    ls = int(y[lm].sum())
                    rs = sy - ls
                    gain = float(ls) * float(ls) / float(ln) + float(rs) * float(
                        rs
                    ) / float(rn)
                    cand = (-gain, f, s)
                    if best is None or cand < best:
                        best = cand
            if best is not None and -best[0] > gain_parent:
                f, s = best[1], best[2]
                want[nid]["feature"], want[nid]["sbin"] = f, s
                right = m & (bins[:, f] > s)
                node[m] = 2 * nid + 1
                node[right] = 2 * nid + 2
                new_active += [2 * nid + 1, 2 * nid + 2]
        active = sorted(new_active)
        if not active:
            break

    assert list(got["node"]) == sorted(want)
    for _, r in got.iterrows():
        w = want[r["node"]]
        assert r["depth"] == w["depth"] and r["n"] == w["n"], r["node"]
        assert abs(r["mean_y"] - w["mean"]) < 1e-9, r["node"]
        if w["feature"] is None:
            assert r["kind"] == "leaf" and pd.isna(r["feature"])
        else:
            assert r["kind"] == "split"
            assert int(r["feature"]) == w["feature"] and int(r["split_bin"]) == w["sbin"]
            mn, wdt = edges[w["feature"]]
            assert abs(r["threshold"] - q6(mn + wdt * (w["sbin"] + 1))) < 1e-9


def test_pack_bestfit_replica_and_bounds(spark):
    """FFD packing must (a) conserve every doc, (b) never exceed the
    budget on multi-doc packs, (c) use no more packs than greedy per
    source, and (d) match a pure-Python FFD replica exactly."""
    import pandas as pd

    from bpspark.llm_ops import _PACK_BUDGET_TOKENS, _pack_bestfit_group

    ops = all_ops()
    bf = ops["doc_pack_bestfit"].fn(spark, SF_SMALL).toPandas()
    gr = ops["doc_pack_greedy"].fn(spark, SF_SMALL).toPandas()

    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet")
    docs["n_tokens"] = docs["text"].str.split(" ").str.len()
    assert bf["n_docs"].sum() == len(docs)
    assert (bf[bf["n_docs"] > 1]["pack_tokens"] <= _PACK_BUDGET_TOKENS).all()
    for src, g in bf.groupby("source"):
        assert len(g) <= len(gr[gr["source"] == src]), src
        want = _pack_bestfit_group(
            docs[docs["source"] == src][["source", "doc_id", "n_tokens"]]
        ).reset_index(drop=True)
        got = g.sort_values("pack_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype(want.dtypes.to_dict()), want, check_like=True
        )
    # token conservation
    assert bf["pack_tokens"].sum() == docs["n_tokens"].sum()


def test_image_phash_twin_recall_and_invariants(spark):
    """All 20 planted image twins must surface despite capped hot
    buckets (the multi-probe guarantee); every pair obeys the Hamming
    screen and canonical (doc_a < doc_b) form with no duplicates."""
    pdf = all_ops()["dedup_image_phash"].fn(spark, SF_SMALL).toPandas()
    twins = pdf[(pdf["doc_b"] - pdf["doc_a"]) == 1_000_000]
    twins = twins[twins["doc_a"] < 20]
    assert len(twins) == 20
    assert (pdf["hamming"] <= 7).all()
    assert (pdf["doc_a"] < pdf["doc_b"]).all()
    assert not pdf.duplicated(["doc_a", "doc_b"]).any()


def test_audio_fingerprint_twin_recall_and_invariants(spark):
    """All 20 planted audio twins (mid-clip 3-sample splice, measured
    Hamming 0-2) must surface through the shared banded-LSH machinery;
    every pair obeys the Hamming screen and canonical (doc_a < doc_b)
    form with no duplicates."""
    pdf = all_ops()["dedup_audio_fingerprint"].fn(spark, SF_SMALL).toPandas()
    twins = pdf[(pdf["doc_b"] - pdf["doc_a"]) == 1_000_000]
    twins = twins[twins["doc_a"] < 20]
    assert len(twins) == 20
    assert (pdf["hamming"] <= 6).all()
    assert (pdf["doc_a"] < pdf["doc_b"]).all()
    assert not pdf.duplicated(["doc_a", "doc_b"]).any()


def test_audio_fp64_matches_independent_reference(spark):
    """The executor-side audio fingerprint must equal an independently-
    written reference (stdlib wave decode + inline gradient packing) on
    real WAV payloads."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from bpspark.llm_ops import _AFP_WINDOWS, _afp_batches, wav_audio_payloads

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 30)
    rows = wav_audio_payloads(d).collect()
    got = next(
        _afp_batches(
            iter([pd.DataFrame({"doc_id": [r["doc_id"] for r in rows],
                                 "payload": [bytes(r["payload"]) for r in rows]})])
        )
    )
    for doc_id, afp, r in zip(got["doc_id"], got["afp"], rows):
        with wave.open(io.BytesIO(bytes(r["payload"])), "rb") as wf:
            x = np.abs(
                np.frombuffer(wf.readframes(wf.getnframes()), dtype="<i2").astype(float)
            )
        n = len(x)
        e = [
            x[(i * n) // _AFP_WINDOWS: ((i + 1) * n) // _AFP_WINDOWS].mean()
            for i in range(_AFP_WINDOWS)
        ]
        want = 0
        for i in range(_AFP_WINDOWS - 1):
            if e[i + 1] > e[i]:
                want |= 1 << i
        if want >= 1 << 63:
            want -= 1 << 64
        assert afp == want, doc_id


def test_image_dhash_matches_independent_reference(spark):
    """The executor-side dHash must equal an independently-written
    reference on real decoded payloads."""
    import numpy as np

    from pyspark.sql import functions as F

    from bpspark.llm_ops import (
        _phash_batches,
        decode_ppm,
        ppm_image_payloads,
    )

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 30)
    rows = ppm_image_payloads(d).collect()
    import pandas as pd

    got = next(
        _phash_batches(
            iter([pd.DataFrame({"doc_id": [r["doc_id"] for r in rows],
                                 "payload": [bytes(r["payload"]) for r in rows]})])
        )
    )
    for doc_id, phash, r in zip(got["doc_id"], got["phash"], rows):
        img = decode_ppm(bytes(r["payload"])).astype(np.float64).mean(axis=2)
        h, w = img.shape
        grid = img[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
        want = 0
        for i, b in enumerate((grid[:, 1:] > grid[:, :-1]).ravel()):
            if b:
                want |= 1 << i
        if want >= 1 << 63:
            want -= 1 << 64
        assert phash == want, doc_id


def test_multimodal_pipeline_funnel(spark):
    """Funnel counts must be monotone non-increasing through the
    filtering stages, every stage must be populated, and the quality
    gate must genuinely drop rows on this corpus."""
    pdf = (
        all_ops()["pipeline_multimodal_corpus"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index("stage")["n_rows"]
    )
    assert pdf["0_raw"] == pdf["1_decoded"]  # every payload decodes
    assert pdf["1_decoded"] >= pdf["2_quality_gate"] >= pdf["3_phash_dedup"] > 0
    assert pdf["2_quality_gate"] < pdf["1_decoded"]
    assert 0 < pdf["4_shards"] <= pdf["3_phash_dedup"]


def test_audio_pipeline_funnel(spark):
    """Audio corpus funnel: monotone non-increasing through the
    filtering stages, every stage populated, and the loudness gate must
    genuinely drop rows on this corpus."""
    pdf = (
        all_ops()["pipeline_audio_corpus"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index("stage")["n_rows"]
    )
    assert pdf["0_raw"] == pdf["1_decoded"]  # every payload decodes
    assert pdf["1_decoded"] >= pdf["2_quality_gate"] >= pdf["3_afp_dedup"] > 0
    assert pdf["2_quality_gate"] < pdf["1_decoded"]
    assert 0 < pdf["4_shards"] <= pdf["3_afp_dedup"]


def test_mojibake_repair_roundtrip_identity(spark):
    """fix_mojibake must restore the EXACT original string for any
    UTF-8-read-as-Latin-1 corruption (2-byte and 3-byte sequences,
    Greek/Cyrillic/punctuation/€), leave clean ASCII byte-identical and
    unflagged, and the pinned _MOJI_N_SEQS constant must equal an
    independent re.findall count on the corrupted suffix."""
    import re

    from pyspark.sql import functions as F

    from bpspark.llm_ops import (
        _MOJI_DETECT,
        _MOJI_N_SEQS,
        MOJIBAKE_SUFFIX,
        fix_mojibake,
    )

    corrupted_suffix = MOJIBAKE_SUFFIX.encode("utf-8").decode("latin-1")
    assert _MOJI_N_SEQS == len(
        re.findall("[\u00C2-\u00EF][\u0080-\u00BF]", corrupted_suffix)
    )

    originals = [
        "plain ascii stays put",
        "café naïve résumé",
        "Ελληνικά и русский текст",
        "dashes — and “smart quotes” cost €99",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(originals)], "id long, text string"
    )
    # corrupt rows 1..3 with a REAL in-plan transcode; row 0 stays clean
    bad = F.when(
        F.col("id") > 0, F.decode(F.encode("text", "UTF-8"), "ISO-8859-1")
    ).otherwise(F.col("text"))
    out = df.select(
        "id",
        "text",
        bad.alias("bad"),
        fix_mojibake(bad).alias("fixed"),
    ).collect()
    for r in out:
        assert r.fixed == r.text, r.id  # exact roundtrip, not just a hash
    assert out[0].bad == out[0].text  # clean row never altered
    import re as _re
    assert not _re.search("[\u00C2-\u00EF][\u0080-\u00BF]", out[0].bad)


def test_unicode_nfc_collapses_decomposed_forms(spark):
    """The NFC op must make decomposed and precomposed spellings hash
    identically (the dedup-key property it exists for), flag exactly the
    planted rows, and shrink each planted doc by the 3 combining marks."""
    pdf = (
        all_ops()["text_unicode_nfc"].fn(spark, SF_SMALL).toPandas().set_index("doc_id")
    )
    assert pdf.loc[pdf.index < 50, "changed"].all()
    assert not pdf.loc[pdf.index >= 50, "changed"].any()
    planted = pdf[pdf.index < 50]
    assert ((planted["len_raw"] - planted["len_nfc"]) == 3).all()

    import unicodedata

    from bpspark.llm_ops import _NFC_SUFFIX

    pre = unicodedata.normalize("NFC", _NFC_SUFFIX)
    assert pre != _NFC_SUFFIX and len(pre) == len(_NFC_SUFFIX) - 3


def test_fellegi_sunter_em_likelihood_monotone_property():
    """EM's defining property: the observed-data log-likelihood is
    non-decreasing at every iteration, for ANY pattern-count input —
    hypothesis drives random 8-pattern histograms through _fs_em and
    checks the whole trajectory (clamping can only bind at the 1e-6
    boundary, which never decreases likelihood on these inputs)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bpspark.llm_ops import _fs_em

    def loglik(patterns, lam, m, u):
        ll = 0.0
        for g1, g2, g3, n in patterns:
            g = (g1, g2, g3)
            pm, pu = lam, 1.0 - lam
            for k in range(3):
                pm *= m[k] if g[k] else (1.0 - m[k])
                pu *= u[k] if g[k] else (1.0 - u[k])
            ll += n * math.log(pm + pu)
        return ll

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=1000), min_size=8, max_size=8)
    )
    def check(counts):
        if sum(counts) == 0:
            return
        patterns = [
            ((i >> 2) & 1, (i >> 1) & 1, i & 1, n)
            for i, n in enumerate(counts)
            if n > 0
        ]
        # BOTH trajectories: the raw path, and the quantize=True path the
        # op actually ships (1e-9 floor-quantized state each round — the
        # cross-engine oracle contract); quantization moves the state by
        # at most 1e-9 per coordinate, so monotonicity must survive a
        # correspondingly loosened tolerance.
        for quantize, tol in ((False, 1e-9), (True, 1e-6)):
            trace = []
            _fs_em(patterns, trace=trace, quantize=quantize)
            lls = [loglik(patterns, lam, m, u) for lam, m, u in trace]
            for a, b in zip(lls, lls[1:]):
                assert b >= a - tol, (quantize, lls)

    check()


def test_hamming_band_pairs_lossless_to_threshold(spark):
    """The documented banding+1-bit-probe guarantee, mechanically
    enforced: on random 64-bit signatures with planted partners at
    every Hamming distance 0..7 (no hot buckets at this density), the
    shared LSH machinery must surface EXACTLY the brute-force pair set
    within the screen threshold."""
    import itertools
    import random

    from bpspark.llm_ops import _hamming_band_pairs

    rng = random.Random(20260815)
    sigs = {}
    for i in range(120):
        sigs[i] = rng.getrandbits(64)
    # planted partners at each distance 0..7 off the first 8 signatures
    for d in range(8):
        base = sigs[d]
        flip = 0
        for bit in rng.sample(range(64), d):
            flip |= 1 << bit
        sigs[1000 + d] = base ^ flip
    to_signed = lambda v: v - (1 << 64) if v >= 1 << 63 else v
    df = spark.createDataFrame(
        [(k, to_signed(v)) for k, v in sigs.items()], "doc_id long, sig long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _hamming_band_pairs(df, "sig", hamming_max=7, bucket_cap=32).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")
    want = {
        (a, b): ham(sigs[a], sigs[b])
        for a, b in itertools.combinations(sorted(sigs), 2)
        if ham(sigs[a], sigs[b]) <= 7
    }
    assert got == want


def test_fellegi_sunter_em_learns_planted_structure(spark):
    """EM must separate the planted twins from the background: the
    all-agree pattern's posterior ≥ 0.95 and its count equals the
    planted-pair count exactly; the all-disagree pattern ≤ 0.01; and
    every emitted (posterior, match_weight) pair obeys the
    Fellegi-Sunter identity posterior/(1-posterior) =
    2^weight · λ/(1-λ) — checked via the weight-ordered odds ratio."""
    import math

    pdf = all_ops()["er_fellegi_sunter_em"].fn(spark, SF_SMALL).toPandas()
    pdf = pdf.set_index(["g_name", "g_bal", "g_seg"])

    # planted pairs: base-v1 (ids<40) + base-v2 (ids<20) + v1-v2 (ids<20),
    # all (1,1,1): same bal/seg, name lev 1 ('x'), 2 ('yz'), 2 ('x'->'yz')
    import duckdb

    n_lt40, n_lt20 = duckdb.sql(
        f"SELECT COUNT(*) FILTER (c_custkey < 40), COUNT(*) FILTER (c_custkey < 20) "
        f"FROM '{SF_SMALL}/customer.parquet'"
    ).fetchone()
    n_planted = n_lt40 + 2 * n_lt20
    assert pdf.loc[(1, 1, 1), "n_pairs"] >= n_planted
    assert pdf.loc[(1, 1, 1), "posterior"] >= 0.95
    assert pdf.loc[(0, 0, 0), "posterior"] <= 0.01

    # Fellegi-Sunter identity: log-odds(posterior) - weight must be the
    # same constant (log2 prior odds) for EVERY pattern
    lo = [
        math.log2(p / (1.0 - p)) - w
        for p, w in zip(pdf["posterior"], pdf["match_weight"])
    ]
    assert max(lo) - min(lo) < 1e-6

    # determinism: a second run returns the identical frame
    pdf2 = (
        all_ops()["er_fellegi_sunter_em"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index(["g_name", "g_bal", "g_seg"])
    )
    assert pdf.equals(pdf2)


def test_fellegi_sunter_pattern_counts_match_duckdb_truth(spark):
    """The integer agreement-pattern counts (the EM's sufficient
    statistics) must equal an independent DuckDB recomputation of the
    same pair population (md5-ring background + (nat,bal) blocks)."""
    import duckdb

    pdf = (
        all_ops()["er_fellegi_sunter_em"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index(["g_name", "g_bal", "g_seg"])["n_pairs"]
    )
    from bpspark.llm_ops import _FS_BG_WINDOW

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM '{SF_SMALL}/customer.parquet'"
    )
    truth = con.sql(f"""
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
            SELECT a.id AS id, a.name AS name, a.bal AS bal, a.seg AS seg,
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
        )
        SELECT g_name, g_bal, g_seg, COUNT(*) AS n
        FROM gam GROUP BY ALL ORDER BY g_name, g_bal, g_seg
    """).df().set_index(["g_name", "g_bal", "g_seg"])["n"]
    assert dict(pdf) == dict(truth)


def test_t_closeness_matches_pandas_emd_replica(spark):
    """Every class's EMD must equal an independent pandas recomputation
    (cumulative-histogram earth mover over balance bands), the emitted
    float must be exactly emd_num/emd_den, and the release gate must be
    consistent with (k >= 5 AND emd <= 0.2)."""
    import numpy as np
    import pandas as pd

    got = all_ops()["privacy_t_closeness"].fn(spark, SF_SMALL).toPandas()
    src = pd.read_parquet(f"{SF_SMALL}/customer.parquet")
    src["band"] = np.floor(src["c_acctbal"] / 1000).astype(int)
    bands = sorted(src["band"].unique())
    n = len(src)
    gcum = src["band"].value_counts().reindex(bands, fill_value=0).sort_index().cumsum()
    for _, r in got.iterrows():
        cls = src[(src["c_nationkey"] == r["nat"]) & (src["c_mktsegment"] == r["seg"])]
        acum = cls["band"].value_counts().reindex(bands, fill_value=0).sort_index().cumsum()
        num = int(np.abs(acum.values * n - gcum.values * len(cls)).sum())
        den = len(cls) * n * max(len(bands) - 1, 1)
        assert r["emd_num"] == num and r["emd_den"] == den, (r["nat"], r["seg"])
        assert r["emd"] == num / den
        assert bool(r["released"]) == (r["group_size"] >= 5 and r["emd"] <= 0.2)
    assert got["group_size"].sum() == n


def test_benford_digits_accounting_identities(spark):
    """Digit counts must cover every qualifying order exactly once,
    frequencies must sum to 1, each chi2 term must equal its own
    recomputation from the emitted integers, and the expected
    frequencies must be the Benford constants."""
    import math

    import pandas as pd

    got = all_ops()["dq_benford_digits"].fn(spark, SF_SMALL).toPandas()
    orders = pd.read_parquet(f"{SF_SMALL}/orders.parquet")
    n_orders = int((orders["o_totalprice"] >= 1).sum())
    assert got["n_obs"].sum() == n_orders
    assert (got["n_total"] == n_orders).all()
    assert abs(got["obs_freq"].sum() - 1.0) < 1e-12
    for _, r in got.iterrows():
        assert r["expected_freq"] == math.log10(1 + 1 / int(r["digit"]))
        diff = r["n_obs"] - r["expected_freq"] * r["n_total"]
        assert r["chi2_term"] == diff * diff / (r["expected_freq"] * r["n_total"])


def test_span_corruption_roundtrip_reconstructs_text(spark):
    """The defining property of the T5 objective: substituting each
    <extra_id_k> sentinel in the corrupted input with the k-th span of
    the target must reproduce the original document EXACTLY, for every
    document; the realized mask rate must sit near the 25% parameter."""
    import re

    import pandas as pd

    got = all_ops()["doc_span_corruption"].fn(spark, SF_SMALL).toPandas()
    docs = pd.read_parquet(f"{SF_SMALL}/documents.parquet").set_index("doc_id")[
        "text"
    ]
    sent = re.compile(r"<extra_id_(\d+)>")
    for _, r in got.iterrows():
        spans = {}
        if isinstance(r["target"], str):
            parts = sent.split(r["target"])
            # parts = ['', '0', ' words ', '1', ' words ', ...]
            for k, words in zip(parts[1::2], parts[2::2]):
                spans[int(k)] = words.strip()
        rebuilt = sent.sub(lambda m: spans[int(m.group(1))], r["corrupted"])
        rebuilt = re.sub(" +", " ", rebuilt).strip()
        assert rebuilt == docs.loc[r["doc_id"]], r["doc_id"]
        assert r["n_masked"] == sum(len(s.split()) for s in spans.values())
    rate = got["n_masked"].sum() / got["n_words"].sum()
    assert 0.20 < rate < 0.30


def test_gbdt_hist_matches_pandas_replica(spark):
    """3-round boosted ensemble must match a sequential pandas/int
    replica byte-for-byte (same bins, moments, tie-breaks, learning
    rate, HALF_UP residual rounding), and train RMSE must be
    non-increasing."""
    import numpy as np
    import pandas as pd

    import math

    B, DEPTH, MIN_LEAF, ROUNDS, LR = 16, 2, 100, 3, 0.5

    def q6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    got = (
        all_ops()["ml_gbdt_hist"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .sort_values(["rnd", "node"])
        .reset_index(drop=True)
    )
    rmse_rows = got[got["kind"] == "round_rmse"]
    assert (rmse_rows["value"].diff().dropna() <= 1e-9).all()

    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    x = np.stack([li["l_quantity"].astype(float), li["l_discount"].astype(float)], axis=1)
    y = np.round(li["l_extendedprice"].astype(float) * 100).astype(np.int64)
    bins = np.zeros((len(li), 2), dtype=np.int64)
    edges = []
    for f in (0, 1):
        mn, mx = x[:, f].min(), x[:, f].max()
        w = (mx - mn) / B or 1.0
        edges.append((mn, w))
        bins[:, f] = np.minimum(B - 1, np.floor((x[:, f] - mn) / w)).astype(np.int64)

    def grow(yv):
        node = np.zeros(len(yv), dtype=np.int64)
        nodes, active = {}, [0]
        for depth in range(DEPTH + 1):
            new_active = []
            for nid in active:
                m = node == nid
                n_tot = int(m.sum())
                sy = int(yv[m].sum())
                nodes[nid] = dict(depth=depth, n=n_tot, sy=sy, feature=None, sbin=None)
                if depth == DEPTH or n_tot < 2 * MIN_LEAF:
                    continue
                # gain form: Σy² cancels from every split comparison
                gain_parent = float(sy) * float(sy) / float(n_tot)
                best = None
                for f in (0, 1):
                    for s in range(B - 1):
                        lm = m & (bins[:, f] <= s)
                        ln = int(lm.sum()); rn = n_tot - ln
                        if ln < MIN_LEAF or rn < MIN_LEAF:
                            continue
                        ls = int(yv[lm].sum())
                        rs = sy - ls
                        gain = (float(ls) * float(ls) / float(ln)
                                + float(rs) * float(rs) / float(rn))
                        if best is None or (-gain, f, s) < best:
                            best = (-gain, f, s)
                if best is not None and -best[0] > gain_parent:
                    f, s = best[1], best[2]
                    nodes[nid]["feature"], nodes[nid]["sbin"] = f, s
                    right = m & (bins[:, f] > s)
                    node[m] = 2 * nid + 1
                    node[right] = 2 * nid + 2
                    new_active += [2 * nid + 1, 2 * nid + 2]
            active = sorted(new_active)
            if not active:
                break
        return nodes, node

    resid = y.copy()
    want = []
    for rnd in range(1, ROUNDS + 1):
        nodes, node = grow(resid)
        preds = {
            nid: LR * nd["sy"] / nd["n"]
            for nid, nd in nodes.items()
            if nd["feature"] is None and nd["n"] > 0
        }
        for nid in sorted(nodes):
            nd = nodes[nid]
            f, s = nd["feature"], nd["sbin"]
            thr = None if f is None else q6(edges[f][0] + edges[f][1] * (s + 1))
            val = q6(preds[nid] / 100.0) if nid in preds else None
            want.append((rnd, nid, nd["depth"], "split" if f is not None else "leaf",
                         f, s, thr, nd["n"], val))
        p = np.array([preds.get(nd, 0.0) for nd in node])
        delta = resid - p
        resid = (np.sign(delta) * np.floor(np.abs(delta) + 0.5)).astype(np.int64)
        rmse = float(np.sqrt(int((resid.astype(object) ** 2).sum()) / len(resid)) / 100.0)
        want.append((rnd, -1, None, "round_rmse", None, None, None, len(resid), q6(rmse)))

    want.sort(key=lambda r: (r[0], r[1]))
    assert len(got) == len(want)
    for grow_row, w in zip(got.itertuples(index=False), want):
        g = tuple(grow_row)
        assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3], (g, w)
        for gi, wi in ((g[4], w[4]), (g[5], w[5])):
            assert (pd.isna(gi) and wi is None) or int(gi) == wi, (g, w)
        for gi, wi in ((g[6], w[6]), (g[8], w[8])):
            assert (pd.isna(gi) and wi is None) or abs(gi - wi) < 1e-9, (g, w)
        assert g[7] == w[7], (g, w)


def test_filtered_topk_respects_predicate(spark):
    """Every neighbor must share its query's label, neighbors must be
    the best in-label matches (cross-checked against the unfiltered
    top-k: any unfiltered neighbor of the same label must appear here
    at equal-or-better rank), and no self-pairs."""
    import pandas as pd

    ops = all_ops()
    filt = ops["sim_filtered_topk"].fn(spark, SF_SMALL).toPandas()
    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")[["vec_id", "label"]]
    lab = dict(zip(emb["vec_id"], emb["label"]))
    assert (filt["query_id"] != filt["neighbor_id"]).all()
    for _, r in filt.iterrows():
        assert lab[r["neighbor_id"]] == lab[r["query_id"]] == r["label"]
    # each query returns exactly 5 (label strata are large enough here)
    assert (filt.groupby("query_id").size() == 5).all()

    unfilt = ops["sim_cosine_topk"].fn(spark, SF_SMALL).toPandas()
    for qid, g in unfilt.groupby("query_id"):
        same = g[[lab[n] == lab[qid] for n in g["neighbor_id"]]]
        got = set(filt[filt["query_id"] == qid]["neighbor_id"])
        assert set(same["neighbor_id"]) <= got, qid


def test_binary_quantized_topk_recall_and_signature(spark):
    """BQ-then-rerank must recover most of the exact top-5 (recall ≥ 0.9
    on this corpus at rerank width 128 — measured 0.96; isotropic
    embeddings need the generous width), every returned cosine must match
    the exact op's value for shared pairs, and the numpy signature of a
    few vectors must match the JVM fold bit-for-bit."""
    import numpy as np
    import pandas as pd

    ops = all_ops()
    bq = ops["sim_binary_quantized_topk"].fn(spark, SF_SMALL).toPandas()
    exact = ops["sim_cosine_topk"].fn(spark, SF_SMALL).toPandas()
    hits = 0
    for qid, g in exact.groupby("query_id"):
        got = set(bq[bq["query_id"] == qid]["neighbor_id"])
        hits += len(set(g["neighbor_id"]) & got)
    assert hits / len(exact) >= 0.9
    merged = bq.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_bq", "_ex"))
    assert (merged["cosine_bq"] == merged["cosine_ex"]).all()

    emb = pd.read_parquet(f"{SF_SMALL}/embeddings.parquet").head(5)
    from pyspark.sql import functions as F

    from bpspark.llm_ops import _BQ_SIG_EXPR

    sig_rows = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", F.expr(_BQ_SIG_EXPR).alias("sig"))
        .filter(F.col("vec_id") < 5)
        .collect()
    )
    sigs = {r["vec_id"]: r["sig"] for r in sig_rows}
    for _, r in emb.iterrows():
        bits = np.asarray(r["embedding"]) > 0
        want = np.uint64(0)
        for i, b in enumerate(bits):
            if b:
                want |= np.uint64(1) << np.uint64(i)
        assert sigs[r["vec_id"]] == int(np.int64(want)), r["vec_id"]


def test_scene_cut_matches_driver_recompute(spark):
    """Scene cuts must equal a driver-side recompute from the decoded
    frames (same dHash, same threshold), and scene counts must be
    cuts + 1 with cut frames listed ascending."""
    from bpspark.llm_ops import (
        _SCENE_CUT_HAMMING,
        _dhash64,
        parse_ppm_stream,
        ppm_stream_payloads,
    )

    got = (
        all_ops()["multimodal_video_scene_cut"]
        .fn(spark, SF_SMALL)
        .toPandas()
        .set_index("doc_id")
    )
    rows = (
        ppm_stream_payloads(
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
        )
        .collect()
    )
    for r in rows:
        frames = parse_ppm_stream(bytes(r["payload"]))
        hs = [_dhash64(f) for f in frames]
        cuts = [
            i
            for i in range(1, len(hs))
            if bin((hs[i] ^ hs[i - 1]) & ((1 << 64) - 1)).count("1")
            > _SCENE_CUT_HAMMING
        ]
        g = got.loc[r["doc_id"]]
        assert g["n_frames"] == len(frames)
        assert g["n_scenes"] == len(cuts) + 1
        want = ",".join(str(c) for c in cuts)
        assert g["cut_frames"] == want, (r["doc_id"], g["cut_frames"], want)


def test_bpe_merge_cache_invalidates_on_corpus_rewrite(tmp_path, monkeypatch):
    """ADVICE r9: the per-process BPE merge memo must key on a corpus
    fingerprint, not the sf path alone — regenerating documents.parquet
    at the same path has to invalidate the entry."""
    import bpspark.llm_ops as lo

    doc = tmp_path / "documents.parquet"
    doc.write_bytes(b"v1")
    calls = []
    monkeypatch.setattr(lo, "_bpe_learn_impl", lambda s, sf: calls.append(sf) or [("m", len(calls))])
    monkeypatch.setattr(lo, "_BPE_MERGE_CACHE", {})

    assert lo._learn_bpe_merges(None, str(tmp_path)) == [("m", 1)]
    assert lo._learn_bpe_merges(None, str(tmp_path)) == [("m", 1)]  # memo hit
    assert len(calls) == 1

    import os

    doc.write_bytes(b"v2-regenerated")  # same path, new bytes
    os.utime(doc, ns=(1, 1))  # force a distinct mtime even on coarse clocks
    assert lo._learn_bpe_merges(None, str(tmp_path)) == [("m", 2)]
    assert len(calls) == 2

    # unfingerprintable corpus (no documents.parquet): learn fresh, no memo
    assert lo._learn_bpe_merges(None, str(tmp_path / "missing")) == [("m", 3)]
    assert lo._learn_bpe_merges(None, str(tmp_path / "missing")) == [("m", 4)]


def test_video_fingerprint_twin_recall_and_invariants(spark):
    """All 20 planted video twins (6-char splice inside ONE frame's
    raster — at most one scene keyframe drifts a few bits) must surface
    through the shared banded-LSH machinery + scene-set aggregation;
    output is canonical (video_a < video_b), duplicate-free, and every
    matched pair carries >= the scene-agreement floor."""
    pdf = all_ops()["dedup_video_fingerprint"].fn(spark, SF_SMALL).toPandas()
    twins = pdf[(pdf["video_b"] - pdf["video_a"]) == 1_000_000]
    twins = twins[twins["video_a"] < 20]
    assert len(twins) == 20, f"twin recall {len(twins)}/20"
    assert (pdf["min_hamming"] <= 7).all()
    assert (pdf["n_matched_scenes"] >= 2).all()
    assert (pdf["video_a"] < pdf["video_b"]).all()
    assert not pdf.duplicated(["video_a", "video_b"]).any()


def test_video_fingerprint_matches_driver_recompute(spark):
    """The scene-keyframe extraction must agree exactly with a
    driver-side recompute from the raw streams (same parser, same cut
    rule as multimodal_video_scene_cut)."""
    from bpspark.llm_ops import (
        _SCENE_CUT_HAMMING,
        _dhash64,
        _scene_keyframe_batches,
        parse_ppm_stream,
        ppm_stream_payloads,
    )
    import pandas as pd

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(40)
    rows = ppm_stream_payloads(d).collect()
    pdf = pd.DataFrame({"doc_id": [r["doc_id"] for r in rows],
                        "payload": [bytes(r["payload"]) for r in rows]})
    got = pd.concat(list(_scene_keyframe_batches(iter([pdf]))))
    for r in rows:
        frames = parse_ppm_stream(bytes(r["payload"]))
        keys, prev = [], None
        for img in frames:
            h = _dhash64(img)
            if prev is None or bin((h ^ prev) & ((1 << 64) - 1)).count("1") > _SCENE_CUT_HAMMING:
                keys.append(h)
            prev = h
        mine = got[got["doc_id"] == r["doc_id"]].sort_values("scene_no")
        assert list(mine["khash"]) == keys, r["doc_id"]
        assert list(mine["scene_no"]) == list(range(len(keys)))


def test_video_scene_pack_overflow_raises(monkeypatch):
    """ADVICE r10: the scene-pack precondition must be a real raise, not
    an assert — under python -O an assert is stripped and scene 64 of
    video N would silently alias scene 0 of video N+1 in the packed id.
    A stream segmenting into >_VFP_SCENE_PACK scenes must ValueError."""
    import pandas as pd
    import pytest

    import bpspark.llm_ops as llm

    def fake_stream(payload):
        # every frame is a cut: alternate far-apart hashes
        for i in range(llm._VFP_SCENE_PACK + 1):
            yield (0 if i % 2 == 0 else (1 << 64) - 1, None if i == 0 else 64)

    monkeypatch.setattr(llm, "_frame_hash_stream", fake_stream)
    pdf = pd.DataFrame({"doc_id": [1], "payload": [b"x"]})
    with pytest.raises(ValueError, match="overflows"):
        list(llm._scene_keyframe_batches(iter([pdf])))


def test_hist_tree_ops_match_oracles_on_empty_lineitem(spark, tmp_path):
    """Empty-input parity for both histogram-tree ops: the decision tree
    grows no node (its oracle returns 0 rows), and GBDT emits only its
    three round_rmse rows with n = 0 and a NULL value (SUM over zero rows
    is NULL in the oracle)."""
    import duckdb
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare_frames

    empty = pq.read_table(f"{SF_SMALL}/lineitem.parquet").slice(0, 0)
    pq.write_table(empty, tmp_path / "lineitem.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'")
    for name, want_rows in (("ml_decision_tree_hist", 0), ("ml_gbdt_hist", 3)):
        op = OPS[name]
        got = op.fn(spark, str(tmp_path)).toPandas()
        want = con.sql(op.sql).df()
        assert len(want) == want_rows, name
        assert compare_frames(got, want, name) == []


def _warm_call_jobs(spark, name, build) -> int:
    """Spark jobs of one warm ``build().collect()``, counted by
    ``obs.profile`` (the first call may add a schema-resolution job)."""
    from bpspark import obs

    build().collect()
    return obs.profile(spark, lambda: build().collect())[1]["jobs"]


def test_hist_tree_ops_job_ceilings(spark):
    """Host-independent regression gate on the one-histogram-per-tree
    grow: Spark jobs per warm call. Per tree the decision tree runs the
    edge min/max aggregate, ONE joint-bin histogram and the output
    collect; GBDT adds the binned-frame checkpoint, one histogram per
    round and the last round's moments."""
    for name, ceiling in (("ml_decision_tree_hist", 5), ("ml_gbdt_hist", 12)):
        jobs = _warm_call_jobs(spark, name, lambda: OPS[name].fn(spark, SF_SMALL))
        assert jobs <= ceiling, f"{name}: {jobs} Spark jobs > {ceiling}"


def test_band_pairs_consumers_job_ceilings(spark):
    """Spark jobs per warm call of the two band_pairs consumers the corpus
    benchmark runs, both at their count before band_pairs: dedup_simhash
    16 (the signature stages, the band and shingle-set checkpoints, the
    sliced band join and the re-rank) and minhash_candidate_pairs 4 (the
    signature, the cap window, the pair repartition and the result — the
    capped self-join merges on the window's exchange, where a broadcast
    of its small side would add a job)."""
    from bpspark import llm_ops

    docs = llm_ops._docs_with_planted_neardups(spark, SF_SMALL)
    for name, ceiling, build in (
        ("dedup_simhash", 16, lambda: OPS["dedup_simhash"].fn(spark, SF_SMALL)),
        ("minhash_candidate_pairs", 4, lambda: llm_ops.minhash_candidate_pairs(docs)),
    ):
        jobs = _warm_call_jobs(spark, name, build)
        assert jobs <= ceiling, f"{name}: {jobs} Spark jobs > {ceiling}"


def test_minhash_overflow_lists_exactly_the_dropped_buckets(spark):
    """Mixed corpus: BUCKET_CAP + 1 identical boilerplate docs (one
    over-cap bucket per band) among 60 real docs and their planted
    near-dup twins. minhash_bucket_overflow must list exactly the buckets
    over the cap, and minhash_candidate_pairs must equal the brute-force
    pairs of every other bucket — so the overflow audit names exactly the
    buckets band_pairs dropped."""
    import itertools
    from collections import defaultdict

    from bpspark import llm_ops
    from bpspark.io import table

    real = table(spark, SF_SMALL, "documents").filter(F.col("doc_id") < 60).select("doc_id", "text")
    twins = real.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.concat("text", F.lit(" perturbed")).alias("text")
    )
    boiler = spark.range(llm_ops.BUCKET_CAP + 1).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("the same boilerplate text repeated for every single doc here").alias("text"),
    )
    docs = real.unionByName(twins).unionByName(boiler)
    buckets = defaultdict(list)
    for r in llm_ops._minhash_bands(docs).collect():
        buckets[r.band, r.bucket].append(r.doc_id)
    over = {(k[0], k[1], len(v)) for k, v in buckets.items() if len(v) > llm_ops.BUCKET_CAP}
    want = {
        p
        for v in buckets.values()
        if len(v) <= llm_ops.BUCKET_CAP
        for p in itertools.combinations(sorted(v), 2)
    }
    assert len(over) == llm_ops.N_BANDS
    assert {(i, i + 1_000_000) for i in range(60)} <= want
    got_over = {tuple(r) for r in llm_ops.minhash_bucket_overflow(docs).collect()}
    assert got_over == over
    got = {tuple(r) for r in llm_ops.minhash_candidate_pairs(docs).collect()}
    assert got == want


IVF_FAMILY = (
    "sim_cosine_ivf",
    "sim_knn_graph_ivf",
    "sim_ivf_recall_eval",
    "sim_ivf_index_persist",
    "embedding_pq_encode",
    "sim_pq_adc_search",
    "sim_ivfpq_search",
    "sim_adaptive_route",
    "stream_ivf_index_append",
    "sim_ivf_index_retrain",
    "sim_ivf_index_compact",
    "dedup_semdedup",
)


def _sf_copy_with_embeddings(dst, rows: int) -> str:
    """A dataset dir that links every table of SF_SMALL except
    ``embeddings``, which keeps only its first ``rows`` rows."""
    import os

    import pyarrow.parquet as pq

    from bpspark.io import TABLES

    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMALL}/{t}.parquet", dst / f"{t}.parquet")
    emb = pq.read_table(f"{SF_SMALL}/embeddings.parquet")
    pq.write_table(emb.slice(0, rows), dst / "embeddings.parquet")
    return str(dst)


def test_ivf_family_on_empty_corpus(spark, tmp_path):
    """An empty embeddings table trains an empty quantizer and no PQ
    codebook; that literal must still be typed, so every IVF, PQ,
    routing and streaming-index op plans and returns 0 rows — and the
    oracle-backed ones match DuckDB (sim_ivf_recall_eval's one row reads
    0 queries, 0 pairs and a NULL recall on both engines)."""
    from tests.conftest import duck_con
    from tests.oracle_compare import compare_frames

    sf = _sf_copy_with_embeddings(tmp_path, 0)
    con = duck_con(sf)
    for name in IVF_FAMILY:
        o = OPS[name]
        got = o.fn(spark, sf).toPandas()
        if o.sql is None:
            assert len(got) == 0, (name, got)
            continue
        problems = compare_frames(got, con.sql(o.sql).df(), name)
        assert not problems, "\n".join(problems)
        assert len(got) == (1 if name == "sim_ivf_recall_eval" else 0), (name, got)
    con.close()


def test_pq_ops_on_corpus_short_of_seeds(spark, tmp_path):
    """100 vectors hold only 2 with vec_id % 61 == 0, fewer than PQ_K
    codebook seeds: training tops the seeds up in vec_id order, so all
    three PQ ops return rows, every code lies in [0, PQ_K), and a second
    call reproduces the first."""
    from bpspark import llm_ops

    sf = _sf_copy_with_embeddings(tmp_path, 100)
    for name in ("embedding_pq_encode", "sim_pq_adc_search", "sim_ivfpq_search"):
        a = OPS[name].fn(spark, sf).toPandas()
        b = OPS[name].fn(spark, sf).toPandas()
        assert len(a) > 0, name
        assert a.equals(b), name
        if "code" in a.columns:
            assert a.code.between(0, llm_ops.PQ_K - 1).all(), name
