"""Operator registry.

Each operator from SURVEY.md §2.3 registers itself here with
 - ``name``: the op id (the ``queries()`` key in ``__spark_entry__.py``)
 - ``fn``: ``(spark, sf_dir) -> DataFrame`` building a declarative plan
 - ``sql``: equivalent DuckDB ANSI SQL (the driver's oracle), or ``None``
   for non-SQL-expressible ops (driver then records a rows-only check).

Column-name contract: every computed/aggregate column is aliased
identically in the Spark plan and the oracle SQL — the driver sorts
columns by name before value-hashing.

STANDING RULE (r8, on reaching never-swept = 0 — every registered op has
a driver row): the registration freeze is lifted, but a NEW op may land
ONLY together with a same-round driver row — i.e. it must be placed
inside the current round's 50-op ``_PRIORITY`` window (evicting a
re-certification filler, never a never-swept/stale candidate) in the
same commit that registers it. An op the driver has never executed is
evidence debt from the day it lands; this rule keeps the debt at zero.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, Op] = {}

# Driver-sweep priority. The correctness driver walks ``queries()`` in dict
# order with a bounded budget (rounds 1-2 each covered exactly the first 50
# registered ops), so order = verification priority, not import order.
_PRIORITY: tuple[str, ...] = (
    # --- tier A: the ROUND-13 driver window (50 ops; the grading sweep
    # covers exactly this front). Manifest rebuilt this round with
    # CORRECTNESS_r01..r12 at their snapshot revs (r12 @ e6b6080), and
    # the new PLUMBING HASH armed (tools/stale_ops.py — VERDICT r12
    # item 7): this round's io/session/config edits (schema-cache
    # comment, tmpfs scratch) trip it by design, compensated by the
    # replica-double + sf0.1 scale-sweep battery recorded in
    # OPTIMIZATION_r13.md. The r13 OPTIMIZATION pass staled exactly 32
    # ops (the de-skewed gram windows, the _word_shingles let-binding,
    # the simhash triangular join, the spread-guard split estimation,
    # the perplexity-funnel checkpoints, the graph/ml restructures, and
    # the IVF literal isfinite guard); every rewrite was result-proven
    # before landing (exceptAll + DuckDB oracle PASS at 3 SFs — see
    # OPTIMIZATION_r13.md), so these rows are re-certs of identical
    # outputs, not fixes. Composition:
    #  * slots 1-23: the optimization-staled ops WITH oracles, headline
    #    queries first (their hash rows double as the equivalence proof
    #    for the round's plan rewrites). scan_python_datasource left
    #    this tier when the scratch layer was deleted: without the
    #    ensure_worker_imports hook its closure is back to the source
    #    its existing driver row certifies:
    "ml_decision_tree_hist", "dedup_near_minhash", "sim_cosine_topk",
    "dedup_simhash", "dedup_substring_spans", "text_boilerplate_ngrams",
    "dedup_ngram_jaccard", "sim_knn_graph_ivf", "sim_ivf_recall_eval",
    "dedup_semdedup", "dedup_recall_eval", "dedup_incremental_minhash",
    "stream_minhash_dedup", "split_leakage_safe", "split_incremental_assign",
    "pipeline_web_corpus", "pipeline_llm_corpus", "text_perplexity_ngram",
    "sample_perplexity_buckets",
    "graph_community_modularity", "graph_pagerank",
    "text_repetition_signals", "text_ngram_freq",
    #  * slots 24-31: the optimization-staled rows-only ops (the IVF
    #    index lifecycle — isfinite guard on the shared quantizer
    #    literal — and the multimodal/audio corpus funnels via the
    #    spread-guard edit):
    "sim_ivfpq_search", "sim_adaptive_route", "sim_ivf_index_persist",
    "sim_ivf_index_compact", "stream_ivf_index_append",
    "sim_ivf_index_retrain", "pipeline_multimodal_corpus",
    "pipeline_audio_corpus",
    #  * slots 32-39: the rows-only ingestion ops staled by the
    #    one-row-per-ZIP pipeline rewrite (sources.parse_zips, the
    #    per-ZIP R6/R7 helper shared with stream_static_join, the single
    #    idempotent-append sink helper, last-entry-wins basenames in
    #    parse.parse_metadata_zip). They evicted the 8 back agg fillers
    #    per the standing rule; window oracle count 32/50:
    "pipeline_ingest_batch", "pipeline_quarantine", "pipeline_chapters",
    "pipeline_idempotent_rerun", "sink_control_table",
    "ingest_properties_zip", "stream_ingest_pipeline", "stream_static_join",
    #  * slots 40-43: the BM25 family, all oracle-backed, staled by
    #    text_bm25_rank taking its oracle from the shared _bm25_oracle
    #    builder (its decorator and the builder's docstring changed; the
    #    SQL text is identical). They, with scan_python_datasource's
    #    return to fresh, evicted the back fillers udf_sql_registered,
    #    agg_count_distinct and agg_cube; window oracle count 32/50:
    "text_bm25_rank", "search_bm25_incremental", "search_bm25_segment_merge",
    "stream_bm25_index_append",
    #  * slot 44: sample_deterministic — the oldest sweep row in the
    #    repo (r8, rows-only), queued since the r12 recomposition;
    "sample_deterministic",
    #  * slots 45-50: rotation debt, streaming-harness ops (their re-cert
    #    doubles as driver evidence that the harnesses run unchanged on
    #    the default temp dir — 5 oracle-backed + stream_scd_join
    #    rows-only; all r11 rows). The rotation debt that did NOT fit
    #    (udf_sql_registered, the r1 aggregate core agg_count_distinct /
    #    agg_cube / agg_global..agg_string_concat_ordered, and 19 ops,
    #    all r11 rows: agg_approx_distinct, the dedup A/V fingerprints,
    #    distinct_rows, kcenter, the er pair, the filter trio,
    #    fn_struct_field_surgery, maintenance_delete, meta_query_profile,
    #    multimodal columns/audio_decode, the three sinks,
    #    win_ntile_bucketize) queues for r14 — with r11 rows they stay
    #    within the 3-round freshness budget through r14.
    "stream_er_resolve", "stream_heavy_hitters", "stream_mv_refresh",
    "stream_state_introspection", "stream_stateful_counter",
    "stream_scd_join",
    # --- (former tier A) the ROUND-12 driver window in r12 order; names
    # already listed above keep their tier-A slot (first occurrence wins
    # in _ordered — later duplicates are inert). Historical r12 notes:
    # recomposed mid-round after the r12 optimization pass staled 34 ops
    # (expr-string rewrites, spread guards, single-gram-pass, join_asof
    # single-scan, IVF literal/dot helpers); slots 1-4 build-phase stale
    # set, 5-27 optimization-staled oracle ops, 28-34 rows-only IVF
    # lifecycle + multimodal pair, 35-45 rows-only rotation, 46
    # scan_python_datasource re-cert, 47-50 oracle fillers.
    "ml_gbdt_hist",
    "stream_ingest_pipeline", "rag_retrieval_eval",
    "join_asof_latest_prior",
    "dedup_embedding_cosine", "sim_incremental_topk",
    "sim_cosine_lsh", "sim_mmr_rerank", "sim_filtered_topk",
    "sim_binary_quantized_topk",
    "sim_cosine_ivf",
    "agg_sketch_hll_intersection", "multimodal_decode_stub",
    "multimodal_frame_sample", "multimodal_resize_stub",
    "multimodal_video_frames", "dedup_image_phash",
    "embedding_pq_encode", "sim_pq_adc_search",
    "ml_pca_top_component",
    "filter_like_regex", "filter_null_required",
    # --- (former tier A) the ROUND-11 driver window, kept in r11 order
    # for deterministic re-cert priority (names already listed above
    # keep their tier-A slot — first occurrence wins in _ordered).
    # Historical r11 notes: manifest rebuilt with CORRECTNESS_r01..r10
    # (r10 artifact rev 42999e6) under the local-import-aware closure
    # scheme (ADVICE r10 medium: function-local `from bpspark.X import
    # h` joined the closure hash). Composition was:
    #  * slots 1-4: the 4 ops the closure fix newly exposed as STALE —
    #    their function-locally-imported IVF/datasource helpers were
    #    edited r6-r9 AFTER their rows, invisible to the old
    #    globals-only walk;
    #  * slot 5: dedup_semdedup (VERDICT r10 item 3: oracle upgrade via
    #    the portable quantizer lands this round — same-round row);
    #  * slots 6-17: the DEFERRED 12-op heavyweight rotation (VERDICT
    #    r10 item 2) — the oldest driver rows in the repo (r4-r7);
    #  * slots 18-21: rows-only rotation, oldest rows first (VERDICT
    #    r10 item 5; with the IVF trio and the deferred rows-only this
    #    window carries 11 rows-only re-runs);
    #  * remaining slots: review-hunt-staled ops (inserted in front of
    #    the fillers as the hunts land) + cheap oracle re-cert fillers,
    #    oldest (r1) rows first.
    "scan_python_datasource", "sim_ivf_index_compact",
    "stream_ivf_index_append", "sim_ivf_index_retrain",
    # staled by the two ADVICE r10 low fixes (idempotent quarantine
    # sink; scene-pack assert → ValueError):
    "stream_ingest_pipeline", "dedup_video_fingerprint",
    "dedup_semdedup",
    "stream_er_resolve", "embedding_kcenter_coreset", "stream_heavy_hitters",
    "graph_community_modularity", "er_incremental_resolve",
    "stream_stateful_counter", "er_fellegi_sunter_em", "dedup_recall_eval",
    "pipeline_multimodal_corpus", "pipeline_audio_corpus", "sim_cosine_ivf",
    "rag_retrieval_eval",
    "agg_approx_distinct", "meta_query_profile", "multimodal_columns",
    "stream_scd_join",
    # r11 legacy-module review hunt (this round): ops staled by the hunt
    # fixes — the distributed exact NTILE (win_ntile_bucketize: the old
    # plan was an unpartitioned global window, the r10 tertile class),
    # the six bare-assert gates converted to explicit raises so they
    # survive python -O (fn_struct_field_surgery, sink shards/manifests,
    # SCD snapshot, state-metadata, WAV decode — the decode edit also
    # stales the audio family via the shared helper), and the plumbing-
    # adjacent state_dir fingerprint (judged, not mechanical). Evicted
    # the 10 BACK fillers per the standing rule:
    "win_ntile_bucketize", "maintenance_delete_where_cow",
    "sink_compression_codecs", "fn_struct_field_surgery",
    "sink_python_datasource", "sink_python_datasource_stream",
    "stream_mv_refresh", "stream_state_introspection",
    "multimodal_audio_decode", "dedup_audio_fingerprint",
    # hunt-2 (analytics/timeseries/sql_features/graph/udfs — all clean
    # except ONE latent fork): udf_sql_registered's oracle digit-sum
    # unroll covered only 8 digit positions, silently dropping digits of
    # any key >= 1e8; extended to the full 19 int64 positions. Evicts
    # the back filler per the standing rule:
    "udf_sql_registered",
    # staled by the dedup_semdedup oracle upgrade's helper edit
    # (_ivf_portable_cte_sql gained the src parameter; their SQL text is
    # byte-identical and parity re-verified, but the closure hash
    # rightly flags them). Evict two more back fillers:
    "sim_knn_graph_ivf", "sim_ivf_recall_eval",
    # slots 22-50: oracle re-cert fillers, oldest (r1) rows first (the
    # half of the r1 relational/function core the r10 window did not
    # reach). Review-hunt-staled ops evict from the BACK of this list.
    "agg_count_distinct", "agg_cube", "agg_global", "agg_grouping_sets",
    "agg_having", "agg_min_by_max_by", "agg_percentile_exact", "agg_pivot",
    "agg_stddev_stable", "agg_string_concat_ordered", "distinct_rows",
    "filter_between_range", "filter_boolean_logic", "filter_isin",
    # --- (former tier A) the ROUND-10 driver window, kept in r10 order
    # for deterministic re-cert priority (names already listed above
    # keep their tier-A slot — first occurrence wins in _ordered).
    # Historical r10 notes:
    #  * slots 1-5: the 5 oracle-backed ops staled by this round's
    #    ADVICE fixes (BPE merge-cache fingerprint → text_bpe_tokenize,
    #    doc_pack_tokenized; integer-exact isqrt + zero-norm vector
    #    guard in the portable IVF oracle → sim_knn_graph_ivf,
    #    sim_ivf_recall_eval; within-batch scope docstring →
    #    split_incremental_assign);
    #  * slots 6-12: the 7 rows-only ops the closure scheme newly
    #    exposed as STALE — their shared helpers (IVF quantizer portable
    #    flag, sources.py single-flight) were edited in r4-r9 after
    #    their rows, which the old fn-body hash could not see:
    #    sim_ivfpq_search, ingest_properties_zip, scan_binary_zip,
    #    sink_append_parquet, sink_control_table, sim_adaptive_route,
    #    sim_ivf_index_persist;
    #  * slot 13: dedup_video_fingerprint, REGISTERED this round
    #    (standing rule: same-round driver row) — completes the
    #    text/image/audio/video dedup matrix;
    #  * slots 14-23: ops staled by the r10 self-review fixes (see the
    #    inline notes below);
    #  * slots 24-31: the HEAVYWEIGHT re-cert rotation (VERDICT r9
    #    item 4), flagship subset;
    #  * slots 32-50: cheap re-cert fillers, all oracle-backed, oldest
    #    rows first — the r1-certified relational core re-certifies at
    #    the current rev for the first time since round 1.
    # 32/50 oracle-backed, 18 rows-only (the review-staled
    # ingestion/streaming harnesses are rows-only by design). New ops
    # registered this round must evict a TAIL filler (never a
    # stale/needing op) in the same commit, per the standing rule above.
    "text_bpe_tokenize", "doc_pack_tokenized", "sim_knn_graph_ivf",
    "sim_ivf_recall_eval", "split_incremental_assign",
    "sim_ivfpq_search", "ingest_properties_zip", "scan_binary_zip",
    "sink_append_parquet", "sink_control_table", "sim_adaptive_route",
    "sim_ivf_index_persist",
    "dedup_video_fingerprint",
    # multimodal_video_scene_cut re-windows (standing rule): its Python
    # stage now consumes the shared _frame_hash_stream walk extracted
    # for dedup_video_fingerprint (r10 review) — behavior-identical,
    # replica-tested, but the closure hash rightly flags it.
    "multimodal_video_scene_cut",
    # slots 15-23: the ingestion/streaming ops staled by the r10
    # review fixes (case-insensitive ZIP_GLOB at every entry point;
    # \z key-rule anchor; key derivation folded onto with_zip_keys;
    # stream_ingest_pipeline now refreshes the R9 ledger from the
    # control table per batch and sinks the R15 quarantine channel):
    "stream_dedup_state", "stream_drop_folder", "pipeline_ingest_batch",
    "pipeline_quarantine", "pipeline_chapters", "pipeline_idempotent_rerun",
    "stream_ingest_pipeline", "stream_dedup_within_watermark",
    "stream_static_join",
    # slots 24-31: ops staled by the second self-review pass (selection/
    # quality): the scalable two-phase cumsum replacing the single-
    # partition tertile window (sample_perplexity_buckets +
    # pipeline_web_corpus), the shared PPL/URL-canon oracle fragments
    # (text_perplexity_ngram, dedup_url_canonicalized — host NULL guard
    # mirrored), the _fk_edge_audit empty-child coalesce
    # (dq_referential_audit), semdedup's zero-norm guard +
    # localCheckpoint (dedup_semdedup), the dead NB model frame
    # (ml_naive_bayes_langid), and the shard range-repartition
    # (sink_training_shards):
    "pipeline_web_corpus", "dq_referential_audit", "text_perplexity_ngram",
    "sample_perplexity_buckets", "dedup_url_canonicalized",
    "ml_naive_bayes_langid", "sink_training_shards", "dedup_semdedup",
    # slots 32-37: the heavyweight re-cert rotation (VERDICT r9 item 4),
    # squeezed to the two oldest flagship rows + the cheap sub-2 s ones
    # after two review passes claimed 17 needing slots; deferred to r11:
    # stream_er_resolve, embedding_kcenter_coreset, stream_heavy_hitters,
    # graph_community_modularity, er_incremental_resolve,
    # stream_stateful_counter, er_fellegi_sunter_em, dedup_recall_eval,
    # pipeline_multimodal_corpus, pipeline_audio_corpus, sim_cosine_ivf,
    # rag_retrieval_eval (r4-r7 rows):
    "pipeline_llm_corpus", "graph_pagerank", "dedup_near_minhash",
    "ts_ewma", "doc_pack_bestfit", "ts_holt_winters",
    # slots 38-50: cheap oracle re-cert fillers, oldest (r1) rows first.
    "scan_parquet", "project_rename_cast", "filter_comparison",
    "join_broadcast_dim", "join_shuffle_inner", "join_asof_latest_prior",
    "agg_group_sums", "agg_rollup", "win_row_number_topk",
    "win_moving_avg_range", "sort_multi_key", "topk_global",
    "set_intersect",
    # Window cost after both review passes: needing set (slots 1-31,
    # incl. the ~11 s stream_ingest_pipeline and ~6 s semdedup
    # harnesses) ~107 s, whole window ~120 s at sf0.01 — above the
    # ~90 s historical envelope because review-fix staleness is
    # non-negotiable; needing ops occupy the front, so a driver budget
    # cut can only cost tail re-certs.
    # --- (former tier A) the round-9 window in r9 order; names already
    # listed above keep their tier-A slot (first occurrence wins in
    # _ordered — later duplicates are inert).
    "ts_interpolate_linear", "profile_partition_skew",
    "profile_distribution_drift", "stream_dedup_state", "stream_drop_folder",
    "agg_sketch_count_min",
    "pipeline_ingest_batch", "pipeline_quarantine", "pipeline_chapters",
    "pipeline_idempotent_rerun", "pipeline_observe_metrics",
    "stream_ingest_pipeline",
    "search_crossencoder_rerank", "split_leakage_safe",
    "dedup_incremental_minhash",
    "fn_conditional", "fn_map", "fn_array", "fn_json",
    "q_order_fulfillment_funnel", "agg_corr_regr", "q_order_priority_exists",
    "q_customer_order_distribution", "q_promo_revenue_share",
    "q_small_quantity_revenue", "q_large_volume_customers",
    "q_yoy_revenue_growth", "q_nation_trade_volume", "q_market_share",
    "q_product_profit", "q_returned_items", "q_priority_shipping_mix",
    "q_top_supplier", "q_disjunctive_predicates", "q_waiting_orders",
    "q_revenue_forecast", "q_parts_supplier_counts", "q_basket_pairs",
    "q_percent_of_total", "join_nearest_event", "q_repeat_purchase_30d",
    "reshape_nest_unnest", "fn_string", "fn_date", "fn_math",
    # --- tier B: the round-8 window (all FRESH after the r8 sweep),
    # kept in its r8 order for deterministic re-cert priority.
    # Historical r8 notes:
    #  * text_bpe_vocab_induction leads (it took the ts_ewma
    #    re-certification filler's slot when its r8 oracle upgrade staled
    #    its row — the standing-rule eviction; it also absorbs the
    #    first-op JVM warmup). Its apply-side twin text_bpe_tokenize
    #    (upgraded in the same commit) is the one op queued for r9 —
    #    51 needing > 50 slots;
    #  * the 5 STALE ops: the two r7 oracle upgrades whose rows staled
    #    (dedup_incremental_minhash, stream_minhash_dedup), ml_logreg_gd
    #    (impl edited after its r6 row), and the two r8 fixes/upgrades
    #    (dedup_simhash — rewired to the JVM-side signature + its
    #    full-replication oracle; mv_sketch_refresh — portable-invariant
    #    oracle);
    #  * ALL 42 never-swept ops: the oracle-backed sql_*/fn_*/q_*/profile
    #    tail first, then the rows-only ML/sampling/sketch/pipeline
    #    harness backlog (rows-only by design: samplers/sketches/binary);
    #  * the last two slots hold r8 upgrades #3 and #4, whose rows-only
    #    rows staled: sim_cosine_lsh (deterministic-hyperplane LSH,
    #    full-replication oracle) and sim_mmr_rerank (explicit-fold
    #    quantized greedy, unrolled 5-round full-replication oracle).
    # 33/50 oracle-backed — the never-swept tail is rows-only-heavy BY
    # CONSTRUCTION (that is why it was swept last); see
    # tests/test_sweep_window.py for the amended composition gate.
    # Regenerate future windows from `python tools/stale_ops.py` after
    # rebuilding the manifest with the new round's snapshot rev.
    "text_bpe_vocab_induction",
    "dedup_incremental_minhash", "stream_minhash_dedup", "ml_logreg_gd",
    "dedup_simhash", "mv_sketch_refresh",
    "q_event_funnel", "profile_summary_stats", "agg_bitmap_distinct",
    "sql_correlated_scalar", "profile_crosstab", "sql_pipe_syntax",
    "sql_parameterized", "fn_string_extra", "fn_try_cast",
    "fn_regex_extract_all", "fn_explode_unnest", "fn_arrays_zip",
    "fn_array_hof", "fn_map_transform", "fn_url_parse", "fn_aes_roundtrip",
    "fn_null_semantics", "fn_array_setops", "fn_try_arith", "fn_trig",
    "fn_iso8601_duration", "fn_format_output", "fn_xml_xpath",
    "fn_variant_json", "fn_string_collation",
    "ml_pca_top_component", "agg_approx_percentile", "sample_deterministic",
    "sample_stratified", "ml_decision_tree_hist", "ml_gbdt_hist",
    "sim_ivf_index_compact", "multimodal_video_scene_cut",
    "pipeline_ingest_batch", "pipeline_quarantine", "pipeline_chapters",
    "pipeline_idempotent_rerun", "pipeline_observe_metrics",
    "stream_ingest_pipeline", "stream_dedup_within_watermark",
    "agg_sketch_hll", "agg_sketch_count_min",
    "sim_cosine_lsh", "sim_mmr_rerank",
    # --- (former tier B) the round-7 window in r7 order; names already
    # in tier A above keep their tier-A slot (first occurrence wins in
    # _ordered — later duplicates are inert).
    "graph_pagerank", "embedding_kcenter_coreset",
    "dedup_recall_eval", "doc_pack_bestfit", "ts_holt_winters",
    "graph_community_modularity", "stream_heavy_hitters",
    "er_incremental_resolve", "stream_er_resolve", "stream_stateful_counter",
    "pipeline_web_corpus", "er_fellegi_sunter_em",
    "q_order_fulfillment_funnel", "agg_corr_regr", "q_order_priority_exists",
    "q_customer_order_distribution", "q_promo_revenue_share",
    "q_small_quantity_revenue", "q_large_volume_customers",
    "q_yoy_revenue_growth", "q_nation_trade_volume", "q_market_share",
    "q_product_profit", "q_returned_items", "q_priority_shipping_mix",
    "q_top_supplier", "q_disjunctive_predicates", "q_waiting_orders",
    "q_revenue_forecast", "q_parts_supplier_counts", "q_basket_pairs",
    "q_percent_of_total", "join_nearest_event", "q_repeat_purchase_30d",
    "reshape_nest_unnest", "scan_jsonlines", "scan_csv", "scan_orc",
    "scan_schema_evolution", "stream_interval_join", "sessionize_batch",
    "join_asof_tolerance", "udtf_python_native", "udtf_map_in_arrow",
    "udf_sql_registered", "sql_recursive_cte", "join_lateral_topn",
    "q_retention_cohorts",
    # --- tier C: ops whose driver row still certifies the current code
    # (the FRESH set from tools/stale_ops.py — all FRESH at the r8
    # manifest rebuild), in prior priority order; re-verify these last.
    "sample_hash_mod", "set_except_all", "join_right_outer",
    "win_ntile_bucketize", "agg_histogram_fixed", "win_time_range_interval",
    "win_first_last_ignore_nulls", "win_nth_value", "win_cumulative_distinct",
    "sample_neyman_allocation", "agg_heavy_hitters_mg",
    "er_sorted_neighborhood", "privacy_pseudonymize_consistent",
    "dq_referential_audit", "sim_filtered_topk", "sessionize_pattern_funnel",
    "ts_changepoint_cusum", "sim_binary_quantized_topk",
    "layout_overlap_report", "text_fix_mojibake", "text_unicode_nfc",
    "privacy_t_closeness", "dq_benford_digits", "agg_ks_two_sample",
    "sessionize_markov_transitions", "doc_span_corruption", "join_null_safe",
    "agg_median_abs_deviation", "sink_partitioned_silver",
    "join_bucketed_colocated", "sink_overwrite_dynamic",
    "sink_compact_small_files", "sink_merge_scd1", "sink_range_partitioned",
    "scan_dynamic_partition_pruning", "q_top_parts_per_brand",
    "dedup_ngram_jaccard", "doc_pack_greedy", "ml_kmeans_lloyd",
    "embedding_pq_encode", "sim_pq_adc_search",
    "sim_ivfpq_search", "stream_ivf_index_append", "pipeline_llm_corpus",
    "sim_ivf_index_retrain", "dedup_image_phash", "dedup_audio_fingerprint",
    "pipeline_multimodal_corpus", "pipeline_audio_corpus", "ts_activity_grid",
    "ts_gapfill_locf", "ts_ohlc_hourly", "ts_scd2_intervals",
    "ts_gaps_islands", "ts_anomaly_iqr", "ts_interpolate_linear",
    "graph_triangle_count", "graph_degree_distribution",
    "search_bm25_incremental", "search_bm25_segment_merge",
    "stream_bm25_index_append", "text_boilerplate_ngrams", "dedup_semdedup",
    "q_min_cost_supplier", "q_important_parts",
    "reshape_unpivot", "win_mixed_frame", "win_percent_rank_cume",
    "agg_collect_arrays", "join_skew_salted", "sql_end_to_end", "agg_mode",
    "join_range_bucketed", "agg_bool_and_or", "q_dormant_high_balance",
    "q_duplicate_payment_check", "stream_watermark_late", "agg_weighted_avg",
    "join_anti_dedup", "agg_skew_kurt", "join_fuzzy_levenshtein",
    "agg_gini_impurity", "set_except", "dedup_embedding_cosine",
    "rag_context_pack", "ts_seasonal_decompose", "ts_autocorrelation",
    "graph_label_propagation", "graph_kcore_decompose", "privacy_l_diversity",
    "stream_drift_monitor", "q_dominant_suppliers", "q_shipping_priority",
    "q_nation_revenue", "q_hypertable_rollup", "multimodal_columns",
    "ingest_properties_zip", "join_asof_latest_prior",
    "mv_incremental_refresh", "catalog_stats_cbo",
    "pipeline_governed_batch", "scan_xml", "udf_scalar_arrow",
    "udtf_analyze_dynamic", "sample_temperature_mixture",
    "graph_shortest_paths", "stream_outer_interval_join", "sink_time_travel",
    "ml_linreg_normal", "join_spatial_grid", "sink_vacuum_retention",
    "fn_winsorize", "stream_scd_join", "meta_column_lineage",
    "meta_query_profile", "sink_python_datasource", "api_pandas_on_spark",
    "join_interval_overlap", "text_perplexity_ngram",
    "text_repetition_signals", "embedding_random_projection",
    "scan_data_skipping_minmax", "udtf_table_partition_by",
    "sample_importance_dsir", "sample_perplexity_buckets",
    "privacy_k_anonymize", "privacy_dp_counts", "dedup_cluster_canonicalize",
    "scan_agg_pushdown", "join_runtime_bloom_filter", "sql_group_by_all",
    "text_inverted_index_search", "text_bm25_rank", "profile_partition_skew",
    "maintenance_backfill_stale_partitions", "q_marketing_attribution",
    "stream_state_introspection", "udf_sql_declared",
    "q_exchange_reuse_self_join", "maintenance_rf_refresh",
    "stream_chained_stateful", "stream_session_timeout",
    "sql_identifier_clause", "fn_string", "fn_date", "fn_math",
    "fn_conditional", "fn_map", "fn_array", "fn_json", "udf_scalar_pandas",
    "udaf_grouped_pandas", "udtf_apply_in_pandas", "udtf_map_in_pandas",
    "dedup_exact_hash", "text_stats", "text_quality_filter",
    "sim_cosine_topk", "stream_tumbling_count", "stream_sliding_agg",
    "stream_session_window", "stream_session_dynamic_gap", "scan_binary_zip",
    "sink_append_parquet", "stream_static_join", "stream_dedup_state",
    "stream_drop_folder", "sink_control_table", "dedup_exact_normalized",
    "dedup_token_sorted", "dedup_cluster_cc", "text_langid",
    "text_token_count_bpe", "text_fingerprint", "text_normalize_clean",
    "text_pii_redact", "text_readability", "text_tfidf_topterms",
    "text_feature_hashing", "cdc_snapshot_diff", "join_bloom_prefilter",
    "dq_expectations", "dedup_incremental_exact",
    "profile_distribution_drift", "sink_zorder_clustered", "scan_parquet",
    "project_rename_cast", "project_map_keys", "filter_comparison",
    "filter_boolean_logic", "filter_isin", "filter_like_regex",
    "filter_null_required", "filter_between_range", "join_broadcast_dim",
    "join_shuffle_inner", "join_left_outer", "join_semi_validate",
    "join_theta_range", "join_cross_small", "agg_group_sums", "agg_global",
    "agg_count_distinct", "agg_approx_distinct", "agg_having", "agg_rollup",
    "agg_cube", "agg_grouping_sets", "distinct_rows", "win_row_number_topk",
    "win_rank_dense", "win_lag_lead", "win_running_sum",
    "win_moving_avg_range", "win_ntile_first_last", "sort_multi_key",
    "limit_n", "topk_global", "set_union_all", "set_union_distinct",
    "set_intersect", "agg_pivot", "join_full_outer", "agg_min_by_max_by",
    "agg_string_concat_ordered", "agg_percentile_exact", "agg_stddev_stable",
    "gen_calendar_dim", "fn_bitwise", "fn_hash_encode", "fn_date_arith",
    "set_intersect_all", "dedup_substring_spans", "sim_cosine_ivf",
    "search_hybrid_rrf", "sample_weighted_reservoir",
    "sim_incremental_topk",
    "dedup_near_minhash", "sink_python_datasource_stream",
    "sim_adaptive_route", "agg_aqp_sample_estimate",
    "agg_aqp_groupby_stratified", "dedup_url_canonicalized",
    "sink_merge_scd2", "join_temporal_validity", "stream_mv_refresh",
    "scan_python_datasource", "stream_python_datasource",
    "scan_python_datasource_pushdown", "cache_inmemory_columnar",
    "maintenance_delete_where_cow", "ml_naive_bayes_langid",
    "sql_pivot_clause", "fn_struct_field_surgery", "sink_compression_codecs",
    "sink_training_shards", "q_new_vs_returning_users",
    "agg_sketch_hll_intersection", "agg_welch_ttest", "text_ngram_freq",
    "text_vocab_stats", "text_bigram_lift",
    "multimodal_decode_stub", "multimodal_resize_stub",
    "multimodal_frame_sample", "multimodal_audio_decode",
    "multimodal_video_frames", "er_resolve_entities", "rag_retrieval_eval",
    "embedding_l2_normalize", "embedding_centroid_per_label",
    "embedding_quantize_int8", "doc_split_chunks", "doc_decontaminate",
    "sim_knn_graph_ivf", "sim_ivf_recall_eval", "sim_ivf_index_persist",
)


def _ordered(reg: dict[str, Op]) -> dict[str, Op]:
    out: dict[str, Op] = {}
    for name in _PRIORITY:
        if name in reg:
            out[name] = reg[name]
    for name, o in reg.items():
        if name not in out:
            out[name] = o
    return out


def op(name: str, sql: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering an operator implementation."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate op registration: {name}")
        _REGISTRY[name] = Op(name=name, fn=fn, sql=sql, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def all_ops() -> dict[str, Op]:
    import bpspark

    bpspark.load_all()
    return _ordered(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: o.fn for name, o in all_ops().items()}


def oracle_sql() -> dict[str, str]:
    return {name: o.sql for name, o in all_ops().items() if o.sql is not None}
