"""Aggregated query/oracle registry across all modules.

Ordering matters: the driver's correctness gate checks the FIRST 50
entries of ``queries()`` (insertion order). Rounds 1-3 ordered
core-first, so 36 declared queries (streaming parity gates, TPC-H,
the reporting layer, capstones) never received a driver row.
``DRIVER_PRIORITY`` rotates them into the checked window for round 4;
q1-q18 and the text/dedup/ann families have three rounds of green
history and ride local parity (tests/test_oracle_parity.py) this round.
"""

from __future__ import annotations

# First-50 priority for the driver's correctness window (round 13).
# Leads with the three rows whose latest driver check is oldest
# (ROUND12.md handoff: dedup_canonical_pick / dedup_threshold_sweep /
# dedup_cluster_sizes), then every query path CHANGED in round 13 —
# the codegen pair-generation rewrite (bucket_pairs / basket /
# triangles / hamming / incremental), the dedup memo removal (each
# family member now computes its own lineage), the CC round-1 fusion,
# the simhash expr fusion, the rank-select linear prefix sum (every
# rank-select consumer), and the Bloom literal-array fix — then the
# r12 drift watchlist. All 235 remain locally mirror-checked green at
# sf0.01 (ROUND13 work log).
DRIVER_PRIORITY = [
    # --- oldest driver rows (r12 handoff), also r13-changed
    "dedup_cluster_sizes",
    "dedup_canonical_pick",
    "dedup_threshold_sweep",
    # --- r13: pair-device rewrite + memo removal + CC fusion
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_lsh_recall_eval",
    "dedup_incremental_newdocs",
    "split_leakage_audit",
    "dedup_source_overlap",
    "dedup_minhash_calibration",
    "dedup_containment",
    "dedup_simhash",
    "dedup_simhash_hamming_hist",
    "orders_market_basket",
    "graph_triangle_count",
    "transition_pagerank",
    "corpus_vocab_growth",
    "bloom_semijoin_pushdown",
    # --- r13: rank-select linear prefix sum (all consumers)
    "user_rfm_segments",
    "user_rfm_migration",
    "doc_length_deciles_by_lang",
    "lineitem_price_deciles",
    "lineitem_abc_classes",
    "orders_reorder_quartiles",
    "orders_reorder_gap_trend",
    "cohort_conversion_time_quartiles",
    "q17_session_quantiles",
    "corpus_curriculum_phases",
    "ann_pq_quantization_error",
    "corpus_token_burstiness",
    "corpus_heaps_residual",
    "corpus_zipf_tail_share",
    "embedding_norm_deciles",
    "files_compaction_bins",
    "events_median_gap",
    "customer_revenue_gini",
    "sketch_quantile_sample",
    # --- r13 batch 2: truth-domain prune + SHJ verify joins, bigram
    # structs, novelty aggregate-only counts, OLS long products,
    # tokenize builders (quality_score feeds the last two)
    "dedup_minhash_sigs",
    "corpus_ngram_novelty",
    "text_lm_likelihood",
    "text_bigram_lm",
    "text_quality_filter",
    "lineitem_price_qty_ols",
    "training_set_select",
    # --- r12 drift watchlist (untouched code, slow in the r12 record)
    "search_inverted_postings",
    "ab_funnel_steps",
    "ab_funnel_significance",
    "session_concurrency",
    "cohort_sessionized_funnel",
    "sketch_kmv_sliding",
    "dedup_passage",
    "embedding_pq_transfer",
    "supplier_weekly_rank_delta",
    "corpus_decontaminate_attr",
    "session_transitions",
    "text_repetition",
]


def _prioritized(d):
    out = {k: d[k] for k in DRIVER_PRIORITY if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def all_queries():
    from duckdb_behavioral_spark.queries import CORE_QUERIES

    out = dict(CORE_QUERIES)
    try:
        from duckdb_behavioral_spark.functions.registry import EXT_QUERIES

        out.update(EXT_QUERIES)
    except ImportError:
        pass
    try:
        from duckdb_behavioral_spark.streaming.parity import (
            streaming_cms_parity,
            streaming_dedup_parity,
            streaming_enrich_parity,
            streaming_rollup_parity,
            streaming_funnel_parity,
            streaming_minhash_parity,
            streaming_join_parity,
            streaming_quantile_parity,
            streaming_sink_parity,
            streaming_scd2_parity,
            streaming_sessionize_parity,
            streaming_bloom_parity,
            streaming_hll_parity,
            streaming_cdc_parity,
            streaming_watermark_parity,
        )

        out["streaming_funnel_parity"] = streaming_funnel_parity
        out["streaming_dedup_parity"] = streaming_dedup_parity
        out["streaming_sessionize_parity"] = streaming_sessionize_parity
        out["streaming_minhash_parity"] = streaming_minhash_parity
        out["streaming_cms_parity"] = streaming_cms_parity
        out["streaming_rollup_parity"] = streaming_rollup_parity
        out["streaming_enrich_parity"] = streaming_enrich_parity
        out["streaming_quantile_parity"] = streaming_quantile_parity
        out["streaming_join_parity"] = streaming_join_parity
        out["streaming_sink_parity"] = streaming_sink_parity
        out["streaming_scd2_parity"] = streaming_scd2_parity
        out["streaming_bloom_parity"] = streaming_bloom_parity
        out["streaming_hll_parity"] = streaming_hll_parity
        out["streaming_cdc_parity"] = streaming_cdc_parity
        out["streaming_watermark_parity"] = streaming_watermark_parity
    except ImportError:
        pass
    return _prioritized(out)


def all_oracles():
    from duckdb_behavioral_spark.queries import CORE_ORACLES

    out = dict(CORE_ORACLES)
    try:
        from duckdb_behavioral_spark.functions.registry import EXT_ORACLES

        out.update(EXT_ORACLES)
    except ImportError:
        pass
    # the streamed gates must equal BATCH oracles; mirror all_queries'
    # graceful degradation when the streaming module cannot import
    try:
        from duckdb_behavioral_spark.functions.cms import CMS_SKETCH_SQL
        from duckdb_behavioral_spark.streaming.parity import STREAMING_JOIN_SQL
    except ImportError:
        pass
    else:
        out["streaming_funnel_parity"] = out.get("q3_window_funnel")
        out["streaming_dedup_parity"] = out.get("dedup_exact")
        out["streaming_sessionize_parity"] = out.get("q11_session_stats")
        out["streaming_minhash_parity"] = out.get("dedup_minhash_pairs")
        out["streaming_cms_parity"] = CMS_SKETCH_SQL
        out["streaming_rollup_parity"] = out.get("events_hourly_rollup")
        # the streamed stream-static enrichment must equal the batch join
        out["streaming_enrich_parity"] = out.get("orders_by_nation")
        out["streaming_quantile_parity"] = out.get("sketch_quantile_sample")
        out["streaming_join_parity"] = STREAMING_JOIN_SQL
        out["streaming_sink_parity"] = out.get("events_hourly_rollup")
        # incremental SCD2 merge must equal the one-shot batch history
        out["streaming_scd2_parity"] = out.get("user_state_scd2")
        # the OR-folded streaming filter must equal the batch filter
        out["streaming_bloom_parity"] = out.get("sketch_bloom_membership")
        # the MAX-folded streaming registers must equal the batch sketch
        out["streaming_hll_parity"] = out.get("sketch_hll")
        # the ARGMAX-folded incremental merge must equal the batch MERGE
        out["streaming_cdc_parity"] = out.get("cdc_merge_users")
        # the watermark drop accounting must equal the closed-form oracle
        from duckdb_behavioral_spark.streaming.parity import (
            STREAMING_WATERMARK_SQL,
        )
        out["streaming_watermark_parity"] = STREAMING_WATERMARK_SQL
    return _prioritized(out)
