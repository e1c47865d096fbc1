"""Query registry: every operator exposed as a named (spark_fn, oracle_sql)
pair over the driver testdata tables.

``spark_fn(spark, sf_dir) -> DataFrame`` is the engine's DataFrame-API
implementation; ``oracle`` is the equivalent ANSI SQL DuckDB runs on the
same parquet (None for ops SQL can't express — the driver then records a
rows-only check). Column names/aliases MUST match between the two sides.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: Optional[str], doc: str = "", tags: tuple[str, ...] = ()
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc, tags)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Driver check-window budget
# ---------------------------------------------------------------------------
# The driver's correctness gate runs the FIRST 50 entries of ``queries()`` in
# dict order against the DuckDB oracle; everything after slot 50 gets no
# driver-issued evidence that round.  ``REGISTRY_ORDER`` therefore controls —
# explicitly, not by import side-effect — exactly which queries occupy the
# window.  Standing policy (established round 4, VERDICT r3 #1/#5):
# never-driver-checked queries come first; every rows-only probabilistic
# tier sits NEXT TO its hash-checked portable twin so each family ships
# one hard row per round; queries whose ORACLE or IMPLEMENTATION changed
# this round re-verify in-window even if previously green; remaining
# slots give once-green queries a second lifetime row and seat the
# round's new queries.  Multi-round-green queries demote past the window;
# tests/test_queries_oracle.py oracle-checks every registered query,
# in or out of the window, on every run.
REGISTRY_ORDER: tuple[str, ...] = (
    # ================= round-15 driver window (50 slots) =================
    # Standing policy unchanged (see above). Round 15 is optimization
    # round 2 of 2: every query whose IMPLEMENTATION changed this round
    # re-verifies in-window, plus the r14 decimal-narrowing sites the
    # r14 window never reached (VERDICT r14 Next #5), then the FIFO
    # head. Composition:
    # (a) slots 1-13: similarity-family norm hoists (cosine_topk and
    #     every operator whose per-pair cosine now uses per-row norms:
    #     near_dup_pairs, ivf_assign, pq_encode, kmeans loop,
    #     semdedup_drops) — pq_topk is the rows-only tier seated next
    #     to its hash-checked fixed twin pq_adc_fixed per policy.
    # (b) slots 14-18: LM scorers (distinct-lp restructure in the
    #     interpolated scorer, SHUFFLE_HASH stream joins, per-type log
    #     in KN) + their composites.
    # (c) slots 19-24: text kernels rebuilt on Generate-bound token
    #     arrays (gopher/readability/repetition/quality_gate) + the two
    #     spread-probe consumers (lang_id, pricing_summary — io.py scan
    #     probe rewritten FileIndex-based).
    # (d) slots 25-33: ngram_jaccard_pairs restructure (count+anti-join
    #     stop-shingle cap, sizes off the kept stream) + every consumer.
    # (e) slot 34: pandas_group_summary (applyInPandas -> mapInPandas
    #     batch-vectorized with cross-batch combine).
    # (f) slots 35-38: r14 decimal-narrowing call sites never
    #     driver-verified (VERDICT r14 Next #5).
    # (g) slots 39-50: the r9-vintage FIFO head.
    "cosine_topk",
    "embedding_near_dups",
    "embedding_near_dups_bucketed",
    "ann_recall_report",
    "matryoshka_recall",
    "ivf_topk",
    "ivf_incremental_topk",
    "kmeans_clusters",
    "label_centroids",
    "pq_topk",
    "pq_adc_fixed",
    "semdedup_drops",
    "semantic_dedup",
    "lm_perplexity",
    "lm_perplexity_interpolated",
    "lm_perplexity_kneser_ney",
    "perplexity_mixture",
    "curation_pipeline",
    "gopher_quality_filter",
    "readability_stats",
    "repetition_stats",
    "quality_gate",
    "lang_id",
    "pricing_summary",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "dedup_keep_best",
    "contrastive_triplets",
    "leakage_safe_split",
    "dedup_funnel_report",
    "cross_source_contamination",
    "dedup_cluster_histogram",
    "lsh_quality_report",
    "pandas_group_summary",
    "mv_incremental_refresh",
    "stream_static_enrich",
    "bm25_topk",
    "dsir_weights",
    "ledger_enqueue_due",
    "ledger_dequeue_transition",
    "ledger_point_update",
    "ledger_complete_batch",
    "sessionize_batch",
    "sessionize_stream",
    "upsert_keep_newest",
    "insert_if_absent",
    "top_k_per_group",
    "running_total",
    "hourly_window_counts",
    "mutual_edges_intersect",
    # ------------------- driver window ends at slot 50 --------------------
    # r16 queue: everything below stays DuckDB-oracle-checked by
    # tests/test_queries_oracle.py and scripts/verify_local.py; relative
    # FIFO order preserved from the r14 seating.
    "txlog_notnull_sql",
    "anchor_text_index",
    "temperature_sample_wor",
    "langid_confusion",
    "community_stats",
    "event_rate_spikes",
    "lsh_band_stats",
    "bloom_fp_report",
    "event_transitions",
    "triangle_stats",
    "txlog_widen_evolution",
    "txlog_replace_where_sql",
    "txlog_overwrite_sql",
    "txlog_alter_sql",
    "txlog_constraints_sql",
    "txlog_restore_sql",
    "txlog_change_feed",
    "txlog_stream_changes",
    "txlog_changes_backfill",
    "txlog_rename_evolution",
    "txlog_zonemap_scan",
    "txlog_compact",
    "txlog_zorder_scan",
    "txlog_minmax_pushdown",
    "txlog_datasource_scan",
    "txlog_retention_lookup",
    "txlog_count_pushdown",
    "txlog_stream_merge_sink",
    "txlog_rebucket_layout",
    "txlog_zorder_equidepth",
    "txlog_delete_vectors",
    "txlog_bloom_lookup",
    "txlog_time_travel_sql",
    "txlog_ctas_sql",
    "txlog_insert_into_sql",
    "txlog_merge_into_sql",
    "txlog_maintenance_sql",
    "txlog_convert_sql",
    "txlog_update_sql",
    "txlog_delete_sql",
    "mutual_edges",
    "dataset_split",
    "embedding_quantize",
    "embedding_norms",
    "key_lookup",
    "enrichment_join",
    "pending_anti_join",
    "dim_hierarchy",
    "three_way_join",
    "count_via_join",
    "fifo_dequeue",
    "temporal_in_filter",
    "daily_counts",
    "conditional_counts",
    "union_dedup",
    "semi_join_exists",
    "pivot_status_counts",
    "rollup_revenue",
    "regional_revenue",
    "sql_api_top_spenders",
    "copurchase_pairs",
    "table_profile",
    "dpp_partition_prune",
    "multimodal_flac_stats",
    "event_funnel",
    "price_quantiles",
    "props_json_extract",
    "ledger_assign_ids",
    "ledger_delete_failed",
    "ledger_both_complete",
    "daily_quota_admission",
    "keyword_categorize",
    "validate_interests",
    "asof_attribution",
    "asof_forward_attribution",
    "range_band_join",
    "retention_cohorts",
    "cube_revenue",
    "continuous_rollup",
    "lang_source_rollup",
    "text_quality",
    "token_stats",
    "bpe_token_stats",
    "doc_fingerprint",
    "tfidf_top_terms",
    "pii_redaction",
    "dedup_exact",
    "passage_dedup",
    "winnow_fingerprint",
    "incremental_dedup",
    "decontamination",
    "stream_dedup",
    "stream_stream_attribution",
    "ann_lsh_topk",
    "bloom_pruned_join",
    "multimodal_image_stats",
    "multimodal_frame_sample",
    "token_packing",
    "stratified_sample",
    "mixture_sample",
    "temperature_mixture",
    "pagerank",
    "kcore_members",
    "quantile_sketch",
    "grouped_median_sketch",
    "distribution_drift",
    "snapshot_diff",
    "scd2_history",
    "multitouch_attribution",
    "context_chunks",
    "multimodal_audio_stats",
    "weighted_sample",
    "hashed_tf_features",
    "equidepth_buckets",
    "connected_components",
    "multimodal_png_stats",
    "multimodal_ulaw_stats",
    "url_frequency_cap",
    "constraint_report",
    "classifier_score_fixed",
    "classifier_weights",
    "skew_report",
    "unigram_encode_tokens",
    "unigram_vocab",
    "bpe_encode_tokens",
    "bpe_merges",
    "minhash_near_dups_portable",
    "minhash_near_dups",
    "simhash_near_dups_portable",
    "simhash_near_dups",
    "cms_heavy_users_portable",
    "cms_heavy_users",
    "approx_distinct_users_portable",
    "approx_distinct_users",
    "incremental_minhash_dedup",
    "stream_neardup_dedup",
    "multimodal_jpeg_stats",
    "multimodal_mjpeg_stats",
    "c4_line_filter",
    "dup_span_removal",
    "dup_spans",
    "html_extract",
    "incremental_components",
    "label_propagation",
    "pca_project_fixed",
    "rate_limit_admission",
    "warc_roundtrip",
    "web_pipeline",
    "wordpiece_encode_tokens",
    "join_size_preflight",
    "score_calibration",
    "monitor_drift_report",
    "bucketed_join",
    "containment_pairs",
    "mojibake_repair",
    "mixture_epochs",
    "jsonl_quarantine",
    "csv_quarantine",
    "intradoc_line_dedup",
    "pca_eig2_fixed",
    "pca_components",
    "bin_packing",
    "training_shards",
    "robots_exclusion",
    "link_graph",
    "domain_quality_rollup",
    "ngram_novelty",
    "shard_source_mix",
    "chunk_dedup",
    "adamic_adar",
    "byte_bpe_encode_tokens",
    "late_data_accounting",
    "grouping_sets_revenue",
    "record_linkage",
    "hll_merge_rollup",
    "phrase_search",
    "mad_outliers",
    "stream_outer_attribution",
    "cdc_chunk_stats",
    "json_schema_infer",
    "mutual_edges_salted",
    "dataset_card",
    "tokenizer_fertility",
    "ann_filtered_topk",
    "keyset_page",
    "scd2_as_of",
    "blocklist_filter",
    "crawl_frontier",
    "stream_event_transitions",
    "classifier_quality_report",
)
DRIVER_WINDOW = 50


def load_all() -> dict[str, QuerySpec]:
    """Import every query module, then return the registry in the explicit
    ``REGISTRY_ORDER`` (names registered but missing from the list are
    appended at the back, past the driver window, never silently dropped)."""
    from . import core  # noqa: F401
    from . import diagnostics  # noqa: F401
    from . import extensions  # noqa: F401
    from . import graph  # noqa: F401
    from . import ledger  # noqa: F401
    from . import model  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import ranking  # noqa: F401
    from . import temporal  # noqa: F401
    from . import text  # noqa: F401
    from . import web  # noqa: F401

    ordered = {n: REGISTRY[n] for n in REGISTRY_ORDER if n in REGISTRY}
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
