"""Query registry.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLE: dict[str, str]`` (DuckDB ANSI-SQL twins; keys without an
oracle get the driver's weaker rows-only check). ``all_queries`` /
``all_oracles`` merge every suite for ``__spark_entry__``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    from google_cloud_ecommerce_spark.operators import (
        dedup,
        multimodal,
        pandas_ops,
        pipeline,
        retrieval,
        similarity,
        text,
    )
    from google_cloud_ecommerce_spark.queries import (
        cdc,
        graph,
        joins,
        quality,
        reference,
        relational,
        scale,
        stats,
        tpch_extra,
        tpch_extra2,
    )
    from google_cloud_ecommerce_spark.functions import sql_udf
    from google_cloud_ecommerce_spark.sources import wire
    from google_cloud_ecommerce_spark.streaming import jobs as streaming_jobs

    return (
        reference,
        relational,
        joins,
        cdc,
        graph,
        quality,
        scale,
        stats,
        tpch_extra,
        tpch_extra2,
        dedup,
        similarity,
        text,
        multimodal,
        pandas_ops,
        pipeline,
        retrieval,
        wire,
        sql_udf,
        streaming_jobs,
    )


# The correctness driver oracle-checks the FIRST 50 registry entries only.
# Round-12 rotation (VERDICT r11 "next round" #5): CORRECTNESS_r11
# landed 50/50 green and the driver-green union is 291/291 — the
# never-checked tail is EMPTY, so every slot is a DOCUMENTED re-check.
# Slate composition (re-checks are the queries whose plans were
# rewritten, then strictly oldest evidence):
# 5 re-checks whose trainers were rewritten since their last CORRECTNESS row
# (r13 one-row Lloyd state, then the shared _lloyd_assign/_lloyd_update
# kernels with _kmeans_train/_pq_train): similarity_pq_topk,
# similarity_ivfpq_topk, pq_encode, pq_distortion_report, kmeans_assign.
# They took slots 1-5 from curation_funnel_v2, corpus_to_training_batches,
# pretraining_corpus_prep, embedding_outliers and skipgram_pairs, whose
# round-12 code changes are green in CORRECTNESS_r12 and r13;
# 3 re-checks whose code changed in round-12 optimization commits and
# again since CORRECTNESS_r13 — hybrid_search_rrf (full-outer joins fused
# to union/conditional aggregates), vocab_prune_coverage (fused totals),
# semdedup_clusters (pair stage SHUFFLE_HASH; its k-means now runs on
# _kmeans_train too);
# 3 re-checks whose global rank now comes from partition offsets
# collected to the driver (operators/ranking.py, no broadcast θ-join):
# decile_lift_chart, lineitem_quartiles_distributed, record_id. They
# took the last three r06-last slots (hard_negative_mining,
# ivf_balance_report, label_centroids);
# 5 re-checks whose stream plumbing moved into the shared harness (one
# _drain, one chunk landing, one epoch fold) and that held no slot:
# streaming_corpus_prep (now rank-chunked), streaming_lakehouse_ingest,
# streaming_session_state, streaming_jdbc_sink, wire_stream_sink. They
# took five of the seven non-streaming r05-last slots
# (rolling_median_daily_value, rolling_weekly_active_users,
# series_similarity, span_corruption_masks, stratified_hash_sample),
# green in CORRECTNESS_r12 and r13 and untouched by that change; the
# ten streaming r05-last names keep their slots, rewritten by it too;
# 3 re-checks routed through the round-12 manifest-layer hardening
# (empty-diff change feed, claim fencing, temporal stats bounds,
# retryable rebase): streaming_version_feed, lakehouse_pruned_read,
# streaming_manifest_ingest (lakehouse_change_feed and
# lakehouse_append_ingest gave way to the pin-rule re-checks below);
# 4 re-checks whose n-gram, repetition-gate, Gopher-count or lambda-bound
# expressions moved onto the shared document-feature helpers in
# operators/_common.py (ngrams_expr, let_expr, the per-row repetition
# gate, the Gopher counts): gopher_gates, dedup_ngram_jaccard,
# dedup_prefix_filter, feature_hash_vectors (pretraining_corpus_prep,
# corpus_to_training_batches, curation_funnel_v2 and dedup_simhash, moved
# too, gave way to the pin-rule re-checks below). The seven that held
# no slot took the two remaining non-streaming r05-last slots
# (tokenizer_fertility, user_activity_bitmap) and the first five r06-last
# slots (balanced_group_sample, corpus_mixture_sample,
# corpus_quality_dashboard, corpus_stats, dedup_embedding_cosine), all
# green in CORRECTNESS_r12 and r13 and untouched by that change;
# 3 re-checks whose exact-rerank tail now runs through the shared
# _rank_topk and whose query set comes from the one _query_vecs builder:
# similarity_ivf_topk, similarity_index_topk, similarity_ivf_index_topk
# (last driver rows r09, r09, r06). They took the first three of the
# six remaining r06-last slots (dedup_segments, doc_fingerprint,
# doc_tokens_udtf), green in CORRECTNESS_r13 and untouched by that
# change;
# 5 re-checks whose persisted layout (location, _SOURCE marker, rebuild
# rule) moved into the one io.persisted_layout helper: text_index_search,
# events_cube_rollup (its marker now carries a recipe),
# repeated_span_dedup, dedup_span_excision, bucketed_join_revenue (last
# driver rows r06, r10, r11, r11, r08). They took embedding_dim_stats,
# the one oldest-evidence slot green in CORRECTNESS_r13 and untouched
# since (the ten streaming names were rewritten by the harness change
# and expanded_keyword_search / length_bucket_batches changed since r13),
# and four round-12 re-checks green in r12 and r13 and untouched since:
# skipgram_pmi, schema_evolution_read, corpus_drift, pagerank_categories;
# 6 re-checks whose pin or round loop changed under the one pin rule
# (pins.pin / pins.pin_result): pagerank_categories (edge pin deleted),
# corpus_curation_pipeline (pairs pin deleted), dedup_clusters (eager
# label-loop pins now lazy), lineitem_quartiles (rank pin now lazy),
# bpe_tokenize (iterate template replaced by a plain loop) and
# embedding_top_component (power-iteration loop likewise); last CORRECTNESS
# rows r10, r07, r09, r09, r08, r07. Every oldest-evidence slot reaches a
# changed line (the ten streaming names and length_bucket_batches replay
# or rank through the rank pin, expanded_keyword_search pins its counts),
# so they took the oldest-evidence slots among the re-checks green in
# CORRECTNESS_r13 that reach no changed line: pretraining_corpus_prep,
# corpus_to_training_batches, dedup_simhash (r06-last), then
# curation_funnel_v2, lakehouse_append_ingest, lakehouse_change_feed
# (r11-last, alphabetical; tpch_q1_pricing_summary stays the canary);
# tpch_q1_pricing_summary as the cross-round canary;
# then strictly oldest evidence: the ten streaming r05-last names
# (streaming_band_enrichment onward), rewritten by the harness change;
# then 2 of the first 15 of the 44 r06-last names alphabetically,
# skipping the three that held code-changed slots
# (corpus_to_training_batches, hybrid_search_rrf, pretraining_corpus_prep),
# the three that gave way to the rank re-checks above, the five that
# gave way to the document-feature re-checks and the three that gave way
# to the rank-tail re-checks, and embedding_dim_stats, which gave way to
# the persisted-layout re-checks. Every name has an oracle;
# tests/test_registry.py pins the slate and the no-wasted-slot rule.
PRIORITY: tuple[str, ...] = (
    # --- 5 re-checks: Lloyd trainers rewritten since the last check ---
    "similarity_pq_topk",
    "similarity_ivfpq_topk",
    "pq_encode",
    "pq_distortion_report",
    "kmeans_assign",
    # --- 3 re-checks: code changed in round-12 commits ---
    "hybrid_search_rrf",
    "vocab_prune_coverage",
    "semdedup_clusters",
    # --- 3 re-checks: global rank now from collected partition offsets ---
    "decile_lift_chart",
    "lineitem_quartiles_distributed",
    "record_id",
    # --- 5 re-checks: stream plumbing moved into the shared harness ---
    "streaming_corpus_prep",
    "streaming_lakehouse_ingest",
    "streaming_session_state",
    "streaming_jdbc_sink",
    "wire_stream_sink",
    # --- 3 re-checks: routed through the r12 manifest hardening ---
    "streaming_version_feed",
    "lakehouse_pruned_read",
    "streaming_manifest_ingest",
    # --- 4 re-checks: moved onto the shared document-feature helpers ---
    "gopher_gates",
    "dedup_ngram_jaccard",
    "dedup_prefix_filter",
    "feature_hash_vectors",
    # --- 3 re-checks: rank tail moved onto the shared _rank_topk ---
    "similarity_ivf_topk",
    "similarity_index_topk",
    "similarity_ivf_index_topk",
    # --- 5 re-checks: layout decision moved into io.persisted_layout ---
    "text_index_search",
    "events_cube_rollup",
    "repeated_span_dedup",
    "dedup_span_excision",
    "bucketed_join_revenue",
    # --- 6 re-checks: pin or round loop changed under the one pin rule ---
    "pagerank_categories",
    "corpus_curation_pipeline",
    "dedup_clusters",
    "lineitem_quartiles",
    "bpe_tokenize",
    "embedding_top_component",
    # --- cross-round canary ---
    "tpch_q1_pricing_summary",
    # --- 10 re-checks: oldest evidence (r05-last, the deferred tail) ---
    "streaming_band_enrichment",
    "streaming_dedup_within_watermark",
    "streaming_incremental_mv",
    "streaming_kmv_sketch",
    "streaming_media_features",
    "streaming_purchase_attribution_outer",
    "streaming_rate_limit",
    "streaming_similarity_topk",
    "streaming_two_level_window",
    "streaming_view_purchase_full_outer",
    # --- 2 re-checks: next-oldest evidence (r06-last), alphabetical ---
    "expanded_keyword_search",
    "length_bucket_batches",
)


def _merge(attr: str) -> dict:
    merged: dict = {}
    for mod in _modules():
        entries = getattr(mod, attr)
        dup = merged.keys() & entries.keys()
        if dup:  # a silent overwrite would hide an operator from the gate
            raise ValueError(f"duplicate {attr} keys across modules: {sorted(dup)}")
        merged.update(entries)
    head = {k: merged[k] for k in PRIORITY if k in merged}
    tail = {k: v for k, v in merged.items() if k not in head}
    return {**head, **tail}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merge("QUERIES")


def all_oracles() -> dict[str, str]:
    return _merge("ORACLE")
