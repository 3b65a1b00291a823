"""Workload definitions: which registry entries a run calls, on which
tables, at which data scale.

Every entry is a ``queries.all_queries()`` name. Scales are chosen so a
whole run (set-up, warm-up, the timed cycles) takes well under a minute
on 4 cores; per-call cost at these sizes is dominated by the fixed
per-job, per-trigger and Python-worker costs the workloads are meant to
expose (see README.md for the measured sizes). No entry reads a
persistent layout (an ANN or text index, a bucketed table,
events_by_day), so none is rebuilt in set-up.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    # tables touched in set-up with load_table (every table an entry reads)
    tables: tuple[str, ...]
    scale: float
    # measured seconds of one warm cycle on a 4-vCPU VM in its slower
    # hours (in others the same host ran a cycle in 60-70% of that):
    # --seconds becomes round(seconds / cycle_s) complete cycles (at
    # least one), so every run of a workload times the same number of
    # calls
    cycle_s: float
    # streaming entries run a whole bounded stream inside the call and
    # return a pinned result, so their output is checked after every
    # call; batch entries are checked once each in the warm-up cycle
    streaming: bool


WORKLOADS = {
    # LLM-data operators: multi-job calls, localCheckpoint pins run during
    # build (market_basket_rules spends most of its call there), and the
    # Arrow/mapInPandas Python-worker boundary (the media and cdc
    # entries). Left out, each repeating a kept entry's mechanism at a
    # higher cost: kn_bigram_score and curation_funnel_v2 (text scoring
    # and filtering), pq_encode, similarity_topk and semdedup_clusters
    # (similarity over embeddings, as kmeans_assign), which the run's
    # time budget does not cover.
    "curation": Workload(
        entries=(
            "dedup_prefix_filter",
            "kmeans_assign",
            "contamination_check",
            "bpe_tokenize",
            "tfidf_top_terms",
            "market_basket_rules",
            "pagerank_categories",
            "media_wav_decode",
            "cdc_chunk_dedup",
            "media_phash_clusters",
        ),
        tables=("documents", "embeddings", "events", "lineitem", "part"),
        scale=0.001,
        cycle_s=13.5,
        streaming=False,
    ),
    # The streaming pipeline as bounded catch-up replays: 8 triggers per
    # call plus sink writes. Two mechanisms: stateful aggregation into a
    # memory sink, and foreachBatch partitioned parquet writes. Left out:
    # streaming_merge_upsert, which reads a persistent layout
    # (events_by_day); streaming_view_purchase_join, whose ~9 s calls do
    # not fit the run's time budget; streaming_sessionization (stateful
    # aggregation again, over session windows) and
    # streaming_manifest_ingest (the foreachBatch write path again, plus
    # a manifest commit), whose warm-up and timed calls would add ~10 s
    # a run; the other streaming jobs repeat these mechanisms.
    "stream_ingest": Workload(
        entries=(
            "streaming_daily_events",
            "streaming_lakehouse_ingest",
        ),
        tables=("events",),
        scale=0.01,
        cycle_s=10.5,
        streaming=True,
    ),
}
