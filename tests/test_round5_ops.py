"""Semantics checks for the round-5 operators: hybrid RRF fusion,
RAG context packing, and the IVF/PQ index-health reports."""

from __future__ import annotations

import pytest


def test_hybrid_rrf_score_formula_and_bounds(spark, sf_smoke):
    """Every emitted row's rrf_score must equal the recomputed
    1/(60+lex) + 1/(60+sem) with missing ranks contributing 0, per-query
    output is capped at RRF_TOP_K, and ranks are a dense 1..n."""
    from google_cloud_ecommerce_spark.operators.retrieval import (
        RRF_K,
        RRF_POOL,
        RRF_TOP_K,
        hybrid_search_rrf,
    )

    rows = hybrid_search_rrf(spark, sf_smoke).collect()
    assert rows
    per_q: dict[int, list[int]] = {}
    for r in rows:
        expect = (1.0 / (RRF_K + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (RRF_K + r.sem_rank) if r.sem_rank else 0.0
        )
        assert r.rrf_score == pytest.approx(expect, abs=5e-7)
        assert 0 <= r.lex_rank <= RRF_POOL and 0 <= r.sem_rank <= RRF_POOL
        assert r.lex_rank or r.sem_rank  # a fused doc came from some list
        per_q.setdefault(r.q_id, []).append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= RRF_TOP_K


def test_hybrid_rrf_fuses_single_list_docs(spark, sf_smoke):
    """The full-outer fusion must keep docs present in only one
    ranking (rank 0 on the other side) — that's the point of RRF."""
    from google_cloud_ecommerce_spark.operators.retrieval import hybrid_search_rrf

    rows = hybrid_search_rrf(spark, sf_smoke).collect()
    assert any(r.lex_rank == 0 or r.sem_rank == 0 for r in rows)


def test_rag_context_pack_is_a_budget_prefix(spark, sf_smoke):
    """Per query: cumulative tokens never exceed the budget, the cum
    column is the true running sum in rank order, and the kept ranks
    are a gapless prefix 1..m (take-while, not skip-over)."""
    from google_cloud_ecommerce_spark.operators.retrieval import (
        RAG_TOKEN_BUDGET,
        rag_context_pack,
    )

    rows = rag_context_pack(spark, sf_smoke).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cum = 0
        for r in rs:
            assert r.n_tokens > 0
            cum += r.n_tokens
            assert r.cum_tokens == cum
            assert r.cum_tokens <= RAG_TOKEN_BUDGET


def test_ivf_balance_report_accounts_for_every_vector(spark, sf_smoke):
    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators.similarity import ivf_balance_report

    rows = ivf_balance_report(spark, sf_smoke).collect()
    n_corpus = load_table(spark, sf_smoke, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_corpus
    assert sum(r.frac for r in rows) == pytest.approx(1.0, abs=1e-3)
    n_cells = len(rows)
    for r in rows:
        assert r.load_factor == pytest.approx(
            r.n_vectors * n_cells / n_corpus, abs=5e-5
        )


def test_pq_distortion_report_partitions_each_subspace(spark, sf_smoke):
    """Each of the M subspaces assigns every vector to exactly one
    code, so per-m counts sum to the corpus size; distortion is
    non-negative and the codebook is at most M x K rows."""
    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_distortion_report,
    )

    rows = pq_distortion_report(spark, sf_smoke).collect()
    n_corpus = load_table(spark, sf_smoke, "embeddings").count()
    assert len(rows) <= PQ_M * PQ_K
    per_m: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.m < PQ_M and 0 <= r.c_id < PQ_K
        assert r.avg_sq_dist >= 0.0
        per_m[r.m] = per_m.get(r.m, 0) + r.n_vectors
    assert per_m == {m: n_corpus for m in range(PQ_M)}


def test_length_bucket_batches_crafted(spark, tmp_path):
    """Lengths 1..5 with batch_size=2 deal into ((1,2),(3,4),(5)):
    waste 1, 1, 0 — pinning the sort order, batch arithmetic, and the
    padding formula."""
    from google_cloud_ecommerce_spark.operators.pipeline import length_bucket_batches

    rows = [
        (i, " ".join(["w"] * n), "en", "s", 2 * n)
        for i, n in enumerate([3, 1, 5, 2, 4])
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.batch_id: (r.n_docs, r.min_tokens, r.max_tokens, r.sum_tokens, r.padding_waste)
        for r in length_bucket_batches(spark, str(tmp_path), batch_size=2).collect()
    }
    assert out == {0: (2, 1, 2, 3, 1), 1: (2, 3, 4, 7, 1), 2: (1, 5, 5, 5, 0)}


def test_embedding_dim_stats_matches_numpy(spark, sf_smoke):
    import numpy as np
    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark.operators.similarity import embedding_dim_stats

    tbl = pq.read_table(f"{sf_smoke}/embeddings.parquet")
    m = np.array(
        [np.asarray(v, dtype=np.float64) for v in tbl.column("embedding").to_pylist()]
    )
    rows = {r.dim: r for r in embedding_dim_stats(spark, sf_smoke).collect()}
    assert set(rows) == set(range(1, m.shape[1] + 1))
    for d in range(m.shape[1]):
        r = rows[d + 1]
        assert r.mean == pytest.approx(m[:, d].mean(), abs=1e-4)
        assert r.std == pytest.approx(m[:, d].std(), abs=1e-4)
        assert r.min_val == pytest.approx(m[:, d].min(), abs=1e-5)
        assert r.max_val == pytest.approx(m[:, d].max(), abs=1e-5)


def test_orc_roundtrip_preserves_content(spark, sf_smoke):
    """The ORC write/read aggregate must equal the same aggregate over
    the original parquet — row counts AND the md5 text checksum."""
    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators._common import token_hash_expr
    from google_cloud_ecommerce_spark.operators.pipeline import orc_roundtrip

    got = {
        (r.lang, r.source): (r.n_docs, r.sum_chars, r.text_checksum)
        for r in orc_roundtrip(spark, sf_smoke).collect()
    }
    want = {
        (r.lang, r.source): (r.n_docs, r.sum_chars, r.text_checksum)
        for r in load_table(spark, sf_smoke, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum(F.expr(token_hash_expr("text"))).cast("long").alias("text_checksum"),
        )
        .collect()
    }
    assert got == want


def test_streaming_heavy_hitters_is_exact_topn(spark, sf_smoke):
    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.streaming.jobs import (
        HH_TOP_N,
        streaming_heavy_hitters,
    )

    got = [
        (r.user_id, r.n_events) for r in streaming_heavy_hitters(spark, sf_smoke).collect()
    ]
    want = [
        (r.user_id, r.n_events)
        for r in load_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(HH_TOP_N)
        .collect()
    ]
    assert got == want


def test_bucketed_table_rebuilds_on_stale_marker(spark, tmp_path, tmp_warehouse):
    """A source-fingerprint change must force a layout rebuild; an
    unchanged fingerprint must reuse the files (marker untouched)."""
    import time

    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.io import ensure_bucketed_table

    src = spark.range(100).select(
        F.col("id").alias("o_custkey"), (F.col("id") * 2).alias("o_totalprice")
    )
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    t1 = ensure_bucketed_table(spark, str(tmp_path), "orders", "o_custkey")
    assert t1.count() == 100
    # mutate the source -> fingerprint changes -> rebuild with new rows
    time.sleep(0.01)
    spark.range(50).select(
        F.col("id").alias("o_custkey"), (F.col("id") * 2).alias("o_totalprice")
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    t2 = ensure_bucketed_table(spark, str(tmp_path), "orders", "o_custkey")
    assert t2.count() == 50


def _emb_matrix(sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    m = np.array(
        [np.asarray(v, dtype=np.float64) for v in tbl.column("embedding").to_pylist()]
    )
    ids = np.asarray(tbl.column("vec_id").to_pylist())
    labels = np.asarray(tbl.column("label").to_pylist())
    order = np.argsort(ids)
    return m[order], ids[order], labels[order]


def test_maxsim_retrieval_matches_numpy(spark, sf_smoke):
    import numpy as np

    from google_cloud_ecommerce_spark.operators.similarity import (
        MAXSIM_CHUNK,
        N_QUERY_VECS,
        maxsim_retrieval,
    )

    m, ids, _ = _emb_matrix(sf_smoke)
    norms = np.linalg.norm(m, axis=1)
    got = {(r.q_id, r.doc_id): r.maxsim for r in maxsim_retrieval(spark, sf_smoke).collect()}
    for q in range(N_QUERY_VECS):
        cos = (m @ m[q]) / (norms * norms[q])
        docs = {}
        for vid, c in zip(ids, cos):
            d = vid // MAXSIM_CHUNK
            docs[d] = max(docs.get(d, -2.0), c)
        top = sorted(docs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        for d, c in top:
            assert got[(q, d)] == pytest.approx(c, abs=5e-5)


def test_hard_negatives_never_share_the_query_label(spark, sf_smoke):
    import numpy as np

    from google_cloud_ecommerce_spark.operators.similarity import (
        HNM_TOP_K,
        N_QUERY_VECS,
        hard_negative_mining,
    )

    m, ids, labels = _emb_matrix(sf_smoke)
    norms = np.linalg.norm(m, axis=1)
    rows = hard_negative_mining(spark, sf_smoke).collect()
    assert all(r.neg_label != r.q_label for r in rows)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == HNM_TOP_K
        cos = (m @ m[q]) / (norms * norms[q])
        cand = [
            (c, vid)
            for vid, c, l in zip(ids, cos, labels)
            if l != labels[q]
        ]
        want = sorted(cand, key=lambda t: (-t[0], t[1]))[:HNM_TOP_K]
        got = sorted(((r.rank, r.neg_id) for r in rs))
        assert [nid for _, nid in got] == [vid for _, vid in want]


def test_vocab_coverage_is_monotone_and_saturates(spark, sf_smoke):
    from google_cloud_ecommerce_spark.operators.text import vocab_prune_coverage

    rows = sorted(
        vocab_prune_coverage(spark, sf_smoke).collect(), key=lambda r: r.v_budget
    )
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    assert all(0.0 < c <= 1.0 for c in covs)
    # the largest budget exceeds the fixture vocabulary -> full coverage
    last = rows[-1]
    assert last.v_budget >= last.n_vocab and last.coverage == 1.0
    assert all(r.total_tokens == rows[0].total_tokens for r in rows)


def test_mmr_matches_numpy_greedy(spark, sf_smoke):
    """Full reimplementation check: the unrolled DataFrame greedy must
    select exactly the docs a direct numpy MMR selects, in order."""
    import numpy as np

    from google_cloud_ecommerce_spark.operators.retrieval import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
        mmr_diversified_topk,
    )
    from google_cloud_ecommerce_spark.operators.similarity import N_QUERY_VECS

    m, ids, _ = _emb_matrix(sf_smoke)
    norms = np.linalg.norm(m, axis=1)
    got = {}
    for r in mmr_diversified_topk(spark, sf_smoke).collect():
        got.setdefault(r.q_id, {})[r.round] = r.doc_id
    for q in range(N_QUERY_VECS):
        rel = (m @ m[q]) / (norms * norms[q])
        cand = [(r, vid) for vid, r in zip(ids, rel) if vid != q]
        pool = sorted(cand, key=lambda t: (-t[0], t[1]))[:MMR_POOL]
        pool_ids = [vid for _, vid in pool]
        rel_of = dict((vid, r) for r, vid in pool)
        sel = []
        for i in range(1, MMR_K + 1):
            best = None
            for vid in pool_ids:
                if vid in sel:
                    continue
                if not sel:
                    score = rel_of[vid]
                else:
                    ms = max(
                        float(m[vid] @ m[s] / (norms[vid] * norms[s])) for s in sel
                    )
                    score = MMR_LAMBDA * rel_of[vid] - (1.0 - MMR_LAMBDA) * ms
                if best is None or score > best[0] or (score == best[0] and vid < best[1]):
                    best = (score, vid)
            sel.append(best[1])
            assert got[q][i] == best[1], (q, i, got[q], sel)


def test_temperature_weights_lift_low_resource_langs(spark, sf_smoke):
    from google_cloud_ecommerce_spark.operators.pipeline import (
        temperature_mixture_weights,
    )

    rows = temperature_mixture_weights(spark, sf_smoke).collect()
    assert rows
    assert sum(r.temp_weight for r in rows) == pytest.approx(1.0, abs=1e-3)
    assert sum(r.raw_share for r in rows) == pytest.approx(1.0, abs=1e-3)
    mean_share = 1.0 / len(rows)
    for r in rows:
        # temperature flattening: below-average languages get boosted,
        # above-average ones damped (strictly, unless exactly average)
        if r.raw_share < mean_share - 1e-9:
            assert r.boost > 1.0
        if r.raw_share > mean_share + 1e-9:
            assert r.boost < 1.0


def test_zonemap_zorder_skips_and_control_cannot(spark, sf_smoke):
    from google_cloud_ecommerce_spark.queries.scale import zonemap_skip_report

    rows = {r.layout: r for r in zonemap_skip_report(spark, sf_smoke).collect()}
    z, rr = rows["zorder"], rows["roundrobin"]
    assert z.rows_total == rr.rows_total
    assert z.rows_matching == rr.rows_matching  # skipping never loses rows
    assert z.n_skipped > 0 and z.rows_scanned < z.rows_total
    # clustering must beat the round-robin control (tiny control blocks
    # can skip a few rows by luck at the smallest SF, so compare
    # fractions rather than demanding zero skips)
    assert z.scan_frac < rr.scan_frac
    assert z.rows_scanned >= z.rows_matching
    assert rr.rows_scanned >= rr.rows_matching


def test_sq_topk_tracks_exact_topk(spark, sf_smoke):
    """int8 quantization at dim 64 is gentle — the SQ top-10 should
    overlap the exact top-10 heavily, and the integer dot must equal a
    numpy recomputation of the same quantization exactly."""
    import numpy as np

    from google_cloud_ecommerce_spark.operators.similarity import (
        similarity_sq_topk,
        similarity_topk,
    )

    exact = {}
    for r in similarity_topk(spark, sf_smoke).collect():
        exact.setdefault(r.q_id, set()).add(r.neighbor_id)
    sq = {}
    rows = similarity_sq_topk(spark, sf_smoke).collect()
    for r in rows:
        sq.setdefault(r.q_id, set()).add(r.neighbor_id)
    for q in exact:
        overlap = len(exact[q] & sq[q]) / len(exact[q])
        assert overlap >= 0.8, (q, exact[q], sq[q])

    m, ids, _ = _emb_matrix(sf_smoke)
    scale = 127.0 / np.abs(m).max(axis=1)
    codes = np.round(m * scale[:, None]).astype(np.int64)
    for r in rows[:20]:
        assert r.qdot == int(codes[r.q_id] @ codes[r.neighbor_id])


def test_ndcg_bounds_and_perfect_case(spark, sf_smoke):
    from google_cloud_ecommerce_spark.operators.retrieval import (
        NDCG_K,
        retrieval_ndcg_report,
    )

    rows = retrieval_ndcg_report(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        assert 0 <= r.n_relevant_at_k <= min(NDCG_K, r.n_possible)
        assert r.dcg >= 0.0
        # finding zero relevant docs must score exactly zero
        if r.n_relevant_at_k == 0:
            assert r.dcg == 0.0 and r.ndcg == 0.0
