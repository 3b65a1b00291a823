"""Retrieval-layer compositions: hybrid lexical+semantic search and
RAG context packing over the `documents` / `embeddings` tables
(doc_id and vec_id share one id space in the fixtures, as they would
in a real corpus where each chunk carries its embedding).

These are the two operators that sit ON TOP of the search primitives
the repo already ships (BM25 scoring in operators/text.py, exact/ANN
cosine top-k in operators/similarity.py): production retrieval is
almost never one ranker, it's a fusion of a sparse and a dense ranking
plus a budget-bounded assembly of the winners into a prompt context.

Scale posture (both operators):
  - the query set is tiny and BROADCAST; the corpus scans once per
    ranker and never self-joins;
  - per-query rankings use the ranking window on the small query-id
    partition count, bounded by the candidate pool;
  - fusion joins two top-POOL lists (queries x POOL rows each) — a
    trivially small shuffle regardless of corpus size.

Cross-engine determinism: ranks are integers derived from either a
ROUND(.,4)-quantized BM25 score (the bm25_search policy) or the raw
cosine whose fold is bit-identical in both engines (the
similarity_topk policy); the RRF score is a fixed-order sum of exact
1/(K+rank) integer-ratio terms, so the doubles agree bit-for-bit.

Reference parity note: the reference has no retrieval layer (its
search surface is five BigQuery chart queries, README.md:56-76); this
module is part of the mandated LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.operators._common import (
    dot_expr,
    dot_sql,
    tokens_expr,
    tokens_sql,
)
from google_cloud_ecommerce_spark.operators.similarity import (
    N_QUERY_VECS,
    TOP_K,
    _emb,
    _query_vecs,
    _with_norm,
)
from google_cloud_ecommerce_spark.operators.text import (
    BM25_TERMS,
    _bm25_score_tpl,
    _docs,
)
from google_cloud_ecommerce_spark.pins import pin


# ---------------------------------------------------------------------------
# hybrid_search_rrf — reciprocal-rank fusion (Cormack et al., SIGIR
# 2009) of a sparse (single-term BM25) and a dense (exact cosine)
# ranking. Query i pairs BM25_TERMS[i] with query vector vec_id = i —
# the standard "text query + its embedding" shape. Each ranker
# produces its top-RRF_POOL list; fusion scores every doc appearing in
# either list with sum(1 / (RRF_K + rank)), missing ranks contributing
# 0, and keeps the top RRF_TOP_K per query.
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_POOL = 20
RRF_TOP_K = 10
N_RRF_QUERIES = len(BM25_TERMS)  # 4: query i = (BM25_TERMS[i], vec_id i)


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF_POOL bounds both per-ranker windows, so the fusion join stays
    queries x RRF_POOL rows at any corpus size."""
    # --- sparse side: per-term BM25 over one corpus scan ------------------
    # One tokenize pass: per-term tfs and the doc length are reduced to a
    # NARROW (doc_id, dl, tf_0..tf_3) table and lazily pinned — the
    # corpus-stats aggregate and the scoring join both read it, instead
    # of each re-running tokenize + 4 array scans per doc (the old shape
    # tokenized twice and re-filtered the token array per use).
    tf_cols = [
        F.expr(f"CAST(size(filter(toks, x -> x = '{t}')) AS BIGINT)").alias(f"tf_{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    tfd = pin(
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(tokens_expr("lower(text)")).alias("toks"))
        .select("doc_id", F.expr("CAST(size(toks) AS BIGINT)").alias("dl"), *tf_cols)
    )
    stats = tfd.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    j = tfd.crossJoin(F.broadcast(stats))
    for i, _t in enumerate(BM25_TERMS):
        j = j.withColumn(
            f"s_{i}",
            F.expr(_bm25_score_tpl(f"tf_{i}", f"df_{i}", "CAST(dl AS DOUBLE)")),
        )
    stacked = " , ".join(
        f"struct({i} AS q_id, round(s_{i}, 4) AS score, tf_{i} AS tf)"
        for i in range(N_RRF_QUERIES)
    )
    lex_w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    lex = (
        j.select("doc_id", F.explode(F.expr(f"array({stacked})")).alias("e"))
        .select("doc_id", F.col("e.q_id").cast("int").alias("q_id"), "e.score", "e.tf")
        .filter(F.col("tf") > 0)
        .withColumn("lex_rank", F.row_number().over(lex_w).cast("long"))
        .filter(F.col("lex_rank") <= RRF_POOL)
        .select("q_id", "doc_id", "lex_rank")
    )
    # --- dense side: exact cosine, query vectors broadcast ----------------
    corpus = _with_norm(_emb(spark, sf_dir))
    queries = corpus.filter(F.col("vec_id") < N_RRF_QUERIES).select(
        F.col("vec_id").cast("int").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    sem_w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    sem = (
        corpus.join(F.broadcast(queries))
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
        .withColumn("sem_rank", F.row_number().over(sem_w).cast("long"))
        .filter(F.col("sem_rank") <= RRF_POOL)
        .select("q_id", F.col("vec_id").alias("doc_id"), "sem_rank")
    )
    # --- fusion ------------------------------------------------------------
    rrf = (
        "COALESCE(1.0 / (CAST({k} AS BIGINT) + lex_rank), CAST(0.0 AS DOUBLE)) + "
        "COALESCE(1.0 / (CAST({k} AS BIGINT) + sem_rank), CAST(0.0 AS DOUBLE))"
    ).format(k=RRF_K)
    # Fusion via union + re-aggregate instead of a full-outer join: each
    # side's rank is unique per (q_id, doc_id), so max() over the union
    # recovers exactly the joined row — one exchange and a hash
    # aggregate where the full-outer form paid two sorted exchanges and
    # a sort-merge join (guide §2.4; full-outer cannot broadcast).
    # Interleaved A/B at sf0.1: min 1.00 -> 0.84 s, identical rows.
    fused = (
        lex.select(
            "q_id", "doc_id", "lex_rank",
            F.lit(None).cast("long").alias("sem_rank"),
        )
        .unionByName(
            sem.select(
                "q_id", "doc_id",
                F.lit(None).cast("long").alias("lex_rank"), "sem_rank",
            )
        )
        .groupBy("q_id", "doc_id")
        .agg(
            F.max("lex_rank").alias("lex_rank"),
            F.max("sem_rank").alias("sem_rank"),
        )
        .withColumn("rrf_score", F.expr(rrf))
    )
    out_w = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(out_w).cast("long"))
        .filter(F.col("rank") <= RRF_TOP_K)
        .select(
            "q_id",
            "doc_id",
            "rank",
            F.coalesce("lex_rank", F.lit(0).cast("long")).alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0).cast("long")).alias("sem_rank"),
            F.round("rrf_score", 6).alias("rrf_score"),
        )
    )


def _hybrid_search_rrf_sql() -> str:
    lex_branches = "\n            UNION ALL\n".join(
        f"""            SELECT doc_id, {i} AS q_id,
                   ROUND({_bm25_score_tpl(
                       f"len(list_filter(toks, x -> x = '{t}'))",
                       f"df_{i}",
                       "CAST(len(toks) AS DOUBLE)",
                   )}, 4) AS score
            FROM toks CROSS JOIN stats
            WHERE len(list_filter(toks, x -> x = '{t}')) > 0"""
        for i, t in enumerate(BM25_TERMS)
    )
    dfs = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    rrf = (
        f"COALESCE(1.0 / (CAST({RRF_K} AS BIGINT) + lex_rank), CAST(0.0 AS DOUBLE)) + "
        f"COALESCE(1.0 / (CAST({RRF_K} AS BIGINT) + sem_rank), CAST(0.0 AS DOUBLE))"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl,
                   {dfs}
            FROM toks
        ), lex_scored AS (
{lex_branches}
        ), lex AS (
            SELECT CAST(q_id AS INT) AS q_id, doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY score DESC, doc_id
                   ) AS BIGINT) AS lex_rank
            FROM lex_scored
            QUALIFY lex_rank <= {RRF_POOL}
        ), e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), sem_scored AS (
            SELECT CAST(q.vec_id AS INT) AS q_id, c.vec_id AS doc_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q CROSS JOIN n c
            WHERE q.vec_id < {N_RRF_QUERIES}
        ), sem AS (
            SELECT q_id, doc_id,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, doc_id
                   ) AS BIGINT) AS sem_rank
            FROM sem_scored
            QUALIFY sem_rank <= {RRF_POOL}
        ), fused AS (
            SELECT q_id, doc_id, lex_rank, sem_rank, {rrf} AS rrf_score
            FROM lex FULL OUTER JOIN sem USING (q_id, doc_id)
        )
        SELECT q_id, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY rrf_score DESC, doc_id
               ) AS BIGINT) AS rank,
               COALESCE(lex_rank, CAST(0 AS BIGINT)) AS lex_rank,
               COALESCE(sem_rank, CAST(0 AS BIGINT)) AS sem_rank,
               ROUND(rrf_score, 6) AS rrf_score
        FROM fused
        QUALIFY rank <= {RRF_TOP_K}
    """


# ---------------------------------------------------------------------------
# rag_context_pack — budget-bounded context assembly: for each query
# vector, take the exact cosine top-k documents in relevance order and
# pack them into the prompt until the next document would blow the
# token budget (monotone prefix take-while: cumulative tokens <=
# budget). The output is the per-query packed context manifest a
# generation job would read.
# ---------------------------------------------------------------------------

RAG_TOP_K = TOP_K
RAG_TOKEN_BUDGET = 300


def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_norm(_emb(spark, sf_dir))
    rank_w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    top = (
        corpus.join(F.broadcast(_query_vecs(corpus)), F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rank") <= RAG_TOP_K)
        .select("q_id", F.col("vec_id").alias("doc_id"), "rank", "cos")
    )
    doc_tokens = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("n_tokens"),
    )
    cum_w = (
        Window.partitionBy("q_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.join(doc_tokens, "doc_id")
        .withColumn("cum_tokens", F.sum("n_tokens").over(cum_w))
        .filter(F.col("cum_tokens") <= RAG_TOKEN_BUDGET)
        .select(
            "q_id",
            "rank",
            "doc_id",
            "n_tokens",
            "cum_tokens",
            F.round("cos", 4).alias("cosine"),
        )
    )


def _rag_context_pack_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q JOIN n c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        ), top AS (
            SELECT q_id, doc_id, cos,
                   CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, doc_id
                   ) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= {RAG_TOP_K}
        ), dt AS (
            SELECT doc_id, CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT t.q_id, t.rank, t.doc_id, dt.n_tokens, t.cos,
                   CAST(SUM(dt.n_tokens) OVER (
                       PARTITION BY t.q_id ORDER BY t.rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_tokens
            FROM top t JOIN dt ON dt.doc_id = t.doc_id
        )
        SELECT q_id, rank, doc_id, n_tokens, cum_tokens, ROUND(cos, 4) AS cosine
        FROM packed WHERE cum_tokens <= {RAG_TOKEN_BUDGET}
    """


QUERIES = {
    "hybrid_search_rrf": hybrid_search_rrf,
    "rag_context_pack": rag_context_pack,
}

ORACLE = {
    "hybrid_search_rrf": _hybrid_search_rrf_sql(),
    "rag_context_pack": _rag_context_pack_sql(),
}


# ---------------------------------------------------------------------------
# mmr_diversified_topk — Maximal Marginal Relevance (Carbonell &
# Goldstein, SIGIR 1998): greedy re-ranking of the per-query top-POOL
# candidates that trades relevance against redundancy —
# score(d) = LAMBDA * rel(d) - (1 - LAMBDA) * max sim(d, selected).
# The de-duplication step a RAG context actually needs: rag_context_pack
# above fills the budget with the most RELEVANT docs, MMR fills it with
# relevant docs that aren't five copies of each other.
#
# Scale shape: the corpus is touched exactly once, by the same
# broadcast-query scan as similarity_topk; rel and ALL pairwise sims
# are computed in-plan (the shared bit-identical cosine fold), and the
# greedy K-round selection runs as ONE cogrouped applyInPandas stage
# per query over the (queries x POOL)-bounded pool — selection is pure
# comparisons over already-computed doubles, so nothing float-critical
# happens in Python. (The first implementation unrolled the greedy as
# K DataFrame rounds: plan-pure, but ~12 tiny jobs of pure scheduling
# overhead on a 100-row pool — 4.7 s at sf0.1 vs ~1.5 s for this form,
# same outputs bit-for-bit.)
#
# Cross-engine determinism: rel and sim come from the shared fold;
# LAMBDA and (1 - LAMBDA) are exact binary floats (0.75/0.25), and
# lam*rel - oml*ms is the same two-multiply-one-subtract IEEE sequence
# in Python as in the oracle's SQL; argmax ties break on doc id.
# Output values rounded for display only.
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.75  # exact in binary; 1-lambda = 0.25 exact too
MMR_POOL = 20
MMR_K = 5


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam, oml = float(MMR_LAMBDA), float(1.0 - MMR_LAMBDA)
    corpus = _with_norm(_emb(spark, sf_dir))
    rank_w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    pool_df = pin(
        corpus.join(F.broadcast(_query_vecs(corpus)), F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "rel", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
        .withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= MMR_POOL)
        .select("q_id", "vec_id", "rel", "v", "norm")
    )
    a, b = pool_df.alias("a"), pool_df.alias("b")
    sims = a.join(
        b,
        (F.col("a.q_id") == F.col("b.q_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.q_id").alias("q_id"),
        F.col("a.vec_id").alias("d"),
        F.col("b.vec_id").alias("o"),
        (
            F.expr(dot_expr("a.v", "b.v")) / (F.col("a.norm") * F.col("b.norm"))
        ).alias("sim"),
    )

    def greedy(pool_pdf, sims_pdf):
        import pandas as pd

        if pool_pdf.empty:
            return pd.DataFrame(
                columns=["q_id", "round", "doc_id", "rel", "mmr_score"]
            )
        q = int(pool_pdf["q_id"].iloc[0])
        rel_of = dict(zip(pool_pdf["vec_id"], pool_pdf["rel"]))
        sim_of: dict[tuple[int, int], float] = {
            (int(d), int(o)): float(s)
            for d, o, s in zip(sims_pdf["d"], sims_pdf["o"], sims_pdf["sim"])
        }
        selected: list[int] = []
        out = []
        for rnd in range(1, min(MMR_K, len(rel_of)) + 1):
            best = None  # (score, doc)
            for d, rel in rel_of.items():
                d = int(d)
                if d in selected:
                    continue
                if not selected:
                    score = float(rel)
                else:
                    ms = max(sim_of[(d, s)] for s in selected)
                    score = lam * float(rel) - oml * ms
                if (
                    best is None
                    or score > best[0]
                    or (score == best[0] and d < best[1])
                ):
                    best = (score, d)
            selected.append(best[1])
            out.append((q, rnd, best[1], float(rel_of[best[1]]), best[0]))
        return pd.DataFrame(
            out, columns=["q_id", "round", "doc_id", "rel", "mmr_score"]
        )

    picked = pool_df.select("q_id", "vec_id", "rel").groupBy("q_id").cogroup(
        sims.groupBy("q_id")
    ).applyInPandas(
        greedy,
        "q_id bigint, round int, doc_id bigint, rel double, mmr_score double",
    )
    return picked.select(
        "q_id",
        "round",
        "doc_id",
        F.round("rel", 4).alias("rel"),
        F.round("mmr_score", 4).alias("mmr_score"),
    )


def _mmr_sql() -> str:
    lam, oml = repr(MMR_LAMBDA), repr(1.0 - MMR_LAMBDA)
    rounds = []
    sel_union = "sel1"
    for i in range(2, MMR_K + 1):
        rounds.append(f"""u{i} AS (
            SELECT * FROM {sel_union}
        ), m{i} AS (
            SELECT s.q_id, s.d, MAX(s.sim) AS ms
            FROM sims s JOIN u{i} x ON x.q_id = s.q_id AND x.doc_id = s.o
            GROUP BY 1, 2
        ), c{i} AS (
            SELECT p.q_id, p.d, p.rel, {lam} * p.rel - {oml} * m.ms AS score
            FROM pool p
            JOIN m{i} m ON m.q_id = p.q_id AND m.d = p.d
            LEFT JOIN u{i} x ON x.q_id = p.q_id AND x.doc_id = p.d
            WHERE x.doc_id IS NULL
        ), sel{i} AS (
            SELECT q_id, d AS doc_id, rel, {i} AS round, score AS mmr_score
            FROM c{i}
            QUALIFY row_number() OVER (
                PARTITION BY q_id ORDER BY score DESC, d
            ) = 1
        )""")
        sel_union = f"(SELECT q_id, doc_id FROM u{i} UNION ALL SELECT q_id, doc_id FROM sel{i})"
    chain = ", ".join(rounds)
    final = "\n        UNION ALL\n".join(
        f"        SELECT q_id, round, doc_id, ROUND(rel, 4) AS rel,"
        f" ROUND(mmr_score, 4) AS mmr_score FROM sel{i}"
        for i in range(1, MMR_K + 1)
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS d, c.v, c.norm,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS rel
            FROM n q JOIN n c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        ), pool AS (
            SELECT q_id, d, rel, v, norm FROM scored
            QUALIFY row_number() OVER (
                PARTITION BY q_id ORDER BY rel DESC, d
            ) <= {MMR_POOL}
        ), sims AS (
            SELECT a.q_id, a.d, b.d AS o,
                   {dot_sql('a.v', 'b.v')} / (a.norm * b.norm) AS sim
            FROM pool a JOIN pool b
              ON a.q_id = b.q_id AND a.d != b.d
        ), sel1 AS (
            SELECT q_id, d AS doc_id, rel, 1 AS round, rel AS mmr_score
            FROM pool
            QUALIFY row_number() OVER (
                PARTITION BY q_id ORDER BY rel DESC, d
            ) = 1
        ), {chain}
{final}
    """


QUERIES["mmr_diversified_topk"] = mmr_diversified_topk
ORACLE["mmr_diversified_topk"] = _mmr_sql()


# ---------------------------------------------------------------------------
# retrieval_ndcg_report — ranking quality of the exact cosine top-k,
# scored as nDCG@k with the embedding labels as relevance judgments
# (a neighbor is relevant iff it shares the query's label — the
# standard proxy-labeled retrieval eval). The discount weights
# 1/log2(rank+1) and their prefix sums (the ideal DCG table) are
# computed ONCE in Python and inlined as literals into BOTH engines,
# so no libm log runs per row anywhere; the DCG fold runs over the
# rank-sorted hit list in both engines (never a partition-order sum).
#
# Scale shape: same broadcast-query scan + per-query top-k window as
# similarity_topk, plus one |labels|-row broadcast for the per-label
# relevant-candidate counts.
# ---------------------------------------------------------------------------

NDCG_K = 10
_NDCG_W = []
for _i in range(1, NDCG_K + 1):
    import math as _math

    _NDCG_W.append(1.0 / _math.log2(_i + 1))
_NDCG_PREFIX = []
_acc = 0.0
for _w in _NDCG_W:
    _acc += _w
    _NDCG_PREFIX.append(_acc)


# scan-audit: queries, corpus, and relevance labels are three roles of the
# embeddings table by design; both small sides broadcast
def retrieval_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from google_cloud_ecommerce_spark.operators._common import spark_double_array

    corpus = _with_norm(_emb(spark, sf_dir))
    queries = _query_vecs(corpus, F.col("label").alias("q_label"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    top = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NDCG_K)
        .select(
            "q_id",
            "q_label",
            "rank",
            (F.col("label") == F.col("q_label")).cast("long").alias("rel"),
        )
    )
    w_arr = spark_double_array(_NDCG_W)
    p_arr = spark_double_array(_NDCG_PREFIX)
    # per-label candidate counts (how many relevant docs EXIST per query)
    label_counts = (
        corpus.groupBy("label").agg(F.count("*").alias("n_label"))
    )
    per_q = top.groupBy("q_id", "q_label").agg(
        F.sum("rel").cast("long").alias("n_relevant_at_k"),
        F.expr(
            f"aggregate(array_sort(collect_list(struct(rank, rel))), "
            f"CAST(0.0 AS DOUBLE), "
            f"(acc, s) -> acc + s.rel * element_at({w_arr}, s.rank))"
        ).alias("dcg"),
    )
    return (
        per_q.join(
            F.broadcast(label_counts), per_q["q_label"] == label_counts["label"]
        )
        # self is excluded from candidates: a query can match n_label - 1
        .withColumn("n_possible", (F.col("n_label") - 1).cast("long"))
        # n_possible = 0 (a query whose label is unique in the corpus) has
        # no achievable DCG: index the prefix table at >= 1 to avoid the
        # always-throwing element_at(arr, 0), and emit ndcg = 0 directly
        .withColumn(
            "idcg",
            F.expr(
                f"element_at({p_arr}, "
                f"CAST(greatest(1, least(n_possible, {NDCG_K})) AS INT))"
            ),
        )
        .select(
            "q_id",
            "q_label",
            "n_relevant_at_k",
            "n_possible",
            F.round("dcg", 6).alias("dcg"),
            F.round(
                F.expr(
                    "CASE WHEN n_possible = 0 THEN CAST(0.0 AS DOUBLE) "
                    "ELSE dcg / idcg END"
                ),
                6,
            ).alias("ndcg"),
        )
    )


def _retrieval_ndcg_sql() -> str:
    from google_cloud_ecommerce_spark.operators._common import sql_double_array

    w_arr = sql_double_array(_NDCG_W)
    p_arr = sql_double_array(_NDCG_PREFIX)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
        ), n AS (
            SELECT vec_id, v, label, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), top AS (
            SELECT q.vec_id AS q_id, q.label AS q_label,
                   CAST(c.label = q.label AS BIGINT) AS rel,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) DESC,
                                c.vec_id
                   ) AS rank
            FROM n q JOIN n c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
            QUALIFY rank <= {NDCG_K}
        ), lc AS (
            SELECT label, count(*) AS n_label FROM e GROUP BY 1
        ), per_q AS (
            SELECT q_id, q_label,
                   CAST(SUM(rel) AS BIGINT) AS n_relevant_at_k,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(list(rel * list_extract({w_arr}, rank)
                                           ORDER BY rank), x -> x)),
                       (acc, x) -> acc + x) AS dcg
            FROM top GROUP BY 1, 2
        )
        SELECT p.q_id, p.q_label, p.n_relevant_at_k,
               CAST(lc.n_label - 1 AS BIGINT) AS n_possible,
               ROUND(p.dcg, 6) AS dcg,
               ROUND(CASE WHEN lc.n_label - 1 = 0 THEN CAST(0.0 AS DOUBLE)
                     ELSE p.dcg / list_extract({p_arr},
                          CAST(greatest(1, least(lc.n_label - 1, {NDCG_K})) AS INT))
                     END, 6) AS ndcg
        FROM per_q p JOIN lc ON lc.label = p.q_label
    """


QUERIES["retrieval_ndcg_report"] = retrieval_ndcg_report
ORACLE["retrieval_ndcg_report"] = _retrieval_ndcg_sql()


# ---------------------------------------------------------------------------
# expanded_keyword_search — query expansion by co-occurrence lift: for
# each base term, the top-E partner tokens by document-level lift
# (df_together * N / (df_term * df_partner) — the exp(PMI) ordering
# without a per-row libm log) join the query at half weight, and
# documents are scored by the weighted term-frequency sum. The
# classic pseudo-relevance trick that lifts recall when the base term
# alone is too sparse — the sparse-side counterpart of hybrid fusion.
#
# Scale shape: document frequencies and co-occurrence counts come from
# one distinct-token explode and one token-keyed self-join restricted
# to the base terms (the co-occurrence table is |terms| x |vocab|
# bounded, not vocab^2); the chosen expansion rows (terms x (1+E))
# broadcast into one counts-side join; per-doc scores are exact
# DECIMAL sums of integer tf x one-decimal weights, so no float
# accumulation order exists at all.
# ---------------------------------------------------------------------------

EXP_TERMS = ("spark", "join")
EXP_PARTNERS = 2
EXP_TOP_K = 10
EXP_MIN_CODF = 2


def expanded_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("tok")
    )
    # `counts` feeds dfreq, base, co AND the final scoring join; without a
    # pin Catalyst re-plans the tokenize+explode+groupBy subtree per use
    # (12 corpus scans, VERDICT r5)
    counts = pin(
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    doc_toks = counts.select("doc_id", "tok")  # distinct by construction
    nd = doc_toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    # dfreq broadcasts twice (as q_tok and as partner tok); pinned so the
    # vocab-sized aggregate runs once instead of once per broadcast
    dfreq = pin(
        doc_toks.groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    base = doc_toks.filter(F.col("tok").isin(*EXP_TERMS)).select(
        F.col("tok").alias("q_term"), "doc_id"
    )
    co = (
        base.join(doc_toks, "doc_id")
        .filter(F.col("tok") != F.col("q_term"))
        .groupBy("q_term", "tok")
        .agg(F.count("*").alias("co_df"))
        .filter(F.col("co_df") >= EXP_MIN_CODF)
    )
    lift = (
        co.join(F.broadcast(dfreq.withColumnRenamed("tok", "q_tok")),
                F.col("q_tok") == F.col("q_term"))
        .withColumnRenamed("df", "df_q")
        .join(F.broadcast(dfreq), "tok")
        .join(F.broadcast(nd))
        .withColumn(
            "lift",
            F.expr("CAST(co_df * n_docs AS DOUBLE) / CAST(df_q * df AS DOUBLE)"),
        )
    )
    pw = Window.partitionBy("q_term").orderBy(F.desc("lift"), F.asc("tok"))
    partners = (
        lift.withColumn("prank", F.row_number().over(pw))
        .filter(F.col("prank") <= EXP_PARTNERS)
        .select("q_term", "tok", F.expr("CAST(0.5 AS DECIMAL(3,1))").alias("w"))
    )
    selves = spark.createDataFrame(
        [(t, t) for t in EXP_TERMS], "q_term string, tok string"
    ).select("q_term", "tok", F.expr("CAST(1.0 AS DECIMAL(3,1))").alias("w"))
    weights = partners.unionByName(selves)
    scored = (
        counts.join(F.broadcast(weights), "tok")
        .groupBy("q_term", "doc_id")
        .agg(F.sum(F.expr("tf * w")).alias("score_dec"))
    )
    sw = Window.partitionBy("q_term").orderBy(F.desc("score_dec"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(sw).cast("long"))
        .filter(F.col("rank") <= EXP_TOP_K)
        .select(
            "q_term",
            "doc_id",
            "rank",
            F.col("score_dec").cast("double").alias("score"),
        )
    )


def _expanded_keyword_search_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in EXP_TERMS)
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS tok FROM documents
        ), counts AS (
            SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        ), doc_toks AS (
            SELECT DISTINCT doc_id, tok FROM counts
        ), nd AS (
            SELECT count(DISTINCT doc_id) AS n_docs FROM doc_toks
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM doc_toks GROUP BY 1
        ), base AS (
            SELECT tok AS q_term, doc_id FROM doc_toks
            WHERE tok IN (SELECT term FROM (VALUES {terms}) AS bt(term))
        ), co AS (
            SELECT b.q_term, t.tok, count(*) AS co_df
            FROM base b JOIN doc_toks t ON t.doc_id = b.doc_id
            WHERE t.tok != b.q_term
            GROUP BY 1, 2
            HAVING count(*) >= {EXP_MIN_CODF}
        ), lift AS (
            SELECT c.q_term, c.tok,
                   CAST(c.co_df * nd.n_docs AS DOUBLE)
                       / CAST(dq.df * dp.df AS DOUBLE) AS lift
            FROM co c
            JOIN dfreq dq ON dq.tok = c.q_term
            JOIN dfreq dp ON dp.tok = c.tok
            CROSS JOIN nd
        ), partners AS (
            SELECT q_term, tok, CAST(0.5 AS DECIMAL(3,1)) AS w FROM lift
            QUALIFY row_number() OVER (
                PARTITION BY q_term ORDER BY lift DESC, tok
            ) <= {EXP_PARTNERS}
        ), weights AS (
            SELECT * FROM partners
            UNION ALL
            SELECT term AS q_term, term AS tok,
                   CAST(1.0 AS DECIMAL(3,1)) AS w
            FROM (VALUES {terms}) AS bt(term)
        ), scored AS (
            SELECT w.q_term, c.doc_id, SUM(c.tf * w.w) AS score_dec
            FROM counts c JOIN weights w ON w.tok = c.tok
            GROUP BY 1, 2
        )
        SELECT q_term, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY q_term ORDER BY score_dec DESC, doc_id
               ) AS BIGINT) AS rank,
               CAST(score_dec AS DOUBLE) AS score
        FROM scored
        QUALIFY rank <= {EXP_TOP_K}
    """


QUERIES["expanded_keyword_search"] = expanded_keyword_search
ORACLE["expanded_keyword_search"] = _expanded_keyword_search_sql()
