"""Similarity search over the embedding column (`embeddings(vec_id,
embedding float[64], label)`): brute-force cosine top-k as the exact
baseline, and a random-projection (sign-LSH) bucketed variant as the
scale path.

Scale posture: the query set is tiny and broadcast; the corpus is never
shuffled for the brute-force scan (map-side compute + per-partition
top-k via the ranking window on the small query-id partition count).
The LSH variant prunes the corpus to matching sign-buckets before any
distance math — at 100 TB that's the difference between a full scan per
query and touching ~1/2^p of the data. Projection hyperplanes are fixed
seeded literals inlined into both engines (operators/_common.py).

Design anchors: the prune-then-verify candidate pattern follows the
distributed top-k similarity literature — incremental candidate
refinement (EDBT 2020, "Incremental Based Framework for Efficient
Top-K Similarity Search") and partition-local reference-point pruning
(ICDE 2021, REPOSE) — adapted to declarative Spark: bucket/cell keys
are join keys, pruning is a Catalyst filter, verification is the exact
cosine on the surviving pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.io import persisted_layout
from google_cloud_ecommerce_spark.operators._common import (
    EMBED_DIM,
    N_PROJECTIONS,
    PROJECTIONS,
    dot_expr,
    dot_sql,
    spark_double_array,
    sql_double_array,
)
from google_cloud_ecommerce_spark.pins import pin

N_QUERY_VECS = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr(f"sqrt({dot_expr('v', 'v')})"))


def _query_vecs(frame: DataFrame, *extra: Column) -> DataFrame:
    """The query set every top-k entry probes with: the N_QUERY_VECS
    rows of a normed frame as (q_id, qv, qnorm), plus ``extra`` columns
    read off the same rows (the query's bucket, cell, label, ...)."""
    return frame.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        *extra,
    )


def _rank_topk(scored: DataFrame) -> DataFrame:
    """Shared exact-rerank tail of the (q_id, neighbor_id, rank, cosine)
    top-k entries — exact, LSH, multiprobe, binary, IVF and both index
    probes: score each (query, candidate) pair by raw double cosine,
    keep the TOP_K best per query with ties to the lower neighbor id,
    round ONLY the output column — one definition so tie-breaking and
    rounding can never silently diverge between the exact and
    approximate operators."""
    scored = scored.withColumn(
        "cos", F.expr(f"{dot_expr('qv', 'v')}") / (F.col("qnorm") * F.col("norm"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos", 4).alias("cosine"),
        )
    )


def _rank_tail_sql() -> str:
    """DuckDB twin of _rank_topk's tail over a `scored` CTE."""
    return f"""
        SELECT q_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
                    AS BIGINT) AS rank,
               ROUND(cos, 4) AS cosine
        FROM scored
        QUALIFY rank <= {TOP_K}
    """


# ---------------------------------------------------------------------------
# Brute-force exact top-k
# ---------------------------------------------------------------------------


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (vec_id <
    N_QUERY_VECS). At 100 TB the same plan holds for any top-k (the
    per-query window is bounded by the candidate set) and any
    broadcastable query batch (thousands of query vectors — beyond
    that, chunk the query set).

    Ranking uses the raw double cosine (ties broken by neighbor id);
    only the output column is rounded.
    """
    corpus = _with_norm(_emb(spark, sf_dir))
    scored = corpus.join(
        F.broadcast(_query_vecs(corpus)), F.col("vec_id") != F.col("q_id")
    )
    return _rank_topk(scored)


def _similarity_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q JOIN n c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        )
{_rank_tail_sql()}"""


# ---------------------------------------------------------------------------
# Sign-LSH (random hyperplane) bucketing
# ---------------------------------------------------------------------------


def _bucket_expr() -> str:
    """8-bit sign bucket from the fixed projections — Spark side."""
    terms = []
    for p in range(N_PROJECTIONS):
        proj = spark_double_array(PROJECTIONS[p])
        terms.append(
            f"IF({dot_expr('v', proj, unroll=False)} > 0, shiftleft(1L, {p}), 0L)"
        )
    return " + ".join(terms)


def _bucket_sql() -> str:
    terms = []
    for p in range(N_PROJECTIONS):
        proj = sql_double_array(PROJECTIONS[p])
        terms.append(
            f"CASE WHEN {dot_sql('v', proj, unroll=False)} > 0"
            f" THEN (1::BIGINT << {p}) ELSE 0 END"
        )
    return " + ".join(terms)


def similarity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram — the partition-pruning artifact of the index."""
    return (
        _emb(spark, sf_dir)
        .withColumn("bucket", F.expr(_bucket_expr()))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's bucket.

    Same output shape as similarity_topk; recall < 1 by construction
    (tests/test_recall.py measures it against the exact operator). At
    scale the bucket column is the partition/cluster key, so a query
    touches one bucket instead of the full corpus; the bucket width is
    fixed by the shared projection literals (N_PROJECTIONS sign bits —
    at 100 TB you widen it so mean bucket occupancy stays scan-sized).
    """
    emb = _with_norm(_emb(spark, sf_dir)).withColumn("bucket", F.expr(_bucket_expr()))
    scored = emb.join(
        F.broadcast(_query_vecs(emb, F.col("bucket").alias("qbucket"))),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    return _rank_topk(scored)


def _similarity_buckets_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT {_bucket_sql()} AS bucket, count(*) AS n_vectors
        FROM e GROUP BY 1
    """


def _similarity_lsh_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm,
                   {_bucket_sql()} AS bucket
            FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        )
{_rank_tail_sql()}"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-style scale path: a small
# centroid set partitions the corpus into cells; a query probes only its
# NPROBE nearest cells. Centroids here are a deterministic corpus
# subset (vec_id in [100, 116)) instead of trained k-means means, which
# keeps the whole index SQL-expressible so the oracle can verify the
# cell assignment + probe + exact-rerank pipeline end to end. At 100 TB
# the cell id becomes the partition/cluster key of the stored corpus
# (same posture as the LSH bucket), centroids stay broadcast, and the
# rerank touches NPROBE/N_CENTROIDS of the data.
# ---------------------------------------------------------------------------

CENTROID_LO, CENTROID_HI = 100, 116  # 16 centroid vectors
N_PROBE = 4


def _assigned(spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE) -> DataFrame:
    """Corpus with its n_probe nearest-centroid cells (cosine desc,
    ties to the lower centroid id). Round-4 rewrite, same shape as
    _lloyd_assign: the 16 centroids collapse to ONE broadcast
    row of (c_id, cv, cnorm) structs and the per-vector top-n_probe is
    array_sort over a per-row struct transform (negated cosine sorts
    descending, c_id breaks ties — the SAME total order the old
    per-vec_id window rank imposed) sliced to n_probe — the corpus
    never shuffles for assignment, where the window form re-shuffled
    corpus x n_centroids rows."""
    emb = _with_norm(_emb(spark, sf_dir))
    cents = emb.filter(
        (F.col("vec_id") >= CENTROID_LO) & (F.col("vec_id") < CENTROID_HI)
    ).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("norm").alias("cnorm")
    )
    cents_row = cents.agg(
        F.collect_list(F.struct("c_id", "cv", "cnorm")).alias("cs")
    )
    ranked = (
        f"slice(array_sort(transform(cs, c -> struct("
        f"-({dot_expr('v', 'c.cv')}) / (norm * c.cnorm) AS neg_cos, "
        f"c.c_id AS c_id))), 1, {int(n_probe)})"
    )
    return (
        emb.join(F.broadcast(cents_row))
        .select(
            "vec_id",
            "v",
            "norm",
            F.posexplode(F.expr(ranked)).alias("pos", "c"),
        )
        .select(
            "vec_id",
            "v",
            "norm",
            F.col("c.c_id").alias("c_id"),
            (F.col("pos") + 1).cast("int").alias("c_rank"),
        )
    )


# scan-audit: kmeans training rounds re-scan by design (iterative); per-round
# pinning documented as a losing A/B (round 6)
def similarity_ivf_topk(
    spark: SparkSession, sf_dir: str, *, n_probe: int = N_PROBE
) -> DataFrame:
    """IVF top-k: each query probes its n_probe nearest cells; exact
    cosine rerank inside the candidate set. n_probe is the
    recall/latency dial (probing every cell makes the result exactly
    the brute-force top-k — asserted by tests/test_recall.py); the
    registry oracle inlines N_PROBE. At 100 TB the centroid count grows
    with the corpus (cells stay scan-sized) and n_probe stays O(10)."""
    assigned = _assigned(spark, sf_dir, n_probe=n_probe)
    corpus = assigned.filter(F.col("c_rank") == 1).select("vec_id", "v", "norm", "c_id")
    probes = _query_vecs(assigned, F.col("c_id").alias("probe_cell"))
    scored = corpus.join(
        F.broadcast(probes),
        (F.col("c_id") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    return _rank_topk(scored)


def _similarity_ivf_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), cents AS (
            SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM n
            WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_HI}
        ), assigned AS (
            SELECT n.vec_id, n.v, n.norm, c.c_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {dot_sql('n.v', 'c.cv')} / (n.norm * c.cnorm) DESC, c.c_id
                   ) AS c_rank
            FROM n CROSS JOIN cents c
        ), corpus AS (
            SELECT vec_id, v, norm, c_id FROM assigned WHERE c_rank = 1
        ), probes AS (
            SELECT vec_id AS q_id, v AS qv, norm AS qnorm, c_id AS probe_cell
            FROM assigned WHERE vec_id < {N_QUERY_VECS} AND c_rank <= {N_PROBE}
        ), scored AS (
            SELECT p.q_id, c.vec_id AS neighbor_id,
                   {dot_sql('p.qv', 'c.v')} / (p.qnorm * c.norm) AS cos
            FROM corpus c JOIN probes p
              ON c.c_id = p.probe_cell AND c.vec_id != p.q_id
        )
{_rank_tail_sql()}"""


# ---------------------------------------------------------------------------
# Per-label embedding stats (norm profile of the corpus)
# ---------------------------------------------------------------------------


def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_norm(_emb(spark, sf_dir))
    sum_dec = F.sum(F.round("norm", 6).cast("decimal(18,6)"))
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(sum_dec.cast("double") / F.count("*"), 4).alias("avg_norm"),
            F.round(F.min("norm"), 4).alias("min_norm"),
            F.round(F.max("norm"), 4).alias("max_norm"),
        )
    )


def _embedding_label_stats_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT label, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        )
        SELECT label, count(*) AS n_vectors,
               ROUND(CAST(SUM(CAST(ROUND(norm, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 4) AS avg_norm,
               ROUND(min(norm), 4) AS min_norm,
               ROUND(max(norm), 4) AS max_norm
        FROM n GROUP BY 1
    """


# ---------------------------------------------------------------------------
# label_centroids — per-class mean vector, the "class prototype" step
# of embedding pipelines (and one k-means Lloyd iteration with labels
# as the assignment). posexplode to (label, dim, value) rows, then ONE
# hash aggregate on (label, dim) — 64x row inflation but map-side
# partials reduce it to |labels|x64 before the shuffle. Values are
# rounded to 6 decimals and summed as DECIMAL so the per-dim sum is
# order-independent and bit-identical cross-engine (float embeddings
# would otherwise accumulate in partition order); the mean is the IEEE
# division of that exact sum.
# ---------------------------------------------------------------------------


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.round("val", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("centroid")
        )
    )


def _label_centroids_sql() -> str:
    from google_cloud_ecommerce_spark.operators._common import EMBED_DIM

    return f"""
        WITH e AS (
            SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT label, i AS dim,
               CAST(SUM(CAST(ROUND(v[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) AS centroid
        FROM e, unnest(range(1, {EMBED_DIM + 1})) t(i)
        GROUP BY 1, 2
    """


QUERIES = {
    "similarity_topk": similarity_topk,
    "similarity_buckets": similarity_buckets,
    "similarity_lsh_topk": similarity_lsh_topk,
    "similarity_ivf_topk": similarity_ivf_topk,
    "embedding_label_stats": embedding_label_stats,
    "label_centroids": label_centroids,
}

ORACLE = {
    "similarity_topk": _similarity_topk_sql(),
    "similarity_buckets": _similarity_buckets_sql(),
    "similarity_lsh_topk": _similarity_lsh_topk_sql(),
    "similarity_ivf_topk": _similarity_ivf_topk_sql(),
    "embedding_label_stats": _embedding_label_stats_sql(),
    "label_centroids": _label_centroids_sql(),
}


# ---------------------------------------------------------------------------
# similarity_filtered_topk — metadata-filtered vector search (the
# retrieval-with-constraints shape: "nearest neighbors among docs in the
# query's language, from a different source"). embeddings align 1:1
# with documents (vec_id == doc_id), so the metadata join is an equi
# join; the 5 query rows broadcast with their metadata attached, and
# the filter prunes candidates BEFORE the dot product — at scale the
# predicate belongs inside the index probe, not after scoring, which is
# exactly what this plan does.
# ---------------------------------------------------------------------------

FILTERED_TOP_K = 5


def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_meta = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    corpus = (
        _with_norm(_emb(spark, sf_dir))
        .join(docs_meta, F.col("vec_id") == F.col("doc_id"))
        .drop("doc_id")
    )
    queries = _query_vecs(
        corpus, F.col("lang").alias("q_lang"), F.col("source").alias("q_source")
    )
    scored = (
        corpus.join(
            F.broadcast(queries),
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("lang") == F.col("q_lang"))
            & (F.col("source") != F.col("q_source")),
        )
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= FILTERED_TOP_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("lang"),
            F.col("source").alias("neighbor_source"),
            "rank",
            F.round("cos", 4).alias("cosine"),
        )
    )


def _similarity_filtered_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT e.vec_id, e.v, sqrt({dot_sql('e.v', 'e.v')}) AS norm,
                   d.lang, d.source
            FROM e JOIN documents d ON e.vec_id = d.doc_id
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   c.lang, c.source AS neighbor_source,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q JOIN n c
              ON c.vec_id != q.vec_id
             AND c.lang = q.lang
             AND c.source != q.source
            WHERE q.vec_id < {N_QUERY_VECS}
        )
        SELECT q_id, neighbor_id, lang, neighbor_source,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY cos DESC, neighbor_id)
                    AS BIGINT) AS rank,
               ROUND(cos, 4) AS cosine
        FROM scored
        QUALIFY rank <= {FILTERED_TOP_K}
    """


QUERIES["similarity_filtered_topk"] = similarity_filtered_topk
ORACLE["similarity_filtered_topk"] = _similarity_filtered_topk_sql()


# ---------------------------------------------------------------------------
# Materialized ANN index — the write side of the LSH/IVF story.
#
# similarity_lsh_topk / similarity_ivf_topk recompute bucket and cell
# assignment on every query; at 100 TB the assignment IS the stored
# layout. Four layouts persist under the (gitignored) spark-warehouse,
# each built by the one probe that reads it:
#
#   ann_index/lsh/<sf>/bucket=<b>/...   corpus partitioned by sign-LSH bucket
#   ann_index/ivf/<sf>/cell=<c>/...     corpus partitioned by nearest centroid
#   ann_index/pq/<sf>/{codes,codebook}  PQ codes + the trained codebook
#   ann_index/ivfpq/<sf>/{codes,codebook}  cell-partitioned residual codes
#
# so a probe reads 1/2^p (LSH) or NPROBE/N_CENTROIDS (IVF) of the data
# via *partition pruning*, not a filter over a full scan. The probe
# queries join the partition column against the broadcast query set and
# Spark's dynamic partition pruning turns that join into a
# dynamicpruningexpression on the scan (asserted in tests/test_plans.py)
# — no driver-side collect of bucket ids. io.persisted_layout makes
# rebuilds lazy (embeddings fingerprint + each layout's recipe):
# repeated queries and timed bench runs hit the existing layout.
#
# Index rows store the exact same doubles as the source (parquet
# round-trips IEEE doubles bit-exactly), so index-backed results are
# value-identical to the recomputing variants and share their oracles.
# ---------------------------------------------------------------------------


def build_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    """Every vector once, partitioned by its sign-LSH bucket."""
    import hashlib

    planes = hashlib.md5(repr(PROJECTIONS).encode()).hexdigest()[:12]

    def build(loc: str) -> None:
        corpus = (
            _with_norm(_emb(spark, sf_dir))
            .withColumn("bucket", F.expr(_bucket_expr()))
            .select("vec_id", "v", "norm", "bucket")
        )
        corpus.write.mode("overwrite").partitionBy("bucket").parquet(loc)

    return persisted_layout(
        sf_dir, "ann_index/lsh", "embeddings", f"lsh:p{N_PROJECTIONS}:{planes}:v1", build
    )


def build_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Every vector once, under its primary (c_rank == 1) cell."""

    def build(loc: str) -> None:
        corpus = (
            _assigned(spark, sf_dir)
            .filter(F.col("c_rank") == 1)
            .select("vec_id", "v", "norm", F.col("c_id").alias("cell"))
        )
        corpus.write.mode("overwrite").partitionBy("cell").parquet(loc)

    return persisted_layout(
        sf_dir, "ann_index/ivf", "embeddings", f"ivf:c{CENTROID_LO}-{CENTROID_HI}:v1", build
    )


def build_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Per-vector product-quantization codes (M small ints — the probe
    scans codes, never floats) plus the tiny trained codebook."""

    def build(loc: str) -> None:
        trained, final = _pq_train(_pq_subvecs(_emb(spark, sf_dir).select("vec_id", "v")))
        _pq_codes(final).write.mode("overwrite").parquet(f"{loc}/codes")
        _pq_codebook_frame(trained).write.mode("overwrite").parquet(f"{loc}/codebook")

    return persisted_layout(
        sf_dir,
        "ann_index/pq",
        "embeddings",
        f"pq:m{PQ_M}k{PQ_K}d{PQ_SUB_DIM}:seedmaxmin:iters1:v2",
        build,
    )


def build_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """IVF-PQ (FAISS IVFADC layout): cell-partitioned RESIDUAL codes —
    the probe prunes to N_PROBE cells, then scans M-byte codes."""

    def build(loc: str) -> None:
        assigned = _assigned(spark, sf_dir).filter(F.col("c_rank") == 1)
        cents = (
            _emb(spark, sf_dir)
            .filter((F.col("vec_id") >= CENTROID_LO) & (F.col("vec_id") < CENTROID_HI))
            .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        )
        resid = assigned.join(F.broadcast(cents), "c_id").select(
            "vec_id",
            F.col("c_id").alias("cell"),
            F.expr("zip_with(v, cv, (a, b) -> a - b)").alias("v"),
        )
        trained, final = _pq_train(_pq_subvecs(resid.select("vec_id", "v")))
        codes = _pq_codes(final).join(resid.select("vec_id", "cell"), "vec_id")
        codes.write.mode("overwrite").partitionBy("cell").parquet(f"{loc}/codes")
        _pq_codebook_frame(trained).write.mode("overwrite").parquet(f"{loc}/codebook")

    return persisted_layout(
        sf_dir,
        "ann_index/ivfpq",
        "embeddings",
        f"ivfpq:c{CENTROID_LO}-{CENTROID_HI}:m{PQ_M}k{PQ_K}d{PQ_SUB_DIM}:seedmaxmin:iters1:v2",
        build,
    )


def similarity_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH top-k served from the materialized bucket-partitioned index.

    Same results (and oracle) as similarity_lsh_topk; the difference is
    the plan — the corpus scan is pruned to the query buckets by
    dynamic partition pruning instead of recomputing every bucket.
    """
    idx = spark.read.parquet(build_lsh_index(spark, sf_dir))
    queries = _query_vecs(
        _with_norm(_emb(spark, sf_dir)), F.expr(_bucket_expr()).alias("qbucket")
    )
    scored = idx.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    return _rank_topk(scored)


# scan-audit: the flagged embeddings scans are the PROBE-ASSIGNMENT side —
# _assigned's unrolled kmeans centroid rounds (iterative training by design,
# 5-row query slice at probe time); the corpus read is the DPP-pruned index
def similarity_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k served from the materialized cell-partitioned index.

    Probe assignments for the 5 query vectors are computed against the
    16 broadcast centroids; the corpus scan prunes to the probed cells.
    Same results (and oracle) as similarity_ivf_topk.
    """
    idx = spark.read.parquet(build_ivf_index(spark, sf_dir))
    probes = _query_vecs(_assigned(spark, sf_dir), F.col("c_id").alias("probe_cell"))
    scored = idx.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    return _rank_topk(scored)


QUERIES["similarity_index_topk"] = similarity_index_topk
QUERIES["similarity_ivf_index_topk"] = similarity_ivf_index_topk
# index-backed variants are value-identical to the recomputing forms
ORACLE["similarity_index_topk"] = _similarity_lsh_topk_sql()
ORACLE["similarity_ivf_index_topk"] = _similarity_ivf_topk_sql()


# ---------------------------------------------------------------------------
# kmeans_assign — Lloyd's k-means as an iterative DataFrame algorithm
# (the trained form of the IVF cell structure above, whose centroids
# are fixed corpus rows). Each round:
#   assign  corpus x broadcast(K centroids) -> argmin squared distance
#           (ties to the lower centroid id). The corpus NEVER shuffles
#           for assignment — one row of K centroids broadcasts.
#   update  posexplode to (cluster, dim), ONE hash aggregate with
#           map-side partials; the per-dim mean uses the same
#           order-independent DECIMAL(18,6) accumulation as
#           label_centroids, so centroid doubles are bit-identical
#           across engines and partitionings — which is what makes an
#           ITERATIVE float algorithm oracle-checkable at all.
# Rounds are a fixed constant (not convergence-tested): determinism
# and an unrollable oracle beat a data-dependent stop here; IVF probes
# don't need convergence, just stable cells. The oracle unrolls both
# rounds as CTEs.
# ---------------------------------------------------------------------------

KMEANS_K = 4
KMEANS_ITERS = 2


def _sqdist_expr(a: str, b: str) -> str:
    """Fold-form squared distance (see dot_expr on why the fold beats
    an unrolled flat expression here). The zip_with fold handles any
    vector length, so unlike the DuckDB twin below (whose range()
    needs the length) there is no dim parameter to mis-wire."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sqdist_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> (({a})[i] - ({b})[i]) * (({a})[i] - ({b})[i]))), (acc, x) -> acc + x)"
    )


def _lloyd_assign(
    points: DataFrame, cents: DataFrame, on: tuple[str, ...] = ()
) -> DataFrame:
    """One Lloyd assignment, shared by k-means and PQ. ``cents`` is the
    broadcastable centroid state: per ``on`` key, one row whose ``cs``
    is an array of (c_id, cv) structs. ``on=()`` is plain k-means (one row,
    cross join); ``on=("m",)`` is PQ (one codebook per subspace,
    equi-join). The per-point argmin is array_min over a struct
    transform — sq_dist first, c_id tie-break, the SAME total order as
    a per-point window rank but with zero corpus shuffle: the old form
    (broadcast join to k rows per point + Window.partitionBy(vec_id))
    re-shuffled the whole corpus on EVERY Lloyd iteration; this form
    touches each point where it already sits. argmin is
    order-independent, so the order of ``cs`` is never observed."""
    best = (
        f"array_min(transform(cs, c -> "
        f"struct({_sqdist_expr('v', 'c.cv')} AS sq_dist, c.c_id AS c_id)))"
    )
    return (
        # join(on=[]) raises in PySpark; None is the cross join
        points.join(F.broadcast(cents), list(on) or None)
        .withColumn("best", F.expr(best))
        .select(
            "vec_id",
            *on,
            "v",
            F.col("best.c_id").alias("c_id"),
            F.col("best.sq_dist").alias("sq_dist"),
        )
    )


def _lloyd_update(assigned: DataFrame, on: tuple[str, ...] = ()) -> DataFrame:
    """Centroid update to the broadcastable ``(*on, cs)`` form (r13,
    guide §2.4): the old chain ran gb(c_id, dim) -> gb(c_id) ->
    agg(collect_list) — three exchanges per Lloyd round, each an AQE
    stage/job whose scheduling dominates at any per-round data size.
    The per-(*on, c_id, dim) aggregate (the only one that touches
    corpus-scale data, map-side partials) is kept; the regroup and
    collapse aggregates fuse into ONE groupBy(*on) whose centroid
    assembly is an in-plan expression. Every per-dim mean accumulates
    ROUND(x, 6) as DECIMAL(18,6) — order-independent, so centroid
    doubles are bit-identical across engines and partitionings.

    Assembly is sort-linear: every present c_id has exactly ``d`` =
    max(dim) entries, so ONE array_sort by (c_id, dim) lays the
    centroids out back to back and stride-``d`` slices cut them apart,
    in c_id order with each cv in dim order. (Filtering the flat array
    once per centroid was O(k²·dim) inside one task.)

    NOTE: a one-shot k-row aggregate with EMBED_DIM separate decimal
    sum columns was A/B'd here and LOST 2x (64 aggregate expressions
    per unrolled round blow up codegen compilation); the posexplode
    shape keeps each round's plan small and whole-stage-compiled."""
    per_dim = (
        assigned.select(*on, "c_id", F.posexplode("v").alias("pos", "val"))
        .groupBy(*on, "c_id", (F.col("pos") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.round("val", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("comp")
        )
    )
    return (
        per_dim.groupBy(*on)
        .agg(
            F.expr("array_sort(collect_list(struct(c_id, dim, comp)))").alias("flat"),
            F.max("dim").alias("d"),
        )
        .select(
            *on,
            F.expr(
                "transform(sequence(0, size(flat) DIV d - 1), i -> named_struct("
                "'c_id', flat[i * d].c_id, "
                "'cv', transform(slice(flat, i * d + 1, d), s -> s.comp)))"
            ).alias("cs"),
        )
    )


def _kmeans_train(emb: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd's k-means over (vec_id, v): the vectors with vec_id < k
    seed the centroids, ``iters`` assign/update rounds train them, and
    the final assignment (vec_id, v, c_id, sq_dist) is returned. The
    seeds go straight to the one-row broadcast state, so every round is
    exactly one corpus-side aggregate plus one broadcast build."""
    cents = emb.filter(F.col("vec_id") < k).agg(
        F.collect_list(
            F.struct(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        ).alias("cs")
    )
    for _ in range(iters):
        cents = _lloyd_update(_lloyd_assign(emb, cents))
    return _lloyd_assign(emb, cents)


# scan-audit: unrolled training rounds re-scan by design (iterative); the
# corpus never shuffles — centroids broadcast
def kmeans_assign(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Deterministic k-means assignment. Defaults are the fixture
    literals the registry oracle unrolls (k=4, 2 rounds); the public
    knobs scale to SemDeDup-sized clusterings (k ~ 10k+, iters ~ 10) —
    every round stays one broadcast of k centroids plus one map-side
    partial aggregate, the corpus never shuffles."""
    final = _kmeans_train(_emb(spark, sf_dir).select("vec_id", "v"), k, iters)
    return final.select(
        "vec_id",
        F.col("c_id").alias("cluster_id"),
        F.round("sq_dist", 4).alias("sq_dist"),
    )


def _kmeans_assign_cte(src_e: str, src_c: str, n: int) -> str:
    return f"""a{n} AS (
            SELECT e.vec_id, e.v, c.c_id,
                   {_sqdist_sql('e.v', 'c.cv')} AS sq_dist,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_sqdist_sql('e.v', 'c.cv')}, c.c_id
                   ) AS rk
            FROM {src_e} e CROSS JOIN {src_c} c
        ), m{n} AS (
            SELECT vec_id, v, c_id, sq_dist FROM a{n} WHERE rk = 1
        )"""


def _kmeans_update_cte(src_m: str, n: int) -> str:
    return f"""u{n} AS (
            SELECT c_id, i AS dim,
                   CAST(SUM(CAST(ROUND(v[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS comp
            FROM {src_m}, unnest(range(1, {EMBED_DIM + 1})) t(i)
            GROUP BY 1, 2
        ), c{n} AS (
            SELECT c_id, list(comp ORDER BY dim) AS cv FROM u{n} GROUP BY 1
        )"""


def _kmeans_chain_ctes() -> str:
    """Oracle CTE chain to the final assignment m3 (vec_id, v, c_id,
    sq_dist). Shared by kmeans_assign and the SemDeDup operator."""
    return f"""e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS (
            SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {KMEANS_K}
        ), {_kmeans_assign_cte('e', 'c0', 1)}, {_kmeans_update_cte('m1', 1)},
        {_kmeans_assign_cte('e', 'c1', 2)}, {_kmeans_update_cte('m2', 2)},
        {_kmeans_assign_cte('e', 'c2', 3)}"""


def _kmeans_assign_sql() -> str:
    return f"""
        WITH {_kmeans_chain_ctes()}
        SELECT vec_id, c_id AS cluster_id, ROUND(sq_dist, 4) AS sq_dist FROM m3
    """


QUERIES["kmeans_assign"] = kmeans_assign
ORACLE["kmeans_assign"] = _kmeans_assign_sql()


# ---------------------------------------------------------------------------
# embedding_quantize — per-vector int8 scalar quantization, the storage
# side of a disk-resident ANN index (4x smaller scans than float32; the
# IVF/LSH probes above read quantized codes and rerank the short list
# with full precision). Pure per-row column math: symmetric scale
# 127/max|v_i|, round-to-int8, reconstruct, report the max absolute
# reconstruction error. No shuffle, no UDF; max() folds are
# order-independent so every output is bit-stable across partitionings
# and engines.
# ---------------------------------------------------------------------------

QUANT_BITS_MAX = 127


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    q = emb.withColumn(
        "max_abs", F.expr("array_max(transform(v, x -> abs(x)))")
    ).withColumn("scale", F.lit(float(QUANT_BITS_MAX)) / F.col("max_abs"))
    codes = q.withColumn(
        "q", F.expr("transform(v, x -> CAST(round(x * scale, 0) AS BIGINT))")
    )
    return codes.select(
        "vec_id",
        "scale",
        F.expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias(
            "q_checksum"
        ),
        F.expr("array_max(transform(q, x -> abs(x)))").cast("long").alias("q_max"),
        F.expr(
            "array_max(zip_with(v, q, (x, c) -> abs(x - c / scale)))"
        ).alias("max_abs_err"),
    )


def _embedding_quantize_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), s AS (
            SELECT vec_id, v,
                   {QUANT_BITS_MAX}.0 / list_max(list_transform(v, x -> abs(x)))
                       AS scale
            FROM e
        ), c AS (
            SELECT vec_id, v, scale,
                   list_transform(v, x -> CAST(round(x * scale, 0) AS BIGINT)) AS q
            FROM s
        )
        SELECT vec_id, scale,
               CAST(list_sum(q) AS BIGINT) AS q_checksum,
               CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS q_max,
               list_max(list_transform(range(1, {EMBED_DIM + 1}),
                        i -> abs(v[i] - q[i] / scale))) AS max_abs_err
        FROM c
    """


QUERIES["embedding_quantize"] = embedding_quantize
ORACLE["embedding_quantize"] = _embedding_quantize_sql()


# ---------------------------------------------------------------------------
# embedding_top_component — PCA by power iteration, as DataFrames: the
# dominant eigenvector of the (uncentered) covariance X^T X via
# x <- normalize(X^T (X x)). Each round is ONE corpus pass: the
# per-vector projection s = v . x is a deterministic in-order fold, and
# the matvec y_d = sum_i round(s_i * v_id, 9) accumulates in
# DECIMAL(18,9) — order-independent, so the iterate is bit-stable and
# the oracle can unroll the rounds as CTEs (same discipline as
# kmeans_assign). Normalization uses sqrt (IEEE-exact everywhere). The
# 64-row iterate is rebuilt as an array via the sorted collect_list
# idiom and re-broadcast; the corpus never shuffles.
# ---------------------------------------------------------------------------

POWER_ITERS = 4


def _proj_with(cv: str) -> str:
    return dot_expr("v", cv)


def _power_iterate(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """POWER_ITERS rounds of x <- normalize(X^T X x); returns the 1-row
    iterate frame (column `x`, array<double>)."""
    # x0 = e_1 (exact literal)
    x = spark.range(1).select(
        F.expr(
            "array(" + ", ".join(
                "CAST(1.0 AS DOUBLE)" if i == 0 else "CAST(0.0 AS DOUBLE)"
                for i in range(EMBED_DIM)
            ) + ")"
        ).alias("x")
    )
    for _ in range(POWER_ITERS):
        scored = emb.crossJoin(F.broadcast(x)).withColumn(
            "s", F.expr(dot_expr("v", "x"))
        )
        per_dim = (
            scored.select("s", F.posexplode("v").alias("pos", "val"))
            .groupBy((F.col("pos") + 1).alias("dim"))
            .agg(
                F.sum(F.expr("CAST(round(s * val, 9) AS DECIMAL(18,9))"))
                .cast("double")
                .alias("y")
            )
        )
        x = per_dim.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, y))), t -> t.y)"
            ).alias("raw")
        ).select(
            F.expr(
                f"transform(raw, e -> e / sqrt({dot_expr('raw', 'raw')}))"
            ).alias("x")
        )
    return x


# scan-audit: power-iteration rounds re-scan by design (iterative)
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    x = _power_iterate(spark, emb)
    return x.select(F.posexplode("x").alias("pos", "component")).select(
        (F.col("pos") + 1).cast("long").alias("dim"), "component"
    )


# scan-audit: power-iteration rounds re-scan by design (iterative); the
# projection pass itself is one scan + one 1-row broadcast
def embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimensionality-reduction output: every vector's coordinate
    along the learned top component (one broadcast of the 1-row
    iterate; the corpus never shuffles)."""
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    x = _power_iterate(spark, emb)
    return emb.crossJoin(F.broadcast(x)).select(
        "vec_id", F.expr(dot_expr("v", "x")).alias("proj")
    )


def _embedding_top_component_sql() -> str:
    def one_round(xsrc: str, n: int) -> str:
        return f"""s{n} AS (
            SELECT e.vec_id, e.v, {dot_sql('e.v', 'x.x')} AS s
            FROM e CROSS JOIN {xsrc} x
        ), y{n} AS (
            SELECT i AS dim,
                   CAST(SUM(CAST(round(s * v[i], 9) AS DECIMAL(18,9))) AS DOUBLE)
                       AS y
            FROM s{n}, unnest(range(1, {EMBED_DIM + 1})) t(i)
            GROUP BY 1
        ), r{n} AS (
            SELECT list(y ORDER BY dim) AS raw FROM y{n}
        ), x{n} AS (
            SELECT list_transform(raw, e -> e / sqrt({dot_sql('raw', 'raw')})) AS x
            FROM r{n}
        )"""

    x0 = "[" + ", ".join(
        "CAST(1.0 AS DOUBLE)" if i == 0 else "CAST(0.0 AS DOUBLE)"
        for i in range(EMBED_DIM)
    ) + "]"
    rounds = ", ".join(one_round(f"x{n - 1}", n) for n in range(1, POWER_ITERS + 1))
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), x0 AS (
            SELECT {x0} AS x
        ), {rounds}
        SELECT CAST(i AS BIGINT) AS dim, x[i] AS component
        FROM x{POWER_ITERS}, unnest(range(1, {EMBED_DIM + 1})) t(i)
    """


def _embedding_projection_sql() -> str:
    base = _embedding_top_component_sql()
    # swap the final SELECT for the per-vector projection
    head = base.rsplit("SELECT CAST(i AS BIGINT)", 1)[0]
    return (
        head
        + f"""SELECT e.vec_id, {dot_sql('e.v', 'x.x')} AS proj
        FROM e CROSS JOIN x{POWER_ITERS} x
    """
    )


QUERIES["embedding_top_component"] = embedding_top_component
QUERIES["embedding_projection"] = embedding_projection
ORACLE["embedding_top_component"] = _embedding_top_component_sql()
ORACLE["embedding_projection"] = _embedding_projection_sql()


# ---------------------------------------------------------------------------
# pq_encode — product quantization (Jégou et al., PAMI 2011): split each
# vector into M subspaces, learn a tiny per-subspace codebook with one
# Lloyd round (seeded from corpus rows, same decimal-exact accumulation
# as kmeans_assign), then encode every vector as M small centroid ids
# plus its total squared reconstruction error. PQ is the storage layout
# behind disk-scale ANN (a 64-dim float vector compresses to M bytes;
# distance scans read codes, not floats) — the int8 path above is the
# scalar variant, this is the vector-codebook variant.
#
# Scale posture: codebooks are M*K tiny rows (broadcast); assignment is
# map-side per-vector math; the single training round is one hash
# aggregate onto (subspace, centroid, dim) — bounded by M*K*dim, not by
# corpus size. Nothing here shuffles the corpus itself.
#
# Determinism: centroid components accumulate as ROUND(x,6) DECIMAL
# (order-independent), all distance folds are fixed-order left-folds,
# ties break to the lower centroid id; the oracle unrolls the round as
# CTEs, so the iterative float algorithm stays hash-checkable.
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUB_DIM = EMBED_DIM // PQ_M  # 16 dims each
PQ_K = 4  # centroids per subspace


def _pq_subvecs(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> struct(m AS m, slice(v, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS v))"
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.v")


def _pq_seed_rows(sub: DataFrame) -> DataFrame:
    """k-means++-style seeding, deterministic (VERDICT r10 next #7):
    farthest-first traversal (Gonzalez) per subspace — seed 0 is the
    vec_id-0 subvector (the deterministic anchor), each next seed is
    the subvector maximizing its min squared distance to the seeds so
    far, ties to the lower vec_id. Strictly better spread than the old
    first-K-rows seeding (which took 4 NEIGHBORING corpus rows —
    measured distortion drop recorded in artifacts/round11/). Chosen
    over sampled k-means++ because the argmax is deterministic and
    IEEE-exact in both engines (sq_dist is a fixed-order fold of
    +,-,*), so the oracle reproduces the seed choice bit-for-bit;
    PQ_K-1 rounds, each one broadcast join + one M-row aggregate over
    the pinned subvector table — seeding cost is O(K) scans of sub,
    never quadratic.

    r13 shape (guide §2.4, VERDICT r12 #5): the seed state is the
    BROADCASTABLE form itself — PQ_M rows of (m, cs), cs the growing
    (c_id, cv) struct array. Each round's argmax aggregate carries the
    incoming cs through the max struct (every row of a group holds the
    same array, and (mind, nid) is already a total order, so the
    comparison never reaches it) and appends the pick in the same
    projection. The old shape kept seeds as a (m, c_id, cv) TABLE:
    each round then paid a union + a pin (the union
    embedded the previous seeds twice) + a fresh groupBy(m) collapse
    before it could broadcast. This chain is single-reference, so no
    pins are needed and each round materializes exactly once as the
    next round's broadcast build — measured 17 -> 13 jobs on
    pq_encode with picks bit-identical (same (mind, nid) argmax)."""
    seeds = sub.filter(F.col("vec_id") == 0).groupBy("m").agg(
        F.collect_list(
            F.struct(F.lit(0).cast("long").alias("c_id"), F.col("v").alias("cv"))
        ).alias("cs")
    )
    for i in range(1, PQ_K):
        mind = f"array_min(transform(cs, c -> {_sqdist_expr('v', 'c.cv')}))"
        seeds = (
            sub.join(F.broadcast(seeds), "m")
            .withColumn("mind", F.expr(mind))
            .groupBy("m")
            .agg(
                F.max(
                    F.struct(
                        F.col("mind"),
                        (-F.col("vec_id")).alias("nid"),
                        F.col("v"),
                        F.col("cs"),
                    )
                ).alias("p")
            )
            .select(
                "m",
                F.expr(
                    f"concat(p.cs, array(named_struct("
                    f"'c_id', CAST({i} AS BIGINT), 'cv', p.v)))"
                ).alias("cs"),
            )
        )
    return seeds


def _pq_train(sub: DataFrame) -> tuple[DataFrame, DataFrame]:
    """PQ codebook training over the ``_pq_subvecs`` table: maxmin seeds,
    one Lloyd round per subspace, then the final assignment. Returns
    (codebook, final): the (m, cs) broadcast rows and every subvector's
    (vec_id, m, v, c_id, sq_dist). The subvector table is pinned: it
    feeds the seed selection, the training round and the final
    assignment, and is re-derived per reference otherwise."""
    sub = pin(sub)
    on = ("m",)
    codebook = _lloyd_update(_lloyd_assign(sub, _pq_seed_rows(sub), on), on)
    return codebook, _lloyd_assign(sub, codebook, on)


def _pq_codes(final: DataFrame) -> DataFrame:
    """Per-vector code roll-up of a PQ assignment: (vec_id, code_0 ..
    code_{PQ_M-1}), the row layout the index layouts persist."""
    return final.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == i, F.col("c_id"))).alias(f"code_{i}")
            for i in range(PQ_M)
        ]
    )


def _pq_codebook_frame(cents_rows: DataFrame) -> DataFrame:
    """(m, cs) broadcast rows -> the (m, c_id, cv) codebook TABLE the
    index layouts persist (schema unchanged from the pre-r13 form)."""
    return cents_rows.select("m", F.explode("cs").alias("c")).select(
        "m", F.col("c.c_id").alias("c_id"), F.col("c.cv").alias("cv")
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final = _pq_train(_pq_subvecs(_emb(spark, sf_dir).select("vec_id", "v")))
    # per-vector rollup: codes in subspace order; the error fold runs in
    # the same m-order in both engines (sorted array left-fold, never a
    # partition-order SUM over doubles). Codes emit as one
    # comma-joined STRING (integers render identically in both
    # engines) — the correctness harness canonicalizes via pandas
    # sort_values, which cannot hash list cells, so oracle-backed
    # outputs must be scalar columns.
    return (
        final.groupBy("vec_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(m, c_id))), "
                "s -> CAST(s.c_id AS STRING)), ',')"
            ).alias("codes"),
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(m, sq_dist))), "
                "s -> s.sq_dist), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("recon_err"),
        )
        .select("vec_id", "codes", F.round("recon_err", 4).alias("recon_sq_err"))
    )


def _pq_assign_cte(src_c: str, n: int) -> str:
    return f"""a{n} AS (
            SELECT s.vec_id, s.m, s.sv, c.c_id,
                   {_sqdist_sql('s.sv', 'c.cv', PQ_SUB_DIM)} AS sq_dist,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.m
                       ORDER BY {_sqdist_sql('s.sv', 'c.cv', PQ_SUB_DIM)}, c.c_id
                   ) AS rk
            FROM sub s JOIN {src_c} c ON c.m = s.m
        ), m{n} AS (
            SELECT vec_id, m, sv, c_id, sq_dist FROM a{n} WHERE rk = 1
        )"""


def _pq_seed_ctes() -> str:
    """DuckDB twin of _pq_seed_rows: farthest-first seeding unrolled
    as PQ_K-1 CTE rounds over ``sub`` (the iterative-algorithm-as-CTEs
    policy of kmeans_assign), ending in ``c0`` (m, c_id, cv)."""
    parts = [
        f"seeds0 AS (SELECT m, CAST(0 AS BIGINT) AS c_id, sv AS cv "
        f"FROM sub WHERE vec_id = 0)"
    ]
    for i in range(1, PQ_K):
        parts.append(
            f"""d{i} AS (
            SELECT s.m, s.vec_id, s.sv,
                   min({_sqdist_sql('s.sv', 'c.cv', PQ_SUB_DIM)}) AS mind
            FROM sub s JOIN seeds{i - 1} c ON c.m = s.m
            GROUP BY s.m, s.vec_id, s.sv
        ), p{i} AS (
            SELECT m, sv, row_number() OVER (
                PARTITION BY m ORDER BY mind DESC, vec_id
            ) AS rk
            FROM d{i}
        ), seeds{i} AS (
            SELECT * FROM seeds{i - 1}
            UNION ALL
            SELECT m, CAST({i} AS BIGINT), sv FROM p{i} WHERE rk = 1
        )"""
        )
    parts.append(f"c0 AS (SELECT m, c_id, cv FROM seeds{PQ_K - 1})")
    return ", ".join(parts)


def _pq_common_ctes(src: str = "e") -> str:
    """Shared oracle CTE chain over ``src`` (vec_id, v DOUBLE[]):
    subvectors -> maxmin seed codebook -> one Lloyd round -> trained
    codebook c1 -> final assignment m2 (every vector's per-subspace
    code). Used by pq_encode, the ADC probe, and the IVF-PQ residual
    encoder (which passes its residual CTE as src)."""
    return f"""sub AS (
            SELECT vec_id, m,
                   list_slice(v, m * {PQ_SUB_DIM} + 1, (m + 1) * {PQ_SUB_DIM}) AS sv
            FROM {src}, unnest(range(0, {PQ_M})) t(m)
        ), {_pq_seed_ctes()}, {_pq_assign_cte('c0', 1)}, u1 AS (
            SELECT m, c_id, i AS dim,
                   CAST(SUM(CAST(ROUND(sv[i], 6) AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS comp
            FROM m1, unnest(range(1, {PQ_SUB_DIM + 1})) t(i)
            GROUP BY 1, 2, 3
        ), c1 AS (
            SELECT m, c_id, list(comp ORDER BY dim) AS cv FROM u1 GROUP BY 1, 2
        ), {_pq_assign_cte('c1', 2)}"""


_PQ_E_CTE = """e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )"""


def _pq_encode_sql() -> str:
    return f"""
        WITH {_PQ_E_CTE}, {_pq_common_ctes()}
        SELECT vec_id,
               array_to_string(list(c_id ORDER BY m), ',') AS codes,
               ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list(sq_dist ORDER BY m)), (acc, x) -> acc + x), 4)
                   AS recon_sq_err
        FROM m2 GROUP BY vec_id
    """


QUERIES["pq_encode"] = pq_encode
ORACLE["pq_encode"] = _pq_encode_sql()


# ---------------------------------------------------------------------------
# similarity_pq_topk — asymmetric-distance (ADC) top-k over the
# PERSISTED product-quantization layout (Jégou et al., PAMI 2011 §IV):
# the probe scans only the codes table (M small ints per vector — a
# 16-32x I/O reduction vs re-reading 64 doubles) plus the tiny trained
# codebook. Per query, a LUT of squared distances from each query
# subvector to each of the M*K codebook centroids is built (M*K*N_Q =
# 80 rows, broadcast); a corpus vector's approximate squared distance
# is then LUT[0][code_0] + ... + LUT[3][code_3] — M broadcast-join
# lookups and M-1 adds per row, never a float dot product.
#
# Scale posture: codes scan is the only large input; all M lookup
# joins broadcast the 80-row LUT, so the corpus never shuffles before
# the final per-query top-k window (the same candidate-set shuffle
# every top-k form here pays). At 100 TB the codes table is ~M bytes
# per vector — the layout IS the reason PQ exists.
#
# Determinism: each LUT entry is a fixed-order 16-dim fold (pure
# +-*, IEEE-exact both engines); the ADC sum adds the M entries in
# subspace order on both sides (Spark: d_0+d_1+d_2+d_3 left-to-right;
# DuckDB: ordered-list left fold seeded with 0.0 — 0.0+x == x for
# x >= 0). Ranking uses the raw bit-exact double, ties break to the
# lower neighbor id; only the displayed distance is rounded.
# ---------------------------------------------------------------------------


def _adc_lut(qsub: DataFrame, codebook: DataFrame) -> DataFrame:
    """The broadcast ADC lookup of the PQ and IVF-PQ probes: per query
    row of ``qsub`` (its columns other than the subspace m and the
    subvector qsv — q_id, plus probe_cell for IVF-PQ), one
    (m, c_id) -> squared distance map ``dm`` over every codeword.

    r12 (guide §2.4/§3.1): ONE broadcast map joined to the codes scan
    replaced 4 chained per-subspace broadcast joins, each of which
    re-planned the lut subtree. The map covers every (m, c_id)
    codeword, so every lookup hits — row set identical to the inner
    joins. Interleaved A/B at sf0.1: PQ min 3.84 -> 1.24 s, IVF-PQ
    1.50 -> 0.96 s, rows identical."""
    keys = [c for c in qsub.columns if c not in ("m", "qsv")]
    return F.broadcast(
        qsub.join(F.broadcast(codebook), "m")
        .withColumn("d", F.expr(_sqdist_expr("qsv", "cv")))
        .groupBy(*keys)
        .agg(
            F.expr(
                "map_from_entries(collect_list(struct(struct(m, c_id), d)))"
            ).alias("dm")
        )
    )


def _adc_topk(pairs: DataFrame) -> DataFrame:
    """Shared ADC rank tail over (code row, lookup map) pairs: adc sums
    the M looked-up distances in fixed subspace order, ranks ascending
    by the raw double with ties to the lower neighbor id, and rounds
    only the output column."""
    adc = " + ".join(
        f"element_at(dm, named_struct('m', CAST({i} AS INT), "
        f"'c_id', CAST(code_{i} AS BIGINT)))"
        for i in range(PQ_M)
    )
    scored = (
        pairs.withColumn("adc", F.expr(adc))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "adc")
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("adc", 4).alias("adc_sq_dist"),
        )
    )


def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq_dir = build_pq_index(spark, sf_dir)
    qsub = _pq_subvecs(
        _emb(spark, sf_dir).filter(F.col("vec_id") < N_QUERY_VECS).select("vec_id", "v")
    ).select(F.col("vec_id").alias("q_id"), "m", F.col("v").alias("qsv"))
    lut = _adc_lut(qsub, spark.read.parquet(f"{pq_dir}/codebook"))
    return _adc_topk(spark.read.parquet(f"{pq_dir}/codes").crossJoin(lut))


def _similarity_pq_topk_sql() -> str:
    return f"""
        WITH {_PQ_E_CTE}, {_pq_common_ctes()}, q AS (
            SELECT vec_id AS q_id, m, sv AS qsv
            FROM sub WHERE vec_id < {N_QUERY_VECS}
        ), lut AS (
            SELECT q.q_id, c.m, c.c_id,
                   {_sqdist_sql('q.qsv', 'c.cv', PQ_SUB_DIM)} AS d
            FROM q JOIN c1 c ON c.m = q.m
        ), scored AS (
            SELECT l.q_id, v.vec_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(l.d ORDER BY l.m)), (acc, x) -> acc + x) AS adc
            FROM m2 v JOIN lut l ON l.m = v.m AND l.c_id = v.c_id
            WHERE v.vec_id != l.q_id
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id AS neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rank,
               ROUND(adc, 4) AS adc_sq_dist
        FROM scored
        QUALIFY rank <= {TOP_K}
    """


QUERIES["similarity_pq_topk"] = similarity_pq_topk
ORACLE["similarity_pq_topk"] = _similarity_pq_topk_sql()


# ---------------------------------------------------------------------------
# similarity_ivfpq_topk — IVFADC (Jégou et al., PAMI 2011 §V; the
# FAISS IVF+PQ default): the persisted layout partitions the corpus by
# IVF cell and stores, per vector, the PQ codes of its RESIDUAL
# (v - cell_centroid) under one shared residual codebook. A query
# probes its N_PROBE nearest cells; per probed cell it forms the query
# residual rq = q - centroid, builds the tiny rq-to-codebook LUT
# (N_Q * N_PROBE * M * K = 320 rows, broadcast), and approximates
# ||q - x||^2 = ||rq - rx||^2 by M LUT lookups over the codes scan.
#
# Scale posture: the scan is pruned to N_PROBE/N_CENTROIDS of the
# corpus by the cell partition key AND reads only M small ints per
# vector — the two pruning axes (IVF rows, PQ bytes) compose, which is
# why this is the standard disk-scale ANN layout. Everything joined
# against the scan is broadcast.
#
# Determinism: residual subtraction, sqdist folds and the ordered ADC
# sum are pure +-* (IEEE-exact both engines); codebook training uses
# the same DECIMAL-accumulation Lloyd round as pq_encode, unrolled in
# the oracle over the residual CTE.
# ---------------------------------------------------------------------------


# scan-audit: coarse-quantizer kmeans + per-subspace PQ training rounds each
# re-scan by design (iterative); the PROBE side reads only DPP-pruned code
# partitions (plan-asserted)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivfpq_dir = build_ivfpq_index(spark, sf_dir)
    cents = (
        _emb(spark, sf_dir)
        .filter((F.col("vec_id") >= CENTROID_LO) & (F.col("vec_id") < CENTROID_HI))
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
    )
    probes = _query_vecs(_assigned(spark, sf_dir), F.col("c_id").alias("probe_cell"))
    qresid = probes.join(
        F.broadcast(cents), probes["probe_cell"] == cents["c_id"]
    ).select("q_id", "probe_cell", F.expr("zip_with(qv, cv, (a, b) -> a - b)").alias("rq"))
    qsub = qresid.select(
        "q_id",
        "probe_cell",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> struct(m AS m, slice(rq, m * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS sv))"
            )
        ).alias("s"),
    ).select("q_id", "probe_cell", F.col("s.m").alias("m"), F.col("s.sv").alias("qsv"))
    # the per-probe lookup map also stopped the 4 chained joins from
    # re-planning the probe-assignment subtree (plan: 54 scans -> 24; DPP
    # on the codes scan unchanged, plan-tested)
    lut = _adc_lut(qsub, spark.read.parquet(f"{ivfpq_dir}/codebook"))
    codes = spark.read.parquet(f"{ivfpq_dir}/codes")
    return _adc_topk(codes.join(lut, F.col("cell") == F.col("probe_cell")))


def _similarity_ivfpq_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), cents AS (
            SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM n
            WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_HI}
        ), assigned AS (
            SELECT n.vec_id, n.v, n.norm, c.c_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {dot_sql('n.v', 'c.cv')} / (n.norm * c.cnorm) DESC, c.c_id
                   ) AS c_rank
            FROM n CROSS JOIN cents c
        ), resid AS (
            SELECT a.vec_id, a.c_id AS cell,
                   list_transform(range(1, {EMBED_DIM + 1}),
                                  i -> a.v[i] - ct.cv[i]) AS v
            FROM assigned a JOIN cents ct ON ct.c_id = a.c_id
            WHERE a.c_rank = 1
        ), {_pq_common_ctes('resid')}, probes AS (
            SELECT vec_id AS q_id, v AS qv, c_id AS probe_cell
            FROM assigned WHERE vec_id < {N_QUERY_VECS} AND c_rank <= {N_PROBE}
        ), qresid AS (
            SELECT p.q_id, p.probe_cell,
                   list_transform(range(1, {EMBED_DIM + 1}),
                                  i -> p.qv[i] - ct.cv[i]) AS rq
            FROM probes p JOIN cents ct ON ct.c_id = p.probe_cell
        ), qsub AS (
            SELECT q_id, probe_cell, m,
                   list_slice(rq, m * {PQ_SUB_DIM} + 1, (m + 1) * {PQ_SUB_DIM}) AS qsv
            FROM qresid, unnest(range(0, {PQ_M})) t(m)
        ), lut AS (
            SELECT q.q_id, q.probe_cell, c.m, c.c_id,
                   {_sqdist_sql('q.qsv', 'c.cv', PQ_SUB_DIM)} AS d
            FROM qsub q JOIN c1 c ON c.m = q.m
        ), vcell AS (
            SELECT vec_id, cell FROM resid
        ), scored AS (
            SELECT l.q_id, v.vec_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(l.d ORDER BY l.m)), (acc, x) -> acc + x) AS adc
            FROM m2 v
            JOIN vcell vc ON vc.vec_id = v.vec_id
            JOIN lut l ON l.probe_cell = vc.cell
                      AND l.m = v.m AND l.c_id = v.c_id
            WHERE v.vec_id != l.q_id
            GROUP BY 1, 2
        )
        SELECT q_id, vec_id AS neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rank,
               ROUND(adc, 4) AS adc_sq_dist
        FROM scored
        QUALIFY rank <= {TOP_K}
    """


QUERIES["similarity_ivfpq_topk"] = similarity_ivfpq_topk
ORACLE["similarity_ivfpq_topk"] = _similarity_ivfpq_topk_sql()


# ---------------------------------------------------------------------------
# random_projection — Johnson–Lindenstrauss dimensionality reduction
# onto the 8 fixed Gaussian hyperplanes (the same literals the sign-LSH
# bucketer thresholds; here the raw projections ARE the output). The
# k-dim sketch preserves pairwise distances within ~(1 ± eps) at
# k = O(log n / eps^2); downstream ANN / clustering can run on 8 doubles
# instead of 64. norm_ratio = ||proj||/(sqrt(k)*||v||) reports the
# per-vector distortion (≈1 under JL).
#
# Scale: pure map-side column math over broadcast literal hyperplanes —
# zero shuffle, whole-stage codegen, trivially linear at 100 TB.
# Determinism: dot products and sqrt are fixed-order IEEE folds
# (bit-exact in both engines); outputs round to 6dp for display only.
# ---------------------------------------------------------------------------


def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    proj_exprs = ", ".join(
        dot_expr("v", spark_double_array(p), unroll=False) for p in PROJECTIONS
    )
    projected = emb.withColumn("p", F.expr(f"array({proj_exprs})"))
    # one scalar DOUBLE column per projection (proj_0..proj_7): the
    # correctness harness cannot canonicalize array cells, and doubles
    # must stay typed (string rendering of doubles differs between
    # engines)
    return projected.select(
        "vec_id",
        *[
            F.round(F.expr(f"p[{i}]"), 6).alias(f"proj_{i}")
            for i in range(N_PROJECTIONS)
        ],
        F.round(
            F.expr(
                f"sqrt({dot_expr('p', 'p', N_PROJECTIONS)} / {N_PROJECTIONS}) / "
                f"sqrt({dot_expr('v', 'v')})"
            ),
            6,
        ).alias("norm_ratio"),
    )


def _random_projection_sql() -> str:
    proj_list = ", ".join(
        dot_sql("v", sql_double_array(p), unroll=False) for p in PROJECTIONS
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), pr AS (
            SELECT vec_id, v, [{proj_list}] AS p FROM e
        )
        SELECT vec_id,
               {', '.join(f"round(p[{i + 1}], 6) AS proj_{i}" for i in range(N_PROJECTIONS))},
               ROUND(sqrt({dot_sql('p', 'p', N_PROJECTIONS)} / {N_PROJECTIONS})
                     / sqrt({dot_sql('v', 'v')}), 6) AS norm_ratio
        FROM pr
    """


QUERIES["random_projection"] = random_projection
ORACLE["random_projection"] = _random_projection_sql()


# ---------------------------------------------------------------------------
# ann_recall_report — the eval harness every deployed ANN index needs:
# per-query recall@k of the sign-LSH path against the exact cosine
# top-k, computed IN the engine so index-quality monitoring runs as a
# query over the same corpus it indexes (no export step). n_exact is
# TOP_K whenever the corpus has enough neighbors; n_hit counts exact
# neighbors the LSH bucket probe also returned.
#
# Scale shape: both sides are the already-scale-shaped operators (the
# exact side broadcast-joins the query batch, the LSH side probes one
# bucket); the comparison itself is a join between two TOP_K x N_QUERY_VECS
# row sets — trivially small at any corpus size, so the report adds
# nothing to the dominant cost. Left join (not inner) so a bucket with
# zero overlap still yields a row with recall 0.
# ---------------------------------------------------------------------------


# scan-audit: exact ground truth and the index probe are separate rankings of
# the same corpus BY DESIGN (the report compares them); sampling bounds the
# truth side
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk(spark, sf_dir).select("q_id", "neighbor_id")
    approx = similarity_lsh_topk(spark, sf_dir).select(
        F.col("q_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("a_nid").cast("long").alias("n_hit"),
        )
        .withColumn("recall_at_k", F.round(F.col("n_hit") / F.col("n_exact"), 4))
    )


def _ann_recall_report_sql() -> str:
    return f"""
        WITH exact AS ({_similarity_topk_sql()}),
        approx AS ({_similarity_lsh_topk_sql()})
        SELECT e.q_id, count(*) AS n_exact,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               ROUND(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4)
                   AS recall_at_k
        FROM exact e LEFT JOIN approx a
          ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
        GROUP BY 1
    """


QUERIES["ann_recall_report"] = ann_recall_report
ORACLE["ann_recall_report"] = _ann_recall_report_sql()


# ---------------------------------------------------------------------------
# embedding_outliers — embedding-space outlier gate: distance to the
# corpus centroid, flagged at mean + 2*stddev. The curation step that
# drops corrupt/degenerate embeddings (zeroed rows, encoder failures,
# wrong-modality mixups) BEFORE they poison semantic dedup clusters or
# ANN index training.
#
# Scale shape: two map-side aggregates to ONE row each (centroid, then
# distance moments), each broadcast back — the corpus is scanned
# twice and never shuffles. Float determinism: per-dim centroid means
# and the distance moments accumulate as ROUND(x,6)::DECIMAL(18,6)
# sums (order-independent, the kmeans_assign trick); the per-row
# distance itself is a fixed-order fold, and stddev = sqrt(m2 - mean²)
# is IEEE-exact — every double is bit-identical across engines.
# ---------------------------------------------------------------------------

OUTLIER_SIGMA = 2.0


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "label", "v")
    dec_sum = lambda x: F.sum(F.round(x, 6).cast("decimal(18,6)")).cast("double")  # noqa: E731
    # Round-12: the centroid was ONE aggregate with EMBED_DIM=64 parallel
    # decimal sum columns — the exact codegen-blowup shape the round-6
    # kmeans gotcha records. The posexplode + per-dim aggregate + array
    # reassembly shape (the k-means update _lloyd_update does the same
    # per centroid) computes the SAME order-independent decimal means;
    # interleaved A/B at sf0.1: min 3.10 -> 1.01 s, identical output rows.
    per_dim = (
        emb.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg((dec_sum(F.col("val")) / F.count("*")).alias("comp"))
    )
    centroid = per_dim.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, comp))), s -> s.comp)"
        ).alias("cv")
    )
    # the dist subtree feeds both the moments aggregate and the final
    # projection — without the pin Catalyst re-inlines it under every
    # reference (8 parquet scans; 2 with it)
    with_dist = pin(
        emb.join(F.broadcast(centroid))
        .withColumn("dist", F.expr(f"sqrt({_sqdist_expr('v', 'cv')})"))
    )
    moments = with_dist.agg(
        (dec_sum(F.col("dist")) / F.count("*")).alias("mean_d"),
        (dec_sum(F.col("dist") * F.col("dist")) / F.count("*")).alias("m2_d"),
    ).select(
        "mean_d",
        F.expr("sqrt(m2_d - mean_d * mean_d)").alias("std_d"),
    )
    return with_dist.join(F.broadcast(moments)).select(
        "vec_id",
        "label",
        F.round("dist", 4).alias("dist"),
        (
            F.col("dist") > F.col("mean_d") + F.lit(OUTLIER_SIGMA) * F.col("std_d")
        )
        .cast("long")
        .alias("is_outlier"),
    )


def _embedding_outliers_sql() -> str:
    cent_cols = ",\n                   ".join(
        f"CAST(SUM(CAST(ROUND(v[{i}], 6) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count(*) AS c{i}"
        for i in range(1, EMBED_DIM + 1)
    )
    cv_list = "[" + ", ".join(f"c{i}" for i in range(1, EMBED_DIM + 1)) + "]"
    return f"""
        WITH e AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), cent AS (
            SELECT {cent_cols}
            FROM e
        ), d AS (
            SELECT vec_id, label,
                   sqrt({_sqdist_sql('v', cv_list)}) AS dist
            FROM e, cent
        ), mom AS (
            SELECT CAST(SUM(CAST(ROUND(dist, 6) AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS mean_d,
                   CAST(SUM(CAST(ROUND(dist * dist, 6) AS DECIMAL(18,6))) AS DOUBLE)
                       / count(*) AS m2_d
            FROM d
        )
        SELECT vec_id, label, ROUND(dist, 4) AS dist,
               CAST(dist > mean_d + {OUTLIER_SIGMA} * sqrt(m2_d - mean_d * mean_d)
                    AS BIGINT) AS is_outlier
        FROM d, mom
    """


QUERIES["embedding_outliers"] = embedding_outliers
ORACLE["embedding_outliers"] = _embedding_outliers_sql()


# ---------------------------------------------------------------------------
# matryoshka_recall — how much ANN quality survives truncating the
# embedding to its leading MRL_TRUNC_DIM components (Matryoshka
# representation evaluation): exact top-k under the FULL cosine vs
# exact top-k under the truncated-prefix cosine, per query, with the
# overlap fraction. The go/no-go report before shipping a cheaper
# truncated index (a truncated corpus is TRUNC_DIM/EMBED_DIM the scan
# bytes and dot-product work of the full one).
#
# Scale shape (round-7 single-pass rewrite, VERDICT r6 #3): a
# truncated dot is a prefix fold of the SAME elementwise products as
# the full dot, so every ranking — full plus each truncation — comes
# from ONE pair pass: the corpus streams once against the broadcast
# probes, `prods = zip_with(qv, v, *)` is computed once per pair, and
# each dim's cosine folds `slice(prods, 1, d)` (identical products,
# identical left-to-right order → bit-identical to the sliced-array
# dot the round-6 shape computed). One Exchange on q_id feeds every
# row_number window; the overlap is a flat aggregate over rank
# columns — no per-dim pair join, no per-dim corpus re-scan (the
# round-6 shape planned 10 embeddings FileScans at 3 sweep dims).
# recall = n_overlap / k is a ratio of small integers — deterministic
# IEEE division, identical in both engines.
# ---------------------------------------------------------------------------

MRL_TRUNC_DIM = 16


def _mrl_ranked(emb: DataFrame, dims: tuple) -> DataFrame:
    """Pair table (q_id, neighbor vec_id) with row_number ranks under
    the full cosine (``r_full``) and under each prefix-truncated cosine
    (``r_<d>``), from one pair pass."""
    norm_cols = [
        F.expr(
            f"sqrt({dot_expr(f'slice(v, 1, {int(d)})', f'slice(v, 1, {int(d)})')})"
        ).alias(f"nrm_{d}")
        for d in dims
    ]
    src = _with_norm(emb).select("vec_id", "v", "norm", *norm_cols)
    probes = _query_vecs(src, *[F.col(f"nrm_{d}").alias(f"qnrm_{d}") for d in dims])
    fold = "aggregate({0}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    scored = (
        src.join(F.broadcast(probes), F.col("vec_id") != F.col("q_id"))
        .withColumn("prods", F.expr("zip_with(qv, v, (x, y) -> x * y)"))
        .select(
            "q_id",
            "vec_id",
            (F.expr(fold.format("prods")) / (F.col("qnorm") * F.col("norm"))).alias(
                "cos_full"
            ),
            *[
                (
                    F.expr(fold.format(f"slice(prods, 1, {int(d)})"))
                    / (F.col(f"qnrm_{d}") * F.col(f"nrm_{d}"))
                ).alias(f"cos_{d}")
                for d in dims
            ],
        )
    )

    def _rank(col: str) -> Column:
        w = Window.partitionBy("q_id").orderBy(F.desc(col), F.asc("vec_id"))
        return F.row_number().over(w)

    return scored.select(
        "q_id",
        "vec_id",
        _rank("cos_full").alias("r_full"),
        *[_rank(f"cos_{d}").alias(f"r_{d}") for d in dims],
    )


def matryoshka_recall(
    spark: SparkSession, sf_dir: str, *, trunc_dim: int = MRL_TRUNC_DIM
) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    d = int(trunc_dim)
    ranked = _mrl_ranked(emb, (d,))
    both = (F.col("r_full") <= TOP_K) & (F.col(f"r_{d}") <= TOP_K)
    return ranked.groupBy("q_id").agg(
        F.sum(both.cast("long")).alias("n_overlap"),
        F.round(
            F.sum(both.cast("long")) / F.lit(float(TOP_K)), 4
        ).alias("recall"),
    )


def _matryoshka_recall_sql() -> str:
    d, k, nq = MRL_TRUNC_DIM, TOP_K, N_QUERY_VECS
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v,
                   sqrt({dot_sql('v', 'v')}) AS nrm,
                   sqrt({dot_sql('v', 'v', d)}) AS tnrm
            FROM e
        ), fullk AS (
            SELECT p.vec_id AS q_id, c.vec_id AS neighbor_id
            FROM n c JOIN n p ON p.vec_id < {nq} AND c.vec_id != p.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY p.vec_id
                ORDER BY {dot_sql('p.v', 'c.v')} / (p.nrm * c.nrm) DESC,
                         c.vec_id
            ) <= {k}
        ), trunck AS (
            SELECT p.vec_id AS q_id, c.vec_id AS neighbor_id
            FROM n c JOIN n p ON p.vec_id < {nq} AND c.vec_id != p.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY p.vec_id
                ORDER BY {dot_sql('p.v', 'c.v', d)} / (p.tnrm * c.tnrm) DESC,
                         c.vec_id
            ) <= {k}
        ), ov AS (
            SELECT f.q_id, count(*) AS n_overlap
            FROM fullk f JOIN trunck t
              ON f.q_id = t.q_id AND f.neighbor_id = t.neighbor_id
            GROUP BY 1
        )
        SELECT q.q_id,
               CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
               ROUND(COALESCE(ov.n_overlap, 0) / CAST({k} AS DOUBLE), 4)
                   AS recall
        FROM (SELECT DISTINCT q_id FROM fullk) q
        LEFT JOIN ov ON q.q_id = ov.q_id
    """


QUERIES["matryoshka_recall"] = matryoshka_recall
ORACLE["matryoshka_recall"] = _matryoshka_recall_sql()


# ---------------------------------------------------------------------------
# matryoshka_dim_sweep — the truncation-dimension SELECTION CURVE (the
# dedup_threshold_sweep discipline applied to MRL): recall@k vs the
# full-dimension exact ranking at a grid of prefix dims, in ONE query,
# so choosing the cheapest acceptable truncated index is one report,
# not one run per candidate dim. mean_recall = total overlap /
# (n_queries * k) — a ratio of exact integers, deterministic division.
# ---------------------------------------------------------------------------

MRL_SWEEP_DIMS = (8, 16, 32)


def matryoshka_dim_sweep(
    spark: SparkSession, sf_dir: str, *, dims: tuple = MRL_SWEEP_DIMS
) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    ranked = _mrl_ranked(emb, dims)
    in_full = F.col("r_full") <= TOP_K
    agg = ranked.agg(
        *[
            F.sum(
                (in_full & (F.col(f"r_{int(d)}") <= TOP_K)).cast("long")
            ).alias(f"ov_{int(d)}")
            for d in dims
        ],
        F.count_distinct(F.when(in_full, F.col("q_id"))).alias("n_q"),
    )
    stack = (
        f"stack({len(dims)}, "
        + ", ".join(
            f"CAST({int(d)} AS BIGINT), coalesce(ov_{int(d)}, CAST(0 AS BIGINT))"
            for d in dims
        )
        + ") AS (trunc_dim, n_overlap)"
    )
    return agg.select(F.expr(stack), "n_q").select(
        "trunc_dim",
        "n_overlap",
        F.round(
            F.col("n_overlap") / (F.col("n_q") * F.lit(float(TOP_K))), 4
        ).alias("mean_recall"),
    )


def _matryoshka_dim_sweep_sql() -> str:
    k, nq = TOP_K, N_QUERY_VECS
    trunc_ctes, unions = [], []
    for d in MRL_SWEEP_DIMS:
        trunc_ctes.append(f"""t{d} AS (
            SELECT {d} AS trunc_dim, p.vec_id AS q_id, c.vec_id AS neighbor_id
            FROM n c JOIN n p ON p.vec_id < {nq} AND c.vec_id != p.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY p.vec_id
                ORDER BY {dot_sql('p.v', 'c.v', d)}
                         / (sqrt({dot_sql('p.v', 'p.v', d)})
                            * sqrt({dot_sql('c.v', 'c.v', d)})) DESC,
                         c.vec_id
            ) <= {k}
        )""")
        unions.append(f"SELECT * FROM t{d}")
    all_t = ",\n        ".join(trunc_ctes)
    u = " UNION ALL ".join(unions)
    dims_rows = ", ".join(f"({d})" for d in MRL_SWEEP_DIMS)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS nrm FROM e
        ), fullk AS (
            SELECT p.vec_id AS q_id, c.vec_id AS neighbor_id
            FROM n c JOIN n p ON p.vec_id < {nq} AND c.vec_id != p.vec_id
            QUALIFY row_number() OVER (
                PARTITION BY p.vec_id
                ORDER BY {dot_sql('p.v', 'c.v')} / (p.nrm * c.nrm) DESC,
                         c.vec_id
            ) <= {k}
        ),
        {all_t},
        truncs AS ({u}),
        ov AS (
            SELECT t.trunc_dim, count(*) AS n_overlap
            FROM truncs t JOIN fullk f
              ON t.q_id = f.q_id AND t.neighbor_id = f.neighbor_id
            GROUP BY 1
        ), nq AS (
            SELECT count(DISTINCT q_id) AS n_q FROM fullk
        )
        SELECT CAST(g.trunc_dim AS BIGINT) AS trunc_dim,
               CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
               ROUND(COALESCE(ov.n_overlap, 0)
                     / CAST(n_q * {k} AS DOUBLE), 4) AS mean_recall
        FROM (VALUES {dims_rows}) AS g(trunc_dim)
        LEFT JOIN ov ON g.trunc_dim = ov.trunc_dim
        CROSS JOIN nq
    """


QUERIES["matryoshka_dim_sweep"] = matryoshka_dim_sweep
ORACLE["matryoshka_dim_sweep"] = _matryoshka_dim_sweep_sql()


# ---------------------------------------------------------------------------
# ivf_balance_report — cell-occupancy health check of the IVF layout
# (the "rebalance or re-train the coarse quantizer?" signal every
# disk-resident ANN deployment watches; Jégou et al. PAMI 2011 §V note
# cell imbalance directly bounds worst-case probe cost). Per cell:
# vector count, corpus fraction, and load factor vs the perfectly
# balanced cell size (n_vectors * n_cells / total). load_factor >> 1
# means one probe touches far more than total/n_cells vectors — the
# same pathology as a skewed shuffle key.
#
# Scale shape: one shuffle-free assignment pass (broadcast centroid
# row, per-row argmin — the round-4 rewrite in _assigned), one hash
# aggregate keyed by cell id (|cells| rows), one 1-row broadcast for
# the totals. The corpus never shuffles.
#
# Cross-engine determinism: counts are integers; the two ratios are a
# single double division over exact integer products, identical IEEE
# in both engines; ROUND(.,4) for display only.
# ---------------------------------------------------------------------------


# scan-audit: kmeans training rounds re-scan by design (iterative)
def ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _assigned(spark, sf_dir, n_probe=1)
        .filter(F.col("c_rank") == 1)
        .groupBy("c_id")
        .agg(F.count("*").alias("n_vectors"))
    )
    totals = cells.agg(
        F.sum("n_vectors").alias("total"), F.count("*").alias("n_cells")
    )
    return cells.join(F.broadcast(totals)).select(
        F.col("c_id").cast("bigint").alias("c_id"),
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.col("total"), 4
        ).alias("frac"),
        F.round(
            (F.col("n_vectors") * F.col("n_cells")).cast("double") / F.col("total"), 4
        ).alias("load_factor"),
    )


def _ivf_balance_report_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), cents AS (
            SELECT vec_id AS c_id, v AS cv, norm AS cnorm FROM n
            WHERE vec_id >= {CENTROID_LO} AND vec_id < {CENTROID_HI}
        ), assigned AS (
            SELECT n.vec_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY {dot_sql('n.v', 'c.cv')} / (n.norm * c.cnorm) DESC, c.c_id
                   ) AS c_rank
            FROM n CROSS JOIN cents c
        ), cells AS (
            SELECT c_id, count(*) AS n_vectors FROM assigned
            WHERE c_rank = 1 GROUP BY c_id
        ), totals AS (
            SELECT SUM(n_vectors) AS total, count(*) AS n_cells FROM cells
        )
        SELECT CAST(c_id AS BIGINT) AS c_id, n_vectors,
               ROUND(CAST(n_vectors AS DOUBLE) / total, 4) AS frac,
               ROUND(CAST(n_vectors * n_cells AS DOUBLE) / total, 4) AS load_factor
        FROM cells CROSS JOIN totals
    """


QUERIES["ivf_balance_report"] = ivf_balance_report
ORACLE["ivf_balance_report"] = _ivf_balance_report_sql()


# ---------------------------------------------------------------------------
# pq_distortion_report — per-(subspace, code) quantization error of the
# trained PQ codebook: vector count and mean squared reconstruction
# distance per codeword. The codebook-quality dashboard behind "is K
# big enough / did training converge" — rising per-code distortion is
# the retrain signal, wildly uneven code usage the dead-codeword one.
#
# Scale shape: reuses the pq_encode chain (subvector explode is M rows
# per vector; assignment is shuffle-free via the broadcast codebook
# row); the only shuffle is the final hash aggregate on (m, c_id) —
# M*K output rows.
#
# Cross-engine determinism: sq_dist comes from the shared identical
# fold; the mean runs over ROUND(.,6)-quantized decimals so the
# accumulation order can't flip a bit (the same policy as the k-means
# update step), then one double division.
# ---------------------------------------------------------------------------


def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final = _pq_train(_pq_subvecs(_emb(spark, sf_dir).select("vec_id", "v")))
    return (
        final.groupBy("m", "c_id")
        .agg(
            F.count("*").alias("n_vectors"),
            (
                F.sum(F.round("sq_dist", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_sq_dist"),
        )
        .select(
            F.col("m").cast("int").alias("m"),
            F.col("c_id").cast("bigint").alias("c_id"),
            "n_vectors",
            F.round("avg_sq_dist", 4).alias("avg_sq_dist"),
        )
    )


def _pq_distortion_report_sql() -> str:
    return f"""
        WITH {_PQ_E_CTE}, {_pq_common_ctes()}
        SELECT CAST(m AS INT) AS m, CAST(c_id AS BIGINT) AS c_id,
               count(*) AS n_vectors,
               ROUND(CAST(SUM(CAST(ROUND(sq_dist, 6) AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*), 4) AS avg_sq_dist
        FROM m2 GROUP BY 1, 2
    """


QUERIES["pq_distortion_report"] = pq_distortion_report
ORACLE["pq_distortion_report"] = _pq_distortion_report_sql()


# ---------------------------------------------------------------------------
# embedding_dim_stats — per-dimension moment profile of the embedding
# corpus (mean / std / min / max per coordinate): the diagonal-
# whitening statistics every retrieval stack computes before cosine
# search (center + scale), and the drift/corruption dashboard for an
# embedding column (a dimension whose std collapses to 0 or whose
# range explodes is a broken encoder).
#
# Scale shape: one posexplode (dim rows per vector) + one hash
# aggregate keyed by dimension — EMBED_DIM output rows; map-side
# combine does almost all the work.
#
# Cross-engine determinism: sums run over ROUND(.,6)-quantized
# decimals (exact, order-free); mean/variance are computed from those
# exact sums by ONE identical double expression; min/max pick raw
# stored values. Outputs rounded for display only.
# ---------------------------------------------------------------------------


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    per = (
        e.select(F.posexplode("v").alias("pos", "val"))
        .withColumn("q", F.expr("CAST(round(val, 6) AS DECIMAL(18,6))"))
        .groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.sum("q").alias("s"),
            F.sum(F.expr("q * q")).alias("ssq"),
            F.min("val").alias("mn"),
            F.max("val").alias("mx"),
        )
    )
    var = (
        "(CAST(ssq AS DOUBLE) / n) - "
        "(CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)"
    )
    return per.select(
        "dim",
        F.expr("round(CAST(s AS DOUBLE) / n, 6)").alias("mean"),
        F.expr(
            f"round(sqrt(CASE WHEN {var} < 0 THEN 0.0 ELSE {var} END), 6)"
        ).alias("std"),
        F.expr("round(mn, 6)").alias("min_val"),
        F.expr("round(mx, 6)").alias("max_val"),
    )


def _embedding_dim_stats_sql() -> str:
    var = (
        "(CAST(ssq AS DOUBLE) / n) - "
        "(CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), per AS (
            SELECT CAST(pos AS INT) AS dim,
                   count(*) AS n,
                   SUM(CAST(ROUND(v[pos], 6) AS DECIMAL(18,6))) AS s,
                   SUM(CAST(ROUND(v[pos], 6) AS DECIMAL(18,6))
                       * CAST(ROUND(v[pos], 6) AS DECIMAL(18,6))) AS ssq,
                   MIN(v[pos]) AS mn,
                   MAX(v[pos]) AS mx
            FROM e, unnest(range(1, {EMBED_DIM + 1})) t(pos)
            GROUP BY 1
        )
        SELECT dim,
               ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
               ROUND(sqrt(CASE WHEN {var} < 0 THEN 0.0 ELSE {var} END), 6) AS std,
               ROUND(mn, 6) AS min_val,
               ROUND(mx, 6) AS max_val
        FROM per
    """


QUERIES["embedding_dim_stats"] = embedding_dim_stats
ORACLE["embedding_dim_stats"] = _embedding_dim_stats_sql()


# ---------------------------------------------------------------------------
# maxsim_retrieval — ColBERT-style late interaction (Khattab &
# Zaharia, SIGIR 2020) at the document level: each "document" is a
# BAG of chunk vectors (here: consecutive vec_id groups of
# MAXSIM_CHUNK fixture vectors), a query is one vector, and the
# query-document score is the MAX over the document's chunk cosines.
# MaxSim rewards documents with one highly-relevant passage instead of
# averaging it away — the retrieval aggregation a chunked RAG corpus
# actually wants.
#
# Scale shape: queries broadcast; one map-side cosine per (chunk,
# query); the max collapses chunks to documents in one hash aggregate
# BEFORE the per-query top-k window, so the window input is |docs|,
# not |chunks|.
# ---------------------------------------------------------------------------

MAXSIM_CHUNK = 4  # vectors per "document"
MAXSIM_TOP_K = 10


def maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_norm(_emb(spark, sf_dir))
    scored = (
        corpus.join(F.broadcast(_query_vecs(corpus)))
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
        .groupBy("q_id", F.expr(f"vec_id DIV {MAXSIM_CHUNK}").alias("doc_id"))
        .agg(F.max("cos").alias("maxsim"), F.count("*").alias("n_chunks"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("maxsim"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= MAXSIM_TOP_K)
        .select(
            "q_id", "doc_id", "rank", "n_chunks", F.round("maxsim", 4).alias("maxsim")
        )
    )


def _maxsim_retrieval_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id // {MAXSIM_CHUNK} AS doc_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q CROSS JOIN n c
            WHERE q.vec_id < {N_QUERY_VECS}
        ), docs AS (
            SELECT q_id, doc_id, MAX(cos) AS maxsim,
                   count(*) AS n_chunks
            FROM scored GROUP BY 1, 2
        )
        SELECT q_id, CAST(doc_id AS BIGINT) AS doc_id,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY maxsim DESC, doc_id
               ) AS BIGINT) AS rank,
               n_chunks,
               ROUND(maxsim, 4) AS maxsim
        FROM docs
        QUALIFY rank <= {MAXSIM_TOP_K}
    """


QUERIES["maxsim_retrieval"] = maxsim_retrieval
ORACLE["maxsim_retrieval"] = _maxsim_retrieval_sql()


# ---------------------------------------------------------------------------
# hard_negative_mining — contrastive-training negatives: for each
# query vector, the top-k most similar vectors with a DIFFERENT label
# (the negatives a dual-encoder finds hardest, per DPR/ANCE training
# practice — random negatives are trivially separable; the hard ones
# define the decision boundary). Output carries both labels so the
# training job can audit the mined pairs.
#
# Scale shape: identical to similarity_topk (broadcast queries,
# map-side cosine, per-query top-k window) with the label-mismatch
# predicate fused into the join — Catalyst evaluates it before any
# distance math.
# ---------------------------------------------------------------------------

HNM_TOP_K = 5


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_norm(_emb(spark, sf_dir))
    queries = _query_vecs(corpus, F.col("label").alias("q_label"))
    scored = (
        corpus.join(F.broadcast(queries), F.col("label") != F.col("q_label"))
        .withColumn(
            "cos", F.expr(dot_expr("qv", "v")) / (F.col("qnorm") * F.col("norm"))
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= HNM_TOP_K)
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            "rank",
            F.round("cos", 4).alias("cosine"),
        )
    )


def _hard_negative_mining_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
        ), n AS (
            SELECT vec_id, v, label, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT q.vec_id AS q_id, q.label AS q_label,
                   c.vec_id AS neg_id, c.label AS neg_label,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM n q JOIN n c ON c.label != q.label
            WHERE q.vec_id < {N_QUERY_VECS}
        )
        SELECT q_id, q_label, neg_id, neg_label,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY cos DESC, neg_id
               ) AS BIGINT) AS rank,
               ROUND(cos, 4) AS cosine
        FROM scored
        QUALIFY rank <= {HNM_TOP_K}
    """


QUERIES["hard_negative_mining"] = hard_negative_mining
ORACLE["hard_negative_mining"] = _hard_negative_mining_sql()


# ---------------------------------------------------------------------------
# similarity_sq_topk — brute-force top-k over the int8 scalar-quantized
# codes (the embedding_quantize layout): the integer dot product reads
# 4x fewer bytes than float32 and is exact int64 arithmetic; the score
# rescales it by the two stored per-vector scales and norms. This is
# the memory-bandwidth-optimal brute force — the middle rung between
# full-precision scan and PQ/ADC — and, because the int dot is EXACT,
# the one approximate search whose scores are bit-identical across
# engines by construction.
#
# Scale shape: identical to similarity_topk (broadcast quantized
# queries, map-side integer dot, per-query top-k window); at 100 TB
# the scan reads codes + two doubles per vector, never the floats.
# ---------------------------------------------------------------------------

SQ_TOP_K = 10


def _sq_codes(df: DataFrame) -> DataFrame:
    return (
        _with_norm(df)
        .withColumn("max_abs", F.expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale", F.lit(float(QUANT_BITS_MAX)) / F.col("max_abs"))
        .withColumn(
            "q", F.expr("transform(v, x -> CAST(round(x * scale, 0) AS BIGINT))")
        )
        .select("vec_id", "q", "scale", "norm")
    )


def similarity_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _sq_codes(_emb(spark, sf_dir))
    queries = codes.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("qq"),
        F.col("scale").alias("qscale"),
        F.col("norm").alias("qnorm"),
    )
    int_dot = (
        "aggregate(zip_with(qq, q, (a, b) -> a * b), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    scored = (
        codes.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .withColumn("qdot", F.expr(int_dot))
        .withColumn(
            "approx_cos",
            F.expr("(CAST(qdot AS DOUBLE) / (qscale * scale)) / (qnorm * norm)"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("approx_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SQ_TOP_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "qdot",
            F.round("approx_cos", 4).alias("approx_cos"),
        )
    )


def _similarity_sq_topk_sql() -> str:
    int_dot = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {EMBED_DIM + 1}), i -> q.q[i] * c.q[i])), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), s AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm,
                   {QUANT_BITS_MAX}.0 / list_max(list_transform(v, x -> abs(x)))
                       AS scale
            FROM e
        ), codes AS (
            SELECT vec_id,
                   list_transform(v, x -> CAST(round(x * scale, 0) AS BIGINT)) AS q,
                   scale, norm
            FROM s
        ), scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   CAST({int_dot} AS BIGINT) AS qdot,
                   (CAST({int_dot} AS DOUBLE) / (q.scale * c.scale))
                       / (q.norm * c.norm) AS approx_cos
            FROM codes q JOIN codes c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
        )
        SELECT q_id, neighbor_id,
               CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY approx_cos DESC, neighbor_id
               ) AS BIGINT) AS rank,
               qdot,
               ROUND(approx_cos, 4) AS approx_cos
        FROM scored
        QUALIFY rank <= {SQ_TOP_K}
    """


QUERIES["similarity_sq_topk"] = similarity_sq_topk
ORACLE["similarity_sq_topk"] = _similarity_sq_topk_sql()


# ---------------------------------------------------------------------------
# Multi-probe sign-LSH (Lv et al., VLDB 2007): probe the query's own
# bucket PLUS the buckets reached by flipping the lowest-|margin| sign
# bits — the hyperplanes the query sits closest to, i.e. the neighbor
# buckets most likely to hold near misses. Recall rises toward exact
# at a fixed table count instead of multiplying index size; at 100 TB
# the corpus stays partitioned by the SAME bucket key as the
# single-probe index, and a query touches (1 + n_extra) buckets of 2^p
# instead of one — still a partition-pruned read, never a scan.
# ---------------------------------------------------------------------------

# Default raised 3 -> 7 at round 11 (VERDICT r10 next #6): the r10
# planted-corpus dial sweep (artifacts/round10/ann_recall_curve.json)
# put the recall knee at 8 buckets — recall@10 0.76 @ 4 buckets, 0.82 @
# 8, and FLAT at 16 — so 7 extra probes is the cost-optimal default;
# tests/test_recall.py pins the floor at the new dial.
N_EXTRA_PROBES = 7


def _margin_structs_expr() -> str:
    """array<struct(m double, p int)> of |projection margin| per sign
    bit — Spark side. Sorting it ascending puts the least-confident
    bits (the perturbations worth probing) first; ties break on p."""
    items = []
    for p in range(N_PROJECTIONS):
        proj = spark_double_array(PROJECTIONS[p])
        items.append(
            f"struct(abs({dot_expr('v', proj, unroll=False)}) AS m, {p} AS p)"
        )
    return f"array_sort(array({', '.join(items)}))"


def _margin_structs_sql() -> str:
    items = []
    for p in range(N_PROJECTIONS):
        proj = sql_double_array(PROJECTIONS[p])
        items.append(
            f"struct_pack(m := abs({dot_sql('v', proj, unroll=False)}), p := {p})"
        )
    return f"list_sort([{', '.join(items)}])"


def similarity_multiprobe_topk(
    spark: SparkSession, sf_dir: str, *, n_extra_probes: int = N_EXTRA_PROBES
) -> DataFrame:
    """Approximate top-k with margin-ordered multi-probe expansion.

    Same output shape as similarity_lsh_topk; candidate recall is a
    superset of the single-probe operator by construction (probe set
    includes the home bucket — tests/test_recall.py pins the ordering).
    The probe list is built per query on the broadcast side (tiny) and
    exploded to (1 + n_extra_probes) equi-join keys; sign buckets
    partition the corpus, so the probe buckets are disjoint and no
    candidate is scored twice.
    """
    emb = _with_norm(_emb(spark, sf_dir)).withColumn("bucket", F.expr(_bucket_expr()))
    probes_expr = (
        f"concat(array(bucket), transform(slice({_margin_structs_expr()}, 1, "
        f"{int(n_extra_probes)}), s -> bucket ^ shiftleft(1L, s.p)))"
    )
    queries = _query_vecs(emb, F.explode(F.expr(probes_expr)).alias("qbucket"))
    scored = emb.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    return _rank_topk(scored)


def _similarity_multiprobe_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm,
                   {_bucket_sql()} AS bucket
            FROM e
        ), q AS (
            SELECT vec_id AS q_id, v AS qv, norm AS qnorm, bucket,
                   list_prepend(bucket,
                       list_transform(
                           {_margin_structs_sql()}[1:{N_EXTRA_PROBES}],
                           s -> xor(bucket, 1::BIGINT << s.p)))
                       AS probes
            FROM n WHERE vec_id < {N_QUERY_VECS}
        ), probed AS (
            SELECT q_id, qv, qnorm, unnest(probes) AS qbucket FROM q
        ), scored AS (
            SELECT p.q_id, c.vec_id AS neighbor_id,
                   {dot_sql('p.qv', 'c.v')} / (p.qnorm * c.norm) AS cos
            FROM probed p JOIN n c
              ON c.bucket = p.qbucket AND c.vec_id != p.q_id
        )
{_rank_tail_sql()}"""


QUERIES["similarity_multiprobe_topk"] = similarity_multiprobe_topk
ORACLE["similarity_multiprobe_topk"] = _similarity_multiprobe_topk_sql()


# ---------------------------------------------------------------------------
# similarity_binary_topk — binary (sign) quantization ANN: each vector
# compresses to ONE int64 word (bit i = sign of dimension i; EMBED_DIM
# = 64 packs exactly), candidate generation is Hamming distance via a
# single xor + popcount per pair — the cheapest possible scan-side
# similarity, the shape modern binary-quantization indexes (and the
# classic Charikar sign-sketch) run at retrieval time — and the top
# BQ_CANDIDATES per query are exactly reranked by raw cosine.
# Complements the codebook family: SQ (similarity_sq_topk) compresses
# to 8 bits/dim, PQ to subspace codes; this is 1 bit/dim with a
# 64x-smaller candidate scan.
#
# Scale posture: two embeddings scans (words for the Hamming pass,
# vectors for the rerank — plan-tested); the query words and the
# candidate list are knob-bounded broadcasts (Q and Q x C rows); the
# Hamming cutoff is a per-q_id WindowGroupLimit, never a global sort.
# Determinism: sign bits and Hamming counts are exact integers in both
# engines; cutoff and final rank both tie-break by vec_id; only the
# output cosine is rounded (shared _rank_topk tail).
# ---------------------------------------------------------------------------

BQ_CANDIDATES = 50


def _sign_pack_expr(col: str) -> str:
    """int64 sign word — Spark side. OR-fold: no overflow semantics."""
    return (
        f"aggregate(sequence(0, {EMBED_DIM - 1}), 0L, (acc, i) -> "
        f"acc | IF(element_at({col}, i + 1) > CAST(0.0 AS DOUBLE), "
        f"shiftleft(1L, i), 0L))"
    )


def _sign_pack_sql(col: str) -> str:
    # DuckDB range-checks << and refuses 1 << 63 (Spark's shiftleft
    # wraps to the sign bit); spell the top bit as the min-int64 literal
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(0, {EMBED_DIM}), i -> "
        f"CASE WHEN ({col})[i + 1] > CAST(0.0 AS DOUBLE) "
        f"THEN CASE WHEN i = 63 THEN (-9223372036854775807::BIGINT - 1) "
        f"ELSE (1::BIGINT << i) END ELSE 0::BIGINT END)), (acc, x) -> acc | x)"
    )


def similarity_binary_topk(
    spark: SparkSession, sf_dir: str, *, n_candidates: int = BQ_CANDIDATES
) -> DataFrame:
    # the sign-word table is NARROW (vec_id + one int64) and feeds two
    # roles (Hamming stream + query-word broadcast build); the pin
    # computes the embedding-column decode + 64-dim pack once instead
    # of once per role — measured 1.11 -> 0.92 s at sf0.1 even though
    # the pin feeds a broadcast (the avoided re-decode outweighs the
    # checkpoint barrier, the round-7 fact-table-scale pin rule)
    words = pin(
        _emb(spark, sf_dir)
        .select("vec_id", F.expr(_sign_pack_expr("v")).alias("w"))
    )
    qwords = words.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("w").alias("qw")
    )
    ham = words.join(
        F.broadcast(qwords), F.col("vec_id") != F.col("q_id")
    ).withColumn("hamming", F.expr("bit_count(w ^ qw)"))
    wnd = Window.partitionBy("q_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    cand = (
        ham.withColumn("hrank", F.row_number().over(wnd))
        .filter(F.col("hrank") <= n_candidates)
        .select("q_id", "vec_id")
    )
    corpus = _with_norm(_emb(spark, sf_dir))
    scored = corpus.join(F.broadcast(cand), "vec_id").join(
        F.broadcast(_query_vecs(corpus)), "q_id"
    )
    return _rank_topk(scored)


def _similarity_binary_topk_sql() -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), wrd AS (
            SELECT vec_id, {_sign_pack_sql('v')} AS w FROM e
        ), qw AS (
            SELECT vec_id AS q_id, w AS qw FROM wrd
            WHERE vec_id < {N_QUERY_VECS}
        ), ham AS (
            SELECT q.q_id, c.vec_id,
                   bit_count(xor(c.w, q.qw)) AS hamming
            FROM wrd c JOIN qw q ON c.vec_id != q.q_id
        ), cand AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY hamming, vec_id) AS hrank
                FROM ham
            ) WHERE hrank <= {BQ_CANDIDATES}
        ), n AS (
            SELECT vec_id, v, sqrt({dot_sql('v', 'v')}) AS norm FROM e
        ), scored AS (
            SELECT cand.q_id, cand.vec_id AS neighbor_id,
                   {dot_sql('q.v', 'c.v')} / (q.norm * c.norm) AS cos
            FROM cand
            JOIN n c ON c.vec_id = cand.vec_id
            JOIN n q ON q.vec_id = cand.q_id
        )
{_rank_tail_sql()}"""


QUERIES["similarity_binary_topk"] = similarity_binary_topk
ORACLE["similarity_binary_topk"] = _similarity_binary_topk_sql()
