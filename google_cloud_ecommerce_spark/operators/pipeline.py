"""Training-data pipeline operators over ``documents`` — the
prepare-for-pretraining surface (chunking, sequence packing,
benchmark-contamination checks) that sits beside dedup/similarity/text
in an LLM data pipeline. The reference has no analogue (its transforms
are per-row enrichment only, SURVEY.md §2.3); these extend the §7
extension families.

  doc_chunking        fixed-size overlapping character windows per doc
                      (the array-explode form: sequence() of starts ->
                      posexplode -> substring; no UDF, no shuffle)
  sequence_packing    assign docs to fixed token-budget bins per lang
                      (running-sum window -> bin id = prefix DIV cap;
                      the deterministic in-order packing spec, same
                      rows in any engine)
  contamination_check inverted-index 3-gram overlap of training docs
                      against a held-out benchmark slice (broadcast
                      the small bench side; work scales with shared
                      shingles, never n^2)

Scale posture (100 TB): chunking/packing are per-partition narrow ops
after one shuffle on the window key (lang); contamination joins on the
shingle key with the benchmark side broadcast — the pattern used for
eval-decontamination sweeps where the bench corpus is MBs while the
training corpus is TBs.

All expressions are built-in column functions (whole-stage codegen);
token/shingle text derives from the shared cross-engine helpers in
operators/_common.py, so values are bit-identical vs the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.operators._common import (
    gopher_counts,
    gopher_keep,
    let_expr,
    ngrams_expr,
    repetition_expr,
    token_hash_expr,
    token_hash_sql,
    tokens_expr,
    tokens_sql,
)
from google_cloud_ecommerce_spark.pins import pin

CHUNK_SIZE = 120  # chars per chunk
CHUNK_STRIDE = 100  # start-to-start distance => 20-char overlap
PACK_CAPACITY = 256  # token budget per packed sequence bin
BENCH_MOD = 10  # doc_id % BENCH_MOD == 0 -> held-out benchmark slice
SHINGLE_K = 3  # words per contamination shingle


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# doc_chunking — fixed-size overlapping windows. Every downstream
# tokenizer wants bounded inputs; the overlap preserves cross-boundary
# context. One generator expression per row, no Python.
# ---------------------------------------------------------------------------


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    starts = F.expr(f"sequence(1L, greatest(n_chars, 1L), {CHUNK_STRIDE}L)")
    return (
        docs.select("doc_id", "text", F.posexplode(starts).alias("pos", "chunk_start"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.expr(f"substring(text, cast(chunk_start AS INT), {CHUNK_SIZE})").alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )


DOC_CHUNKING_SQL = f"""
    WITH starts AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(n_chars, 1) + 1, {CHUNK_STRIDE})) AS chunk_start
        FROM documents
    )
    SELECT doc_id,
           (chunk_start - 1) // {CHUNK_STRIDE} AS chunk_idx,
           chunk_start,
           substring(text, CAST(chunk_start AS INT), {CHUNK_SIZE}) AS chunk_text,
           length(substring(text, CAST(chunk_start AS INT), {CHUNK_SIZE})) AS chunk_len
    FROM starts
"""


# ---------------------------------------------------------------------------
# sequence_packing — deterministic in-order packing: bin id is the
# prefix token total DIV capacity, so a doc opens a new bin exactly when
# the preceding docs of its lang have consumed the current budget. Not
# best-fit (that is inherently sequential); this is the spec used when
# packing must be reproducible and shard-parallel. A single doc larger
# than the capacity still lands in one bin (never split here — that is
# doc_chunking's job upstream).
# ---------------------------------------------------------------------------


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "doc_id",
        F.expr(f"size({tokens_expr('text')})").cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = toks.withColumn("cum", F.sum("tok").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - tok) DIV {PACK_CAPACITY}")
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SEQUENCE_PACKING_SQL = f"""
    WITH t AS (
        SELECT lang, doc_id, len({tokens_sql('text')}) AS tok FROM documents
    ), c AS (
        SELECT lang, doc_id, tok,
               sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    -- CASTs: DuckDB window/group SUM over BIGINT widens to HUGEINT, which the
    -- driver hasher canonicalizes differently from Spark BIGINT
    SELECT lang, CAST((cum - tok) // {PACK_CAPACITY} AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# contamination_check — which training docs share word 3-grams with the
# held-out benchmark slice, and how much. The join key is the shingle
# (inverted index); the benchmark side is broadcast WHEN PROVABLY SMALL
# (round-4 guard, VERDICT r3 #5): real benchmarks are MBs against a TB
# corpus, but nothing guarantees that, and an unconditional broadcast
# of a corpus-fraction bench slice grows with the data and OOMs the
# driver at 100x. The guard upper-bounds the bench shingle bytes from
# a CHEAP two-column scan of the bench docs only (count + sum(n_chars);
# each character lands in <= SHINGLE_K shingles, so shingle text <=
# SHINGLE_K * n_chars) and broadcasts only if that bound fits
# spark.sql.autoBroadcastJoinThreshold; otherwise the join falls back
# to its shuffled form (AQE may still convert at runtime from TRUE
# observed sizes). Output only contaminated docs — at real scale the
# result is a tiny quarantine list, not a full-corpus column.
# ---------------------------------------------------------------------------


# Shared with the round-8 broadcast guards (operators/guards.py) —
# the threshold parser moved there; this alias keeps the established
# call sites and test references stable.
from google_cloud_ecommerce_spark.operators.guards import (  # noqa: E402
    broadcast_threshold_bytes as _broadcast_threshold_bytes,
)


def _shingle_sql() -> str:
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(SHINGLE_K))
    return f"list_transform(range(1, len(toks) - {SHINGLE_K - 2}), i -> {parts})"


_BENCH_SLICE_BYTES: dict[tuple, int] = {}


def _bench_slice_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Upper bound on the bench slice's shingle bytes, memoized on the
    documents fingerprint (guards.documents_fingerprint_cached — the
    shared copy of the mtime_ns invalidation subtlety)."""
    from google_cloud_ecommerce_spark.operators.guards import (
        documents_fingerprint_cached,
    )

    def compute() -> int:
        stats = (
            _docs(spark, sf_dir)
            .filter(F.col("doc_id") % BENCH_MOD == 0)
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars"),
            )
            .first()
        )
        return int(stats["chars"]) * SHINGLE_K + int(stats["n"]) * 64

    return documents_fingerprint_cached(sf_dir, _BENCH_SLICE_BYTES, compute)


def contamination_check(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # Carry the denominator THROUGH the explode: each exploded struct is
    # (shingle, n_shingles) with n_shingles = size of the doc's distinct-
    # shingle array — no separate n_sh pass over the corpus and no extra
    # join (round-4: the old three-subtree shape tokenized the corpus
    # three times; this shape tokenizes each side once). Two traps this
    # spelling dodges, both A/B-measured ~8x blowups:
    #   - materializing the array as a COLUMN and exploding that makes
    #     InferFiltersFromGenerate infer size(col) > 0 and inline the
    #     whole tokenize+shingle pipeline into a pushed-down filter —
    #     everything evaluates twice per row (the rule skips generator
    #     inputs that are expressions, so explode(<expr>) stays clean);
    #   - size(<full pipeline>) INSIDE the per-element lambda re-runs
    #     the pipeline once per shingle (quadratic per doc). let_expr
    #     binds arr once per doc, and the inner lambda only reads it.
    toks = docs.select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    ).filter(F.expr(f"size(toks) >= {SHINGLE_K}"))
    sh_expr = f"array_distinct({ngrams_expr('toks', SHINGLE_K)})"
    pair_gen = let_expr(
        sh_expr,
        "arr",
        "transform(arr, s -> named_struct('shingle', s, 'n_shingles', size(arr)))",
    )
    # Shingles travel as xxhash64 fingerprints, never strings: the join
    # key, shuffle rows, and the count_distinct Expand all carry 8-byte
    # ints instead of ~20-char text (the minhash verify-stage discipline,
    # dedup.py). Distinctness is preserved up to 64-bit collisions —
    # ~1e-7 at a million distinct shingles. A lazy pin was A/B'd here
    # and LOST (materializing the exploded shingle table costs more
    # than the second tokenize pass it saves), so each branch keeps its
    # own pipelined tokenize+shingle scan.
    bench = toks.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_doc"),
        F.explode(F.expr(f"transform({sh_expr}, s -> xxhash64(s))")).alias("shingle"),
    )
    train = (
        toks.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", F.explode(F.expr(pair_gen)).alias("g"))
        .select(
            "doc_id",
            F.expr("xxhash64(g.shingle)").alias("shingle"),
            F.col("g.n_shingles").cast("long").alias("n_shingles"),
        )
    )
    # Size guard: upper-bound bench shingle bytes from a pruned
    # (doc_id, n_chars) scan of the bench slice only — never from the
    # exploded shingles themselves. Cached per source fingerprint: the
    # bound is a property of the static input, and re-running the sizing
    # job per invocation was ~0.3 s of the query's 1.4 s at sf0.1.
    if broadcast_threshold is None:
        broadcast_threshold = _broadcast_threshold_bytes(spark)
    est_bytes = _bench_slice_bytes(spark, sf_dir)
    bench = F.broadcast(bench) if est_bytes <= broadcast_threshold else bench
    return (
        train.join(bench, "shingle")
        # n_shingles is a GROUP KEY, not an aggregate: it is functionally
        # dependent on doc_id, and keeping the aggregate's functions to
        # the two count_distincts preserves the 2-branch Expand rewrite
        # (adding a max() alongside them forced a 3-branch Expand with a
        # per-branch FILTER merge — measured ~8x slower).
        .groupBy("doc_id", "n_shingles")
        .agg(
            F.count_distinct("shingle").alias("n_overlap"),
            F.count_distinct("bench_doc").alias("n_bench_docs"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            "n_bench_docs",
            (F.col("n_overlap").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
    )


CONTAMINATION_CHECK_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, unnest({_shingle_sql()}) AS shingle
        FROM toks WHERE len(toks) >= {SHINGLE_K}
    ), bench AS (
        SELECT doc_id AS bench_doc, shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0
    ), train AS (
        SELECT * FROM sh WHERE doc_id % {BENCH_MOD} != 0
    ), n_sh AS (
        SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1
    ), hits AS (
        SELECT t.doc_id,
               count(DISTINCT t.shingle) AS n_overlap,
               count(DISTINCT b.bench_doc) AS n_bench_docs
        FROM train t JOIN bench b USING (shingle)
        GROUP BY 1
    )
    SELECT h.doc_id, n_shingles, n_overlap, n_bench_docs,
           CAST(n_overlap AS DOUBLE) / n_shingles AS contamination
    FROM hits h JOIN n_sh USING (doc_id)
"""


QUERIES = {
    "doc_chunking": doc_chunking,
    "sequence_packing": sequence_packing,
    "contamination_check": contamination_check,
}

ORACLE = {
    "doc_chunking": DOC_CHUNKING_SQL,
    "sequence_packing": SEQUENCE_PACKING_SQL,
    "contamination_check": CONTAMINATION_CHECK_SQL,
}


# ---------------------------------------------------------------------------
# pretraining_corpus_prep — the full prepare-for-pretraining flow as ONE
# declarative pipeline: quality gates -> exact dedup -> chunk accounting,
# rolled up per language. This is the composition the individual
# operators exist for; Catalyst fuses the whole thing into a handful of
# stages (no materialization between "steps").
#
# Gates are INTEGER comparisons only (n_tokens >= 20; type-token ratio
# >= 0.2 as n_distinct*5 >= n_tokens; top-bigram share <= 0.2 as
# max_rep*5 <= n_bigrams) — no float thresholds, so both engines keep
# or drop exactly the same documents. They are computed per row
# (quality_gated), so the batch preps and the stream share them and
# nothing is exploded, aggregated or joined back. Dedup keeps the min
# doc_id per md5(text). Chunk counts come from arithmetic, not an
# explode: (n_chars-1) DIV stride + 1.
# ---------------------------------------------------------------------------

MIN_TOKENS = 20


def quality_gated(docs: DataFrame) -> DataFrame:
    """Rows of a documents frame (batch or stream) that pass the prep
    quality gates, with the columns they read: toks, n_tokens,
    n_distinct and the repetition gate's rep.n_bigrams / rep.max_rep."""
    return (
        docs.withColumn("toks", F.expr(tokens_expr("lower(text)")))
        .withColumns(
            {
                "n_tokens": F.expr("CAST(size(toks) AS BIGINT)"),
                "n_distinct": F.expr("CAST(size(array_distinct(toks)) AS BIGINT)"),
                "rep": F.expr(repetition_expr("toks")),
            }
        )
        .filter(
            f"n_tokens >= {MIN_TOKENS} AND n_distinct * 5 >= n_tokens "
            "AND rep.max_rep * 5 <= rep.n_bigrams"
        )
    )


def pretraining_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # digest computed here so text never shuffles (guide §2.3)
    gated = quality_gated(_docs(spark, sf_dir)).select(
        "doc_id", "lang", F.md5("text").alias("digest"), "n_chars", "n_tokens"
    )
    # keeper via a min() window over the digest instead of aggregate +
    # join-back, which re-planned the whole gated chain a second time
    # (round-12, the corpus_to_training_batches pattern; same rows)
    kw = Window.partitionBy("digest")
    kept = gated.withColumn(
        "keep", F.col("doc_id") == F.min("doc_id").over(kw)
    ).filter("keep")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr(f"(n_chars - 1) DIV {CHUNK_STRIDE} + 1")).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens"),
    )


PRETRAINING_CORPUS_PREP_SQL = f"""
    WITH t AS (
        SELECT doc_id, lang, text, n_chars, {tokens_sql('lower(text)')} AS toks
        FROM documents
    ), base AS (
        SELECT doc_id, lang, text, n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               toks
        FROM t
    ), b AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM base WHERE n_tokens >= 2
    ), per AS (
        SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2
    ), rep AS (
        SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_rep FROM per GROUP BY 1
    ), gated AS (
        SELECT g.doc_id, g.lang, g.text, g.n_chars, g.n_tokens
        FROM base g JOIN rep r USING (doc_id)
        WHERE g.n_tokens >= {MIN_TOKENS}
          AND g.n_distinct * 5 >= g.n_tokens
          AND r.max_rep * 5 <= r.n_bigrams
    ), keeper AS (
        SELECT md5(text) AS digest, min(doc_id) AS doc_id FROM gated GROUP BY 1
    ), kept AS (
        SELECT g.* FROM gated g JOIN keeper k ON g.doc_id = k.doc_id
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum((n_chars - 1) // {CHUNK_STRIDE} + 1) AS BIGINT) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM kept GROUP BY 1
"""


QUERIES["pretraining_corpus_prep"] = pretraining_corpus_prep
ORACLE["pretraining_corpus_prep"] = PRETRAINING_CORPUS_PREP_SQL


# ---------------------------------------------------------------------------
# train_eval_split — deterministic 80/10/10 split assignment from a
# content-independent hash of the stable id (md5(doc_id) mod 10 -> 0-7
# train, 8 val, 9 test). The split is a pure function of the id: stable
# under re-runs, re-partitioning, and corpus growth (a doc never moves
# between splits), which is the property a reproducible training
# pipeline needs. Distinct from stratified_hash_sample (downsampling);
# this PARTITIONS the corpus. Output is the per-(lang, split) manifest.
# ---------------------------------------------------------------------------

SPLIT_BUCKETS = 10
VAL_BUCKET = 8
TEST_BUCKET = 9


def _split_expr_spark() -> str:
    b = (
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) "
        f"% {SPLIT_BUCKETS}"
    )
    return (
        f"CASE WHEN ({b}) = {TEST_BUCKET} THEN 'test' "
        f"WHEN ({b}) = {VAL_BUCKET} THEN 'val' ELSE 'train' END"
    )


def _split_expr_sql() -> str:
    b = (
        f"(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
        f"% {SPLIT_BUCKETS})"
    )
    return (
        f"CASE WHEN {b} = {TEST_BUCKET} THEN 'test' "
        f"WHEN {b} = {VAL_BUCKET} THEN 'val' ELSE 'train' END"
    )


def train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.withColumn("split", F.expr(_split_expr_spark()))
        .withColumn(
            "n_tokens", F.expr(f"size({tokens_expr('text')})").cast("long")
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


TRAIN_EVAL_SPLIT_SQL = f"""
    WITH t AS (
        SELECT lang, {_split_expr_sql()} AS split,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens, n_chars
        FROM documents
    )
    SELECT lang, split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM t GROUP BY 1, 2
"""

QUERIES["train_eval_split"] = train_eval_split
ORACLE["train_eval_split"] = TRAIN_EVAL_SPLIT_SQL


# ---------------------------------------------------------------------------
# corpus_mixture_sample — deterministic weighted downsampling to a
# target language mixture (the "data mixing" step of pretraining-corpus
# assembly: upweight/downweight sources without materializing random
# state). Keep a doc iff a salted md5 hash-bucket of its id falls under
# the language's acceptance threshold — a pure per-row filter (no
# shuffle, no RNG, reproducible across engines and across reruns at any
# scale; the salt decorrelates it from the train/eval split hash).
# ---------------------------------------------------------------------------

MIXTURE_DENOM = 10_000
# acceptance per 10k: keep all English, downsample the rest
MIXTURE_WEIGHTS = {"en": 10_000, "de": 6_000, "es": 6_000, "fr": 6_000, "zh": 3_000}
MIXTURE_SALT = "mix:"


def _mixture_threshold_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {w}" for lang, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"CASE lang {whens} ELSE {MIXTURE_DENOM} END"


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        f"CAST(conv(substr(md5(concat('{MIXTURE_SALT}', CAST(doc_id AS STRING))), 1, 15), "
        f"16, 10) AS BIGINT) % {MIXTURE_DENOM}"
    )
    return (
        _docs(spark, sf_dir)
        .filter(F.expr(f"({bucket}) < ({_mixture_threshold_case()})"))
        .select("doc_id", "lang", "source")
    )


def _corpus_mixture_sample_sql() -> str:
    bucket = (
        f"(('0x' || substr(md5('{MIXTURE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT % {MIXTURE_DENOM})"
    )
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {bucket} < ({_mixture_threshold_case()})
    """


QUERIES["corpus_mixture_sample"] = corpus_mixture_sample
ORACLE["corpus_mixture_sample"] = _corpus_mixture_sample_sql()


# ---------------------------------------------------------------------------
# corpus_drift — distribution-shift detection between two corpus
# snapshots (stand-in: even/odd doc_id halves as "previous/current
# crawl"). Per language, the token unigram distributions are compared
# by L1 distance. The sum is computed over INTEGER cross-multiplied
# numerators (|c_old*T_new - c_new*T_old|, exact BIGINT) with ONE final
# double division — no order-dependent float accumulation, so the
# result is bit-identical across engines and partitionings. Plan
# (round 12, guide §2.4): ONE corpus scan and ONE hash aggregate —
# both epochs' counts come from a conditional aggregate on the parity
# of doc_id (a token missing from one epoch counts 0 there, exactly
# the old full-outer join's coalesce), replacing two filtered scans +
# two aggregates + a sort-merge full-outer join. Interleaved A/B at
# sf0.1: min 0.81 -> 0.68 s, identical rows. At 100 TB the BIGINT
# cross products cap at count*total ~ 2^63 — switch to DECIMAL(38,0)
# past ~4e18 token-pairs.
# ---------------------------------------------------------------------------


def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    merged = toks.groupBy("lang", "token").agg(
        F.sum(((F.col("doc_id") % 2) == 0).cast("long")).alias("c_old"),
        F.sum(((F.col("doc_id") % 2) == 1).cast("long")).alias("c_new"),
    )
    totals = merged.groupBy("lang").agg(
        F.sum("c_old").alias("t_old"), F.sum("c_new").alias("t_new")
    )
    joined = merged.join(F.broadcast(totals), "lang")
    return (
        joined.groupBy("lang", "t_old", "t_new")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum(
                F.abs(F.col("c_old") * F.col("t_new") - F.col("c_new") * F.col("t_old"))
            ).alias("drift_num"),
        )
        .select(
            "lang",
            "t_old",
            "t_new",
            "n_terms",
            (
                F.col("drift_num").cast("double")
                / (F.col("t_old") * F.col("t_new")).cast("double")
            ).alias("l1_drift"),
        )
    )


CORPUS_DRIFT_SQL = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest({tokens_sql('lower(text)')}) AS token
        FROM documents
    ), old AS (
        SELECT lang, token, count(*) AS c_old FROM toks
        WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ), new AS (
        SELECT lang, token, count(*) AS c_new FROM toks
        WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ), merged AS (
        SELECT COALESCE(old.lang, new.lang) AS lang,
               COALESCE(old.token, new.token) AS token,
               COALESCE(c_old, 0) AS c_old, COALESCE(c_new, 0) AS c_new
        FROM old FULL OUTER JOIN new
          ON old.lang = new.lang AND old.token = new.token
    ), totals AS (
        SELECT lang, CAST(SUM(c_old) AS BIGINT) AS t_old,
               CAST(SUM(c_new) AS BIGINT) AS t_new
        FROM merged GROUP BY 1
    )
    SELECT m.lang, t.t_old, t.t_new, count(*) AS n_terms,
           CAST(CAST(SUM(abs(m.c_old * t.t_new - m.c_new * t.t_old)) AS BIGINT)
                AS DOUBLE)
               / CAST(t.t_old * t.t_new AS DOUBLE) AS l1_drift
    FROM merged m JOIN totals t ON m.lang = t.lang
    GROUP BY 1, 2, 3
"""

QUERIES["corpus_drift"] = corpus_drift
ORACLE["corpus_drift"] = CORPUS_DRIFT_SQL


# ---------------------------------------------------------------------------
# balanced_group_sample — exactly-K-per-group deterministic sampling
# (the class-balancing step before fine-tune/eval set assembly, where
# the mixture sampler above is rate-based and this is count-based).
# Priority = salted md5 hash of the doc id: a uniform, reproducible
# "random" order with no RNG state; rank within language via a window
# partitioned on the group key — parallel per group, never global.
# Groups smaller than K keep everything.
# ---------------------------------------------------------------------------

BALANCED_K = 20
BALANCED_SALT = "bal:"


def balanced_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    pri = (
        f"CAST(conv(substr(md5(concat('{BALANCED_SALT}', CAST(doc_id AS STRING))), 1, 15), "
        f"16, 10) AS BIGINT)"
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", F.expr(pri).alias("pri")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("pri"), F.asc("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BALANCED_K)
        .select("doc_id", "lang", "source", "rk")
    )


def _balanced_group_sample_sql() -> str:
    pri = (
        f"(('0x' || substr(md5('{BALANCED_SALT}' || CAST(doc_id AS VARCHAR)), 1, 15))"
        f"::BIGINT)"
    )
    return f"""
        WITH p AS (
            SELECT doc_id, lang, source, {pri} AS pri FROM documents
        )
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id)
                    AS BIGINT) AS rk
        FROM p
        QUALIFY rk <= {BALANCED_K}
    """


QUERIES["balanced_group_sample"] = balanced_group_sample
ORACLE["balanced_group_sample"] = _balanced_group_sample_sql()


# ---------------------------------------------------------------------------
# corpus_to_training_batches — the END-TO-END prep composition: quality
# gates -> exact dedup -> deterministic split assignment -> token-budget
# packing, per (lang, split), as ONE declarative plan (Catalyst fuses
# it; nothing materializes between stages — the point of expressing a
# pipeline relationally instead of as imperative steps). Gate + dedup
# semantics are identical to pretraining_corpus_prep; the packing
# window partitions on (lang, split), so bins never cross a split
# boundary — the invariant a training loader needs.
# ---------------------------------------------------------------------------


def corpus_to_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # digest computed here so text never shuffles (guide §2.3)
    gated = quality_gated(_docs(spark, sf_dir)).select(
        "doc_id", "lang", F.md5("text").alias("digest"), "n_tokens"
    )
    # Round-12 (guide §2.4, the funnel's keeper-window pattern): the
    # md5-keeper was an aggregate + join-back, which re-planned the whole
    # gated chain a second time. A min() window over the digest evaluates gated ONCE; the
    # split expression depends only on doc_id, so the row set and every
    # output value are unchanged. Interleaved A/B at sf0.1: min
    # 2.14 -> 1.59 s, identical rows.
    kw = Window.partitionBy("digest")
    kept = (
        gated.withColumn("keep", F.col("doc_id") == F.min("doc_id").over(kw))
        .filter("keep")
        .withColumn("split", F.expr(_split_expr_spark()))
    )
    w = (
        Window.partitionBy("lang", "split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = kept.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - n_tokens) DIV {PACK_CAPACITY}")
    )
    return binned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.count_distinct("bin_id").alias("n_bins"),
    )


CORPUS_TO_TRAINING_BATCHES_SQL = f"""
    WITH t AS (
        SELECT doc_id, lang, text, {tokens_sql('lower(text)')} AS toks
        FROM documents
    ), base AS (
        SELECT doc_id, lang, text,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               toks
        FROM t
    ), b AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM base WHERE n_tokens >= 2
    ), per AS (
        SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2
    ), rep AS (
        SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_rep FROM per GROUP BY 1
    ), gated AS (
        SELECT g.doc_id, g.lang, g.text, g.n_tokens
        FROM base g JOIN rep r USING (doc_id)
        WHERE g.n_tokens >= {MIN_TOKENS}
          AND g.n_distinct * 5 >= g.n_tokens
          AND r.max_rep * 5 <= r.n_bigrams
    ), keeper AS (
        SELECT md5(text) AS digest, min(doc_id) AS doc_id FROM gated GROUP BY 1
    ), kept0 AS (
        SELECT g.doc_id AS doc_id, g.lang, g.n_tokens
        FROM gated g JOIN keeper k ON g.doc_id = k.doc_id
    ), kept AS (
        SELECT doc_id, lang, n_tokens, {_split_expr_sql()} AS split FROM kept0
    ), c AS (
        SELECT lang, split, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang, split ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
        FROM kept
    )
    SELECT lang, split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT (cum - n_tokens) // {PACK_CAPACITY}) AS n_bins
    FROM c GROUP BY 1, 2
"""

QUERIES["corpus_to_training_batches"] = corpus_to_training_batches
ORACLE["corpus_to_training_batches"] = CORPUS_TO_TRAINING_BATCHES_SQL


# ---------------------------------------------------------------------------
# feature_hash_vectors — the hashing-trick vectorizer (Weinberger et
# al., ICML 2009): each document becomes a fixed FEATURE_DIM-wide count
# vector, token -> bucket via the shared md5 hash, collisions folded by
# addition. The fixed width is what makes the features join-able and
# train-ready regardless of vocabulary growth — the standard bridge
# from text to numeric models at corpus scale. One explode + one hash
# aggregate; densification to the array is a per-doc projection.
# l2_norm uses sqrt over an exact integer sum — bit-identical doubles.
# ---------------------------------------------------------------------------

FEATURE_DIM = 64


def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("t")
    )
    bucketed = toks.select(
        "doc_id", F.expr(f"({token_hash_expr('t')}) % {FEATURE_DIM}").alias("b")
    )
    counts = bucketed.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(F.expr("map_from_entries(collect_list(struct(b, c)))").alias("m"))
        .select(
            "doc_id",
            # m is bound once per doc: read in the lambda body, the
            # map_from_entries was rebuilt for each of the 64 slots
            # (sf0.1 on 4 vCPUs, min of 5: 0.69 -> 0.49 s, identical rows)
            F.expr(
                let_expr(
                    "m",
                    "mm",
                    f"transform(sequence(0, {FEATURE_DIM - 1}), "
                    "i -> coalesce(element_at(mm, CAST(i AS BIGINT)), 0L))",
                )
            ).alias("features"),
        )
        .select(
            "doc_id",
            # comma-joined STRING (integer rendering is engine-identical;
            # the correctness harness cannot canonicalize array cells)
            F.expr(
                "array_join(transform(features, x -> CAST(x AS STRING)), ',')"
            ).alias("features"),
            F.expr(
                "CAST(aggregate(features, 0L, (a, x) -> a + x) AS BIGINT)"
            ).alias("total_count"),
            F.expr(
                "sqrt(CAST(aggregate(features, 0L, (a, x) -> a + x * x) AS DOUBLE))"
            ).alias("l2_norm"),
        )
    )


def _feature_hash_vectors_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS t
            FROM documents
        ), bucketed AS (
            SELECT doc_id, ({token_hash_sql('t')}) % {FEATURE_DIM} AS b FROM toks
        ), counts AS (
            SELECT doc_id, b, count(*) AS c FROM bucketed GROUP BY 1, 2
        ), packed AS (
            SELECT doc_id,
                   list(b ORDER BY b) AS idx,
                   list(c ORDER BY b) AS cs
            FROM counts GROUP BY 1
        ), featured AS (
            SELECT doc_id,
                   list_transform(range(0, {FEATURE_DIM}),
                       i -> coalesce(cs[list_position(idx, i)], 0::BIGINT))
                       AS fv
            FROM packed
        )
        SELECT doc_id,
               array_to_string(fv, ',') AS features,
               CAST(list_sum(fv) AS BIGINT) AS total_count,
               sqrt(CAST(list_sum(list_transform(fv, x -> x ^ 2))
                   AS DOUBLE)) AS l2_norm
        FROM featured
    """


QUERIES["feature_hash_vectors"] = feature_hash_vectors
ORACLE["feature_hash_vectors"] = _feature_hash_vectors_sql()


# ---------------------------------------------------------------------------
# target_encoding — smoothed mean-target encoding of the category
# bucket (the standard high-cardinality categorical feature for tabular
# models): enc(cat) = (sum_cat + m * prior) / (n_cat + m), prior = the
# global mean, m = the smoothing pseudo-count that shrinks rare
# categories toward the prior (prevents target leakage from tiny
# groups). Sums accumulate as exact decimals; the prior and the final
# blend are the same IEEE expression in both engines. Two hash
# aggregates + a 1-row broadcast — nothing scales with cardinality but
# the (small) category vocabulary.
#
# negative_samples — deterministic negative sampling for recommender /
# contrastive training: for every user, the NEGATIVE_K category buckets
# the user never purchased, chosen by smallest md5(user:bucket) so the
# sample is reproducible on any cluster, any engine, any day. The
# candidate space is users x bucket-vocabulary (a broadcast of the tiny
# bucket table), pruned by an anti-join on the seen pairs.
# ---------------------------------------------------------------------------

TARGET_SMOOTHING_M = 20
NEGATIVE_K = 2


def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bucketed = ev.select(
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("bucket"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    ).filter(F.col("bucket").isNotNull())
    per_cat = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    glob = bucketed.agg(
        (F.sum("v").cast("double") / F.count("*")).alias("prior")
    )
    m = TARGET_SMOOTHING_M
    return per_cat.crossJoin(F.broadcast(glob)).select(
        "bucket",
        "n",
        F.col("s").cast("double").alias("sum_value"),
        "prior",
        (
            (F.col("s").cast("double") + F.lit(float(m)) * F.col("prior"))
            / (F.col("n") + F.lit(m))
        ).alias("encoded"),
    )


TARGET_ENCODING_SQL = f"""
    WITH b AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS bucket,
               CAST(value AS DECIMAL(18,4)) AS v
        FROM events
        WHERE event_type = 'purchase'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), per_cat AS (
        SELECT bucket, count(*) AS n, SUM(v) AS s FROM b GROUP BY 1
    ), gstats AS (
        SELECT CAST(SUM(v) AS DOUBLE) / count(*) AS prior FROM b
    )
    SELECT bucket, n,
           CAST(s AS DOUBLE) AS sum_value,
           prior,
           (CAST(s AS DOUBLE) + {TARGET_SMOOTHING_M}.0 * prior)
               / (n + {TARGET_SMOOTHING_M}) AS encoded
    FROM per_cat CROSS JOIN gstats
"""


# scan-audit: positives, the sampling grid, and the anti-join verification are
# distinct roles of events by design
def negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    seen = ev.select(
        "user_id",
        (F.get_json_object("props", "$.k").cast("long") % 10).alias("bucket"),
    ).filter(F.col("bucket").isNotNull()).distinct()
    users = seen.select("user_id").distinct()
    buckets = seen.select("bucket").distinct()
    cands = users.crossJoin(F.broadcast(buckets)).join(
        seen, ["user_id", "bucket"], "left_anti"
    )
    w = _W.partitionBy("user_id").orderBy(
        F.md5(F.concat_ws(":", "user_id", "bucket")), F.asc("bucket")
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NEGATIVE_K)
        .select("user_id", F.col("bucket").alias("negative_bucket"), "rn")
    )


NEGATIVE_SAMPLES_SQL = f"""
    WITH seen AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS bucket
        FROM events
        WHERE event_type = 'purchase'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), users AS (SELECT DISTINCT user_id FROM seen),
    buckets AS (SELECT DISTINCT bucket FROM seen),
    cands AS (
        SELECT u.user_id, b.bucket
        FROM users u CROSS JOIN buckets b
        WHERE NOT EXISTS (
            SELECT 1 FROM seen s
            WHERE s.user_id = u.user_id AND s.bucket = b.bucket
        )
    ), ranked AS (
        SELECT user_id, bucket,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY md5(CAST(user_id AS VARCHAR) || ':'
                                || CAST(bucket AS VARCHAR)), bucket
               ) AS rn
        FROM cands
    )
    SELECT user_id, bucket AS negative_bucket, rn
    FROM ranked WHERE rn <= {NEGATIVE_K}
"""


QUERIES["target_encoding"] = target_encoding
ORACLE["target_encoding"] = TARGET_ENCODING_SQL
QUERIES["negative_samples"] = negative_samples
ORACLE["negative_samples"] = NEGATIVE_SAMPLES_SQL


# ---------------------------------------------------------------------------
# corpus_quality_dashboard — the per-(source, lang) health report a data
# curator watches (the reference's whole analytics layer is dashboards;
# this is that spirit pointed at corpus curation): document counts,
# exact-duplicate rate, Gopher-gate pass rate, mean quality score, and
# the train-ready count (keep AND not duplicate). Composed from the
# SAME operator functions exposed individually (gopher_gates,
# text_quality, md5 digest dedup) — one Catalyst plan, three hash
# joins on doc_id, output bounded by |sources| x |langs|.
# ---------------------------------------------------------------------------


# scan-audit: composition by design: exact-dup digests, gopher gates, and
# quality scores are reused registry operators, each one scan of an
# independent per-doc signal
def corpus_quality_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as _W

    from google_cloud_ecommerce_spark.operators.text import (
        gopher_gates,
        text_quality,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang", "text")
    dup = (
        docs.withColumn("digest", F.md5("text"))
        .withColumn("n_copies", F.count("*").over(_W.partitionBy("digest")))
        .select("doc_id", (F.col("n_copies") > 1).cast("long").alias("is_dup"))
    )
    gates = gopher_gates(spark, sf_dir).select("doc_id", "keep")
    quality = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    joined = (
        docs.select("doc_id", "source", "lang")
        .join(dup, "doc_id")
        .join(gates, "doc_id")
        .join(quality, "doc_id")
    )
    return joined.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("n_exact_dups"),
        F.sum("keep").alias("n_keep"),
        F.round(
            F.sum(F.round("quality_score", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_quality"),
        F.sum(
            (F.col("keep") * (F.lit(1) - F.col("is_dup")))
        ).alias("n_train_ready"),
    )


def _corpus_quality_dashboard_sql() -> str:
    from google_cloud_ecommerce_spark.operators.text import (
        _gopher_gates_sql,
        _text_quality_sql,
    )

    return f"""
        WITH gates AS ({_gopher_gates_sql()}),
        quality AS ({_text_quality_sql()}),
        dup AS (
            SELECT doc_id,
                   CAST(count(*) OVER (PARTITION BY md5(text)) > 1 AS BIGINT)
                       AS is_dup
            FROM documents
        )
        SELECT d.source, d.lang,
               count(*) AS n_docs,
               CAST(SUM(p.is_dup) AS BIGINT) AS n_exact_dups,
               CAST(SUM(g.keep) AS BIGINT) AS n_keep,
               ROUND(CAST(SUM(CAST(ROUND(q.quality_score, 6) AS DECIMAL(18,6)))
                          AS DOUBLE) / count(*), 6) AS mean_quality,
               CAST(SUM(g.keep * (1 - p.is_dup)) AS BIGINT) AS n_train_ready
        FROM documents d
        JOIN dup p USING (doc_id)
        JOIN gates g USING (doc_id)
        JOIN quality q USING (doc_id)
        GROUP BY 1, 2
    """


QUERIES["corpus_quality_dashboard"] = corpus_quality_dashboard
ORACLE["corpus_quality_dashboard"] = _corpus_quality_dashboard_sql()


# ---------------------------------------------------------------------------
# corpus_curation_pipeline — the end-to-end curation funnel a pre-
# training data pipeline actually runs, composed from this library's
# own operators: (1) exact dedup (md5 keeper, min doc_id), (2) Gopher
# quality gates (gopher_gates' keep bit), (3) MinHash near-dup removal
# (one sweep: a doc is dropped when ANY smaller quality-surviving doc
# is its verified near-duplicate; no transitive re-instatement — the
# standard one-pass policy). Output is the per-source funnel report:
# raw -> exact-unique -> quality -> final, plus the final retention
# share. Composability is the point — each stage is the already-
# verified operator, joined on doc_id.
#
# Scale posture: inherits each stage's posture (hash-aggregate dedup,
# shuffle-free gates, banded minhash); the stage joins are all on
# doc_id and the final report aggregates to |sources| rows. The one
# new shuffle is the per-stage source rollup (map-side combined).
# Determinism: keeper policy and the one-sweep drop rule are
# order-free; counts are integers; the share is one BIGINT/BIGINT
# division in DOUBLE.
# ---------------------------------------------------------------------------


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from google_cloud_ecommerce_spark.operators.dedup import dedup_minhash_lsh
    from google_cloud_ecommerce_spark.operators.text import gopher_gates

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    raw = docs.groupBy("source").agg(F.count("*").alias("n_raw"))
    keepers = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    # each survivor set feeds 2-3 consumers (the next stage, the near-dup
    # drop join, its own rollup); pinning makes each stage materialize
    # once instead of re-running its upstream chain per consumer. The
    # near-dup pairs feed only the drop join, so they stay unpinned.
    # (The funnel's wall-clock at sf0.1 is dominated by the minhash
    # verify on the corpus's dense near-duplicate mass, ~40 s at sf0.1
    # after the hashed-set verify rewrite — which runs once either way.)
    s1 = pin(
        docs.join(keepers, "doc_id")
        .select("doc_id", "source")
    )
    gates = gopher_gates(spark, sf_dir).select("doc_id", "keep")
    s2 = pin(
        s1.join(gates, "doc_id")
        .filter(F.col("keep") == 1)
        .select("doc_id", "source")
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    dropped = (
        pairs.join(s2.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(dropped, "doc_id", "left_anti")

    def rollup(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count("*").alias(name))

    return (
        raw.join(rollup(s1, "c1"), "source", "left")
        .join(rollup(s2, "c2"), "source", "left")
        .join(rollup(s3, "c3"), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("c1", F.lit(0)).cast("long").alias("n_exact_unique"),
            F.coalesce("c2", F.lit(0)).cast("long").alias("n_quality"),
            F.coalesce("c3", F.lit(0)).cast("long").alias("n_final"),
            (
                F.coalesce("c3", F.lit(0)).cast("double") / F.col("n_raw")
            ).alias("final_share"),
        )
    )


def _corpus_curation_pipeline_sql() -> str:
    from google_cloud_ecommerce_spark.operators.dedup import _dedup_minhash_sql
    from google_cloud_ecommerce_spark.operators.text import _gopher_gates_sql

    return f"""
        WITH raw AS (
            SELECT source, count(*) AS n_raw FROM documents GROUP BY 1
        ), keep1 AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), s1 AS (
            SELECT d.doc_id, d.source
            FROM documents d JOIN keep1 k ON k.doc_id = d.doc_id
        ), gates AS (
            SELECT doc_id, keep FROM ({_gopher_gates_sql()}) g
        ), s2 AS (
            SELECT s1.doc_id, s1.source
            FROM s1 JOIN gates g ON g.doc_id = s1.doc_id WHERE g.keep = 1
        ), pairs AS (
            SELECT doc_a, doc_b FROM ({_dedup_minhash_sql()}) p
        ), dropped AS (
            SELECT DISTINCT p.doc_b AS doc_id
            FROM pairs p JOIN s2 a ON a.doc_id = p.doc_a
        ), s3 AS (
            SELECT s2.doc_id, s2.source FROM s2
            LEFT JOIN dropped dr ON dr.doc_id = s2.doc_id
            WHERE dr.doc_id IS NULL
        ), c1 AS (SELECT source, count(*) AS n FROM s1 GROUP BY 1),
        c2 AS (SELECT source, count(*) AS n FROM s2 GROUP BY 1),
        c3 AS (SELECT source, count(*) AS n FROM s3 GROUP BY 1)
        SELECT r.source, r.n_raw,
               CAST(COALESCE(c1.n, 0) AS BIGINT) AS n_exact_unique,
               CAST(COALESCE(c2.n, 0) AS BIGINT) AS n_quality,
               CAST(COALESCE(c3.n, 0) AS BIGINT) AS n_final,
               CAST(COALESCE(c3.n, 0) AS DOUBLE) / r.n_raw AS final_share
        FROM raw r
        LEFT JOIN c1 ON c1.source = r.source
        LEFT JOIN c2 ON c2.source = r.source
        LEFT JOIN c3 ON c3.source = r.source
    """


QUERIES["corpus_curation_pipeline"] = corpus_curation_pipeline
ORACLE["corpus_curation_pipeline"] = _corpus_curation_pipeline_sql()


# ---------------------------------------------------------------------------
# curation_funnel_v2 — the funnel above, recomposed from the round-6/7
# gates that postdate it (VERDICT r8 #6): exact dedup (md5 keeper) ->
# char_entropy_gate (garbage text) -> gopher_gates (heuristic rules) ->
# quality_classifier_score (model threshold), then Lee-et-al. span
# excision converts the surviving DOC counts into the corpus's actual
# TOKEN budget — the number a pretraining run provisions against. The
# reference's purchase-funnel analytics (README.md:35-37 of
# /root/reference) are the same stage-retention shape over sessions;
# this is the document-corpus analogue, composed from already-verified
# operators joined on doc_id.
#
# Scale posture: inherits each stage's posture (hash-aggregate dedup,
# per-row gates, fingerprint-joined span excision); survivor sets are
# narrow (doc_id, source) pins feeding the next stage + their rollup;
# the report aggregates to |sources| rows. Determinism: every gate bit
# is already engine-exact; token sums are integers; the two shares are
# single BIGINT/BIGINT divisions in DOUBLE.
# ---------------------------------------------------------------------------


# scan-audit: one documents scan by design (round-12): every per-row gate
# (gopher, classifier, entropy) is inlined into the spine projection; only
# span excision reads its own (narrow, materialized) span-index parquet
def curation_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from google_cloud_ecommerce_spark.operators._common import spark_double_array
    from google_cloud_ecommerce_spark.operators.dedup import dedup_span_excision
    from google_cloud_ecommerce_spark.operators.text import (
        QC_BIAS,
        QC_DIM,
        QC_WEIGHTS,
        char_entropy_gate,
    )

    # Round-12 shape (guide §2.4 "remove shuffles/passes outright",
    # VERDICT r11 #6): the round-11 funnel composed the gate OPERATORS,
    # so the corpus was scanned six times (spine, md5-keeper aggregate,
    # entropy's freq subtree twice, gopher, classifier). The per-row
    # gates (gopher, classifier) now ride the spine scan as row-local
    # expressions — bit-identical to the standalone operators (same
    # token expressions, same thresholds) — and the md5-keeper join
    # collapses into a min() window over the md5 key (narrow rows: text
    # is projected away before that exchange, guide §2.3). The entropy
    # gate deliberately KEEPS its explode+hash-aggregate subtree: a
    # row-local rewrite (count per distinct char via filter() folds) was
    # measured 2.5x SLOWER at sf0.1 — higher-order-function lambdas are
    # interpreted, while the explode aggregate is whole-stage-codegen'd
    # (guide §1.1: the "ideal" one-pass plan lost to the gotcha, so the
    # empirical loop wins). Net: 6 corpus passes -> 3. The oracle SQL is
    # UNCHANGED (still composes the gate oracles); parity re-proven at
    # sf0.001/0.01/0.1.
    w_arr = spark_double_array(QC_WEIGHTS)
    qc_fold = (
        f"aggregate(toks, CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + element_at({w_arr}, "
        f"CAST(({token_hash_expr('t')}) % {QC_DIM} AS INT) + 1))"
    )
    ent = char_entropy_gate(spark, sf_dir).filter("passes").select(
        "doc_id", F.lit(1).alias("f_ent")
    )
    spine = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumns(
            {
                "h": F.md5("text"),
                "toks": F.expr(tokens_expr("lower(text)")),
            }
        )
        .withColumns({n: F.expr(e) for n, e in gopher_counts().items()})
        .withColumns(
            {
                "f_gop": F.expr(f"IF({gopher_keep()}, 1, 0)"),
                "f_qc": F.when(
                    (F.col("n_words") >= 1)
                    & (
                        (F.lit(QC_BIAS) + F.expr(qc_fold) / F.col("n_words"))
                        >= F.lit(0.0)
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            }
        )
        # project text/arrays away BEFORE the keeper window's exchange —
        # only narrow flag rows shuffle (guide §2.3)
        .select(
            "doc_id", "source", "h", F.col("n_words").alias("n_tokens"), "f_gop", "f_qc"
        )
    )
    keep_w = Window.partitionBy("h")
    spine = spine.withColumn(
        "f_keep",
        (F.col("doc_id") == F.min("doc_id").over(keep_w)).cast("int"),
    ).drop("h")
    # docs shorter than SPAN_K tokens have no excisable span and keep
    # their full budget — the left join's coalesce, not a special case
    exc = dedup_span_excision(spark, sf_dir).select("doc_id", "n_retained")
    flags = spine.join(ent, "doc_id", "left").join(exc, "doc_id", "left")
    lvl1 = F.col("f_keep")
    lvl2 = lvl1 * F.coalesce("f_ent", F.lit(0))
    lvl3 = lvl2 * F.col("f_gop")
    lvl4 = lvl3 * F.col("f_qc")
    survives = lvl4 == 1
    return flags.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(lvl1).cast("long").alias("n_exact_unique"),
        F.sum(lvl2).cast("long").alias("n_entropy"),
        F.sum(lvl3).cast("long").alias("n_gopher"),
        F.sum(lvl4).cast("long").alias("n_classifier"),
        F.coalesce(F.sum(F.when(survives, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("tokens_in"),
        F.coalesce(
            F.sum(
                F.when(
                    survives, F.coalesce("n_retained", F.col("n_tokens"))
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("tokens_retained"),
    ).select(
        "*",
        (F.col("n_classifier").cast("double") / F.col("n_raw")).alias("doc_share"),
        F.expr(
            "CASE WHEN tokens_in > 0 THEN "
            "CAST(tokens_retained AS DOUBLE) / tokens_in "
            "ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("token_retention"),
    )


def _curation_funnel_v2_sql() -> str:
    from google_cloud_ecommerce_spark.operators.dedup import _dedup_span_excision_sql
    from google_cloud_ecommerce_spark.operators.text import (
        _char_entropy_gate_sql,
        _gopher_gates_sql,
        _quality_classifier_sql,
    )

    return f"""
        WITH raw AS (
            SELECT source, count(*) AS n_raw FROM documents GROUP BY 1
        ), keep1 AS (
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), s1 AS (
            SELECT d.doc_id, d.source
            FROM documents d JOIN keep1 k ON k.doc_id = d.doc_id
        ), ent AS (
            SELECT doc_id FROM ({_char_entropy_gate_sql()}) e WHERE passes
        ), s2 AS (
            SELECT s1.doc_id, s1.source FROM s1 JOIN ent USING (doc_id)
        ), gat AS (
            SELECT doc_id FROM ({_gopher_gates_sql()}) g WHERE keep = 1
        ), s3 AS (
            SELECT s2.doc_id, s2.source FROM s2 JOIN gat USING (doc_id)
        ), qc AS (
            SELECT doc_id, n_tokens FROM ({_quality_classifier_sql()}) q
            WHERE is_kept = 1
        ), s4 AS (
            SELECT s3.doc_id, s3.source, qc.n_tokens
            FROM s3 JOIN qc USING (doc_id)
        ), exc AS (
            SELECT doc_id, n_retained FROM ({_dedup_span_excision_sql()}) x
        ), tok AS (
            SELECT s4.source, s4.n_tokens,
                   COALESCE(x.n_retained, s4.n_tokens) AS kept_tokens
            FROM s4 LEFT JOIN exc x USING (doc_id)
        ), c1 AS (SELECT source, count(*) AS n FROM s1 GROUP BY 1),
        c2 AS (SELECT source, count(*) AS n FROM s2 GROUP BY 1),
        c3 AS (SELECT source, count(*) AS n FROM s3 GROUP BY 1),
        c4 AS (
            SELECT source, count(*) AS n,
                   CAST(SUM(n_tokens) AS BIGINT) AS t_in,
                   CAST(SUM(kept_tokens) AS BIGINT) AS t_kept
            FROM tok GROUP BY 1
        )
        SELECT r.source, r.n_raw,
               CAST(COALESCE(c1.n, 0) AS BIGINT) AS n_exact_unique,
               CAST(COALESCE(c2.n, 0) AS BIGINT) AS n_entropy,
               CAST(COALESCE(c3.n, 0) AS BIGINT) AS n_gopher,
               CAST(COALESCE(c4.n, 0) AS BIGINT) AS n_classifier,
               CAST(COALESCE(c4.t_in, 0) AS BIGINT) AS tokens_in,
               CAST(COALESCE(c4.t_kept, 0) AS BIGINT) AS tokens_retained,
               CAST(COALESCE(c4.n, 0) AS DOUBLE) / r.n_raw AS doc_share,
               CASE WHEN COALESCE(c4.t_in, 0) > 0 THEN
                   CAST(COALESCE(c4.t_kept, 0) AS DOUBLE) / COALESCE(c4.t_in, 0)
               ELSE CAST(0.0 AS DOUBLE) END AS token_retention
        FROM raw r
        LEFT JOIN c1 ON c1.source = r.source
        LEFT JOIN c2 ON c2.source = r.source
        LEFT JOIN c3 ON c3.source = r.source
        LEFT JOIN c4 ON c4.source = r.source
    """


QUERIES["curation_funnel_v2"] = curation_funnel_v2
ORACLE["curation_funnel_v2"] = _curation_funnel_v2_sql()


# ---------------------------------------------------------------------------
# span_corruption_masks — T5-style span-corruption ACCOUNTING: which
# token positions a denoising objective would mask, decided by pure
# hash arithmetic so any engine (and any rerun) masks the same spans.
# Tokens partition into fixed blocks of SPAN_BLOCK; each block masks
# one span whose start/length derive from md5(doc_id:block). The
# output is the per-document audit a data pipeline needs before
# packing denoising examples: token count, blocks, masked count,
# masked ratio. Pure per-row integer math — no shuffle, no Python.
# ---------------------------------------------------------------------------

SPAN_BLOCK = 20  # tokens per corruption block
SPAN_START_MOD = 17  # span start in [0, 17)
SPAN_LEN_MOD = 3  # span length in [1, 3]


def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = token_hash_expr("concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))")
    per_block = (
        f"transform(sequence(0, CAST((n_tokens - 1) DIV {SPAN_BLOCK} AS INT)), b -> "
        f"greatest(0L, least(({h}) % {SPAN_START_MOD} + 1 + (({h}) DIV {SPAN_START_MOD}) % {SPAN_LEN_MOD}, "
        f"least(CAST({SPAN_BLOCK} AS BIGINT), n_tokens - CAST(b AS BIGINT) * {SPAN_BLOCK})) "
        f"- ({h}) % {SPAN_START_MOD}))"
    )
    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens", F.expr(f"CAST(size({tokens_expr('lower(text)')}) AS BIGINT)")
    )
    return (
        docs.filter(F.col("n_tokens") >= 1)
        .withColumn(
            "n_masked",
            F.expr(
                f"aggregate({per_block}, 0L, (acc, x) -> acc + x)"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"(n_tokens - 1) DIV {SPAN_BLOCK} + 1").alias("n_blocks"),
            "n_masked",
            F.round(F.col("n_masked") / F.col("n_tokens"), 6).alias("mask_ratio"),
        )
    )


def _span_corruption_sql() -> str:
    h = token_hash_sql("(doc_id::VARCHAR || ':' || b::VARCHAR)")
    per_block = (
        f"list_transform(range(0, (n_tokens - 1) // {SPAN_BLOCK} + 1), b -> "
        f"greatest(0, least(({h}) % {SPAN_START_MOD} + 1 + (({h}) // {SPAN_START_MOD}) % {SPAN_LEN_MOD}, "
        f"least({SPAN_BLOCK}, n_tokens - b * {SPAN_BLOCK})) "
        f"- ({h}) % {SPAN_START_MOD}))"
    )
    return f"""
        WITH t AS (
            SELECT doc_id, CAST(len({tokens_sql('lower(text)')}) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST((n_tokens - 1) // {SPAN_BLOCK} + 1 AS BIGINT) AS n_blocks,
               CAST(list_sum({per_block}) AS BIGINT) AS n_masked,
               ROUND(CAST(list_sum({per_block}) AS DOUBLE) / n_tokens, 6) AS mask_ratio
        FROM t WHERE n_tokens >= 1
    """


QUERIES["span_corruption_masks"] = span_corruption_masks
ORACLE["span_corruption_masks"] = _span_corruption_sql()


# ---------------------------------------------------------------------------
# importance_sampling_weights — static mixture reweighting: given a
# TARGET language mixture (domain weights — the DoReMi/data-mixing
# knob, fixed literals here as a trained artifact would be), compute
# per-language sampling weights that reshape the corpus's actual
# mixture into the target. weight = target_share / actual_share; a
# sampler then keeps each doc with probability proportional to its
# language's weight. One map-side aggregate + a 1-row broadcast —
# the corpus itself never shuffles.
# ---------------------------------------------------------------------------

TARGET_MIX = {"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}


def importance_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in TARGET_MIX.items()],
        F.lit(0.0),
    )
    per_lang = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )
    total = per_lang.agg(F.sum("n_docs").alias("total_docs"))
    return (
        per_lang.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "n_chars",
            (F.col("n_docs") / F.col("total_docs")).alias("actual_share"),
            target.alias("target_share"),
            F.round(
                target * F.col("total_docs") / F.col("n_docs"), 6
            ).alias("weight"),
        )
    )


IMPORTANCE_SAMPLING_SQL = f"""
    WITH per_lang AS (
        SELECT lang, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
    ), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM per_lang)
    SELECT lang, n_docs, n_chars,
           CAST(n_docs AS DOUBLE) / total_docs AS actual_share,
           CAST(CASE {' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in TARGET_MIX.items())}
                ELSE 0.0 END AS DOUBLE) AS target_share,
           ROUND(CAST(CASE {' '.join(f"WHEN lang = '{k}' THEN {v}" for k, v in TARGET_MIX.items())}
                      ELSE 0.0 END AS DOUBLE) * total_docs / n_docs, 6) AS weight
    FROM per_lang CROSS JOIN t
"""


QUERIES["importance_sampling_weights"] = importance_sampling_weights
ORACLE["importance_sampling_weights"] = IMPORTANCE_SAMPLING_SQL


# ---------------------------------------------------------------------------
# epoch_shuffle_shards — the deterministic training-epoch shuffle. A
# data loader needs, per epoch, a DIFFERENT pseudo-random permutation
# of the corpus split into fixed shards, reproducible from (seed,
# epoch, doc_id) alone so any worker can recompute its shard without
# coordination. Shard = 60-bit md5 position hash mod N_SHARDS; the
# within-shard read order is the hash order itself. Output is the
# per-(epoch, shard) manifest a loader consumes: doc count, char
# budget, and the position-hash range.
#
# Scale shape: a generator cross of the corpus with a 3-element epoch
# literal (map-side, no shuffle), then ONE hash aggregate on (epoch,
# shard) — cardinality N_EPOCHS x N_SHARDS. No global sort anywhere:
# the "shuffle" is the hash itself. 100 TB posture: shard count rises
# with the fleet, the plan is unchanged, and the manifest stays tiny.
# ---------------------------------------------------------------------------

N_EPOCHS = 3
N_SHARDS = 8
EPOCH_SALT = "ep:"


def _epoch_pos_expr() -> str:
    return (
        f"CAST(conv(substr(md5(concat('{EPOCH_SALT}', CAST(epoch AS STRING), ':', "
        f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )


def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    expanded = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr(f"sequence(0, {N_EPOCHS - 1})")).alias("epoch"),
    ).withColumn("pos", F.expr(_epoch_pos_expr()))
    return (
        expanded.groupBy(
            F.col("epoch").cast("long").alias("epoch"),
            F.pmod(F.col("pos"), F.lit(N_SHARDS)).cast("long").alias("shard"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
    )


def _epoch_shuffle_sql() -> str:
    pos = (
        f"(('0x' || substr(md5('{EPOCH_SALT}' || CAST(epoch AS VARCHAR) || ':' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)"
    )
    return f"""
        WITH x AS (
            SELECT doc_id, n_chars, CAST(e.epoch AS BIGINT) AS epoch,
                   {pos} AS pos
            FROM documents CROSS JOIN (SELECT unnest(range(0, {N_EPOCHS})) AS epoch) e
        )
        SELECT epoch, pos % {N_SHARDS} AS shard,
               count(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               MIN(pos) AS first_pos,
               MAX(pos) AS last_pos
        FROM x GROUP BY 1, 2
    """


QUERIES["epoch_shuffle_shards"] = epoch_shuffle_shards
ORACLE["epoch_shuffle_shards"] = _epoch_shuffle_sql()


# ---------------------------------------------------------------------------
# packing_capacity_sweep — the max_seq_len selection curve: packing
# efficiency (bins, fill ratio, oversize docs) at a grid of capacities
# from ONE prefix-sum pass. The companion to dedup_threshold_sweep:
# curators pick the sequence length from exactly this trade-off (small
# capacities waste long docs to overflow, large ones waste slots to
# padding), and deriving every capacity from the same per-lang running
# total costs one window instead of one packing run per capacity.
#
# Scale shape: the prefix sum is the sequence_packing window
# (partitioned by lang — parallel, never global); the 4-row capacity
# grid joins via broadcast, and everything after is two hash
# aggregates. fill_ratio is an IEEE division of exact BIGINTs, shipped
# unrounded.
# ---------------------------------------------------------------------------

CAPACITY_GRID = (64, 128, 256, 512)


def packing_capacity_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "doc_id",
        F.expr(f"size({tokens_expr('text')})").cast("long").alias("tok"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("tok").over(w))
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in CAPACITY_GRID])
        ).alias("capacity")
    )
    x = cum.join(F.broadcast(grid)).withColumn(
        "bin_id", F.expr("(cum - tok) DIV capacity")
    )
    agg = x.groupBy("capacity").agg(
        F.countDistinct("lang", "bin_id").cast("long").alias("n_bins"),
        F.sum("tok").cast("long").alias("total_tokens"),
        F.count(F.when(F.col("tok") > F.col("capacity"), F.lit(1)))
        .cast("long")
        .alias("n_overflow_docs"),
    )
    return agg.select(
        "capacity",
        "n_bins",
        "total_tokens",
        (F.col("total_tokens") / (F.col("n_bins") * F.col("capacity"))).alias(
            "fill_ratio"
        ),
        "n_overflow_docs",
    )


def _packing_capacity_sweep_sql() -> str:
    grid = ", ".join(f"({c})" for c in CAPACITY_GRID)
    return f"""
        WITH t AS (
            SELECT lang, doc_id,
                   CAST(len({tokens_sql('text')}) AS BIGINT) AS tok
            FROM documents
        ), c AS (
            SELECT lang, doc_id, tok,
                   CAST(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS cum
            FROM t
        ), g(capacity) AS (
            VALUES {grid}
        ), x AS (
            SELECT CAST(g.capacity AS BIGINT) AS capacity, c.lang, c.tok,
                   CAST((c.cum - c.tok) // g.capacity AS BIGINT) AS bin_id
            FROM c CROSS JOIN g
        ), a AS (
            SELECT capacity,
                   CAST(count(DISTINCT (lang, bin_id)) AS BIGINT) AS n_bins,
                   CAST(sum(tok) AS BIGINT) AS total_tokens,
                   CAST(count(CASE WHEN tok > capacity THEN 1 END) AS BIGINT)
                       AS n_overflow_docs
            FROM x GROUP BY 1
        )
        SELECT capacity, n_bins, total_tokens,
               total_tokens / (n_bins * capacity) AS fill_ratio,
               n_overflow_docs
        FROM a
    """


QUERIES["packing_capacity_sweep"] = packing_capacity_sweep
ORACLE["packing_capacity_sweep"] = _packing_capacity_sweep_sql()


# ---------------------------------------------------------------------------
# eval_split_leakage — train→eval leakage guard: for every held-out
# (val/test) document of the md5-bucket split, how many of its distinct
# word 3-grams also appear anywhere in the train split. contamination_
# check quarantines train docs against an EXTERNAL benchmark; this is
# the INTERNAL guard a pipeline runs after splitting, so near-copies
# that straddled the split boundary can't inflate eval scores.
#
# Scale shape: both sides are data-sized, so this is a shuffled
# equi-join — never a broadcast. Grams are md5-hashed to 31-bit ints
# BEFORE the shuffle (fixed-width keys, the ngram_novelty discipline;
# collisions are deterministic and identical in both engines); the
# train side deduplicates to its distinct gram set first, and the
# probe is a LEFT SEMI join, so nothing materializes the cross of
# eval grams x train docs.
# ---------------------------------------------------------------------------


# scan-audit: train and eval splits are distinct corpus roles by design
# (leakage joins them); each scan carries its pushed split filter
def eval_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.expr(_split_expr_spark()).alias("split"),
        F.expr(tokens_expr("lower(text)")).alias("toks"),
    )
    sh = (
        toks.filter(F.expr(f"size(toks) >= {SHINGLE_K}"))
        .select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(F.expr(ngrams_expr("toks", SHINGLE_K)))).alias(
                "shingle"
            ),
        )
        .select("doc_id", "split", F.expr(token_hash_expr("shingle")).alias("gh"))
    )
    train_set = sh.filter(F.col("split") == "train").select("gh").distinct()
    ev = sh.filter(F.col("split") != "train")
    totals = ev.groupBy("doc_id", "split").agg(
        F.count("*").cast("long").alias("n_shingles")
    )
    leaked = (
        ev.join(train_set, "gh", "left_semi")
        .groupBy("doc_id", "split")
        .agg(F.count("*").cast("long").alias("n_leaked"))
    )
    return totals.join(leaked, ["doc_id", "split"], "left").select(
        "doc_id",
        "split",
        "n_shingles",
        F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long").alias("n_leaked"),
        (
            F.coalesce(F.col("n_leaked"), F.lit(0)).cast("double")
            / F.col("n_shingles")
        ).alias("leak_frac"),
    )


def _eval_split_leakage_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {_split_expr_sql()} AS split,
                   {tokens_sql('lower(text)')} AS toks
            FROM documents
        ), sh AS (
            SELECT doc_id, split, {token_hash_sql('shingle')} AS gh
            FROM (
                SELECT doc_id, split,
                       unnest(list_distinct({_shingle_sql()})) AS shingle
                FROM toks WHERE len(toks) >= {SHINGLE_K}
            )
        ), train_set AS (
            SELECT DISTINCT gh FROM sh WHERE split = 'train'
        ), ev AS (
            SELECT * FROM sh WHERE split != 'train'
        ), totals AS (
            SELECT doc_id, split, count(*) AS n_shingles
            FROM ev GROUP BY 1, 2
        ), leaked AS (
            SELECT doc_id, split, count(*) AS n_leaked
            FROM ev WHERE gh IN (SELECT gh FROM train_set)
            GROUP BY 1, 2
        )
        SELECT t.doc_id, t.split, t.n_shingles,
               CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
               CAST(COALESCE(l.n_leaked, 0) AS DOUBLE) / t.n_shingles
                   AS leak_frac
        FROM totals t LEFT JOIN leaked l USING (doc_id, split)
    """


QUERIES["eval_split_leakage"] = eval_split_leakage
ORACLE["eval_split_leakage"] = _eval_split_leakage_sql()


# ---------------------------------------------------------------------------
# jsonl_roundtrip — the corpus-interchange identity: serialize each
# document's metadata record to a JSON line (to_json over a struct —
# the JSONL format every LLM-data pipeline ships corpora in) and parse
# it back with an explicit schema (from_json; a malformed line yields
# a NULL struct, Spark's standard corrupt-record semantics). The
# csv_roundtrip twin for the JSON wire format, JVM-side end to end —
# no Python worker touches the serialization path.
#
# The raw text column deliberately stays OUT of the payload: JSON
# string escaping of arbitrary text (unicode \\uXXXX forms) is the one
# place serializers legitimately differ across engines, so the
# roundtrip pins the typed-field path both engines spell identically.
# n_json_bytes is part of the contract (both serializers emit the
# compact no-spaces form, so the line length itself is checkable).
# ---------------------------------------------------------------------------

_JSONL_SCHEMA = "doc_id bigint, lang string, source string, n_chars bigint"


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    lines = docs.select(
        F.to_json(F.struct("doc_id", "lang", "source", "n_chars")).alias("line")
    )
    parsed = lines.select(
        F.length("line").cast("long").alias("n_json_bytes"),
        F.from_json("line", _JSONL_SCHEMA).alias("r"),
    )
    return parsed.select(
        F.col("r.doc_id").alias("doc_id"),
        F.col("r.lang").alias("lang"),
        F.col("r.source").alias("source"),
        F.col("r.n_chars").alias("n_chars"),
        "n_json_bytes",
    )


JSONL_ROUNDTRIP_SQL = """
    SELECT doc_id, lang, source, n_chars,
           CAST(length(to_json(struct_pack(
               doc_id := doc_id, lang := lang,
               source := source, n_chars := n_chars))::VARCHAR)
               AS BIGINT) AS n_json_bytes
    FROM documents
"""


QUERIES["jsonl_roundtrip"] = jsonl_roundtrip
ORACLE["jsonl_roundtrip"] = JSONL_ROUNDTRIP_SQL


# ---------------------------------------------------------------------------
# length_bucket_batches — length-sorted batching (the "sort by length
# to minimize padding" loader trick): documents are globally ordered
# by token count (doc_id tie-break), dealt into fixed-size batches in
# that order, and each batch reports its padding waste — the tokens a
# fixed-shape (batch_size x max_len) tensor would burn on pad ids.
# Against random batching the waste collapses because near-equal
# lengths land in the same batch; the per-batch report IS the evidence.
#
# Scale shape: the global order comes from range_partition_rank
# (repartitionByRange + per-partition ids + prefix offsets collected
# from the per-partition counts — operators/ranking.py), never an
# unpartitioned window; the batch id is closed-form rank arithmetic
# and the report is one hash aggregate on batch_id. The oracle expresses the same thing with the window form
# (oracles don't need the scale posture, they need the same values).
# ---------------------------------------------------------------------------

LB_BATCH_SIZE = 16


def length_bucket_batches(
    spark: SparkSession,
    sf_dir: str,
    *,
    batch_size: int = LB_BATCH_SIZE,
) -> DataFrame:
    from google_cloud_ecommerce_spark.operators.ranking import range_partition_rank

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("n_tokens"),
    )
    ranked = range_partition_rank(docs, ["n_tokens", "doc_id"], out_col="r")
    b = int(batch_size)
    return (
        ranked.withColumn("batch_id", F.expr(f"CAST(r DIV {b} AS BIGINT)"))
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .withColumn(
            "padding_waste",
            (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens")).cast("long"),
        )
    )


def _length_bucket_batches_sql() -> str:
    return f"""
        WITH dt AS (
            SELECT doc_id, CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tokens
            FROM documents
        ), ranked AS (
            SELECT n_tokens,
                   (row_number() OVER (ORDER BY n_tokens, doc_id) - 1)
                       // {LB_BATCH_SIZE} AS batch_id
            FROM dt
        )
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               count(*) AS n_docs,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(count(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
                   AS padding_waste
        FROM ranked GROUP BY 1
    """


QUERIES["length_bucket_batches"] = length_bucket_batches
ORACLE["length_bucket_batches"] = _length_bucket_batches_sql()


# ---------------------------------------------------------------------------
# orc_roundtrip — the columnar-interchange identity for the ORC
# format (Spark's second first-class columnar container after
# parquet): write the documents table to ORC, read it back, and
# aggregate a content checksum per (lang, source). The checksum —
# a sum of the shared md5-derived 31-bit text hashes — proves every
# row and the text payload survived the container byte-for-byte; the
# oracle computes the identical aggregate over the ORIGINAL parquet,
# so any loss or corruption in the ORC path is a parity failure.
#
# Scale shape: the write is a plain partitioned sink and the read a
# plain partitioned scan; the only shuffle is the final tiny hash
# aggregate on (lang, source).
# ---------------------------------------------------------------------------


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    docs = _docs(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="spark_graft_orc_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.expr(token_hash_expr("text"))).cast("long").alias("text_checksum"),
    )


ORC_ROUNDTRIP_SQL = f"""
    SELECT lang, source, count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({token_hash_sql('text')}) AS BIGINT) AS text_checksum
    FROM documents GROUP BY 1, 2
"""


QUERIES["orc_roundtrip"] = orc_roundtrip
ORACLE["orc_roundtrip"] = ORC_ROUNDTRIP_SQL


# ---------------------------------------------------------------------------
# temperature_mixture_weights — temperature-scaled language sampling
# (the mT5 / XLM-R mixing rule): p_lang ∝ share^(1/T), which lifts
# low-resource languages without letting them dominate. T is fixed at
# 2 so the fractional power is sqrt — IEEE-exact in both engines,
# dodging the libm pow() last-ulp hazard entirely. The boost column
# (weight / raw share) is the per-language oversampling factor a
# training loader applies.
#
# Scale shape: one map-side count aggregate to |langs| rows; the
# normalizing sum folds over the langs sorted by name (array fold —
# never a partition-order double sum); everything else is per-row
# arithmetic on the tiny aggregate.
# ---------------------------------------------------------------------------


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _docs(spark, sf_dir).groupBy("lang").agg(F.count("*").alias("n_docs"))
    packed = counts.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, n_docs))), "
            "named_struct('total', CAST(0 AS BIGINT), 'ssum', CAST(0.0 AS DOUBLE)), "
            "(acc, s) -> named_struct("
            "'total', acc.total + s.n_docs, "
            "'ssum', acc.ssum + sqrt(CAST(s.n_docs AS DOUBLE))))"
        ).alias("t")
    ).select(F.col("t.total").alias("total"), F.col("t.ssum").alias("ssum"))
    return counts.join(F.broadcast(packed)).select(
        "lang",
        "n_docs",
        F.expr("round(CAST(n_docs AS DOUBLE) / total, 6)").alias("raw_share"),
        F.expr("round(sqrt(CAST(n_docs AS DOUBLE)) / ssum, 6)").alias("temp_weight"),
        F.expr(
            "round((sqrt(CAST(n_docs AS DOUBLE)) / ssum) "
            "/ (CAST(n_docs AS DOUBLE) / total), 4)"
        ).alias("boost"),
    )


TEMPERATURE_MIXTURE_SQL = """
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
    ), packed AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang),
                                  x -> x)),
                   (acc, x) -> acc + x) AS ssum
        FROM counts
    )
    SELECT lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) / total, 6) AS raw_share,
           ROUND(sqrt(CAST(n_docs AS DOUBLE)) / ssum, 6) AS temp_weight,
           ROUND((sqrt(CAST(n_docs AS DOUBLE)) / ssum)
                 / (CAST(n_docs AS DOUBLE) / total), 4) AS boost
    FROM counts CROSS JOIN packed
"""


QUERIES["temperature_mixture_weights"] = temperature_mixture_weights
ORACLE["temperature_mixture_weights"] = TEMPERATURE_MIXTURE_SQL


# ---------------------------------------------------------------------------
# mlm_masking_spec — the deterministic BERT-style corruption SPEC
# (Devlin et al. 2018 §3.1): select ~15% of token positions per
# document, and split the selected positions 80/10/10 into
# [MASK]-token / random-replacement / keep-original. Real masking is
# an RNG draw at data-loading time; at corpus-prep time what a
# pipeline materializes (and audits) is the deterministic position
# spec — here keyed on the md5-derived hash of (doc_id, position), so
# the same corpus shape always yields the same mask plan in every
# engine and every rerun (the reproducibility property an ablation
# needs; real pipelines likewise seed per (doc, position), not per
# token content). Per doc: token count, selected count, the 80/10/10
# split counts, and the realized mask rate (exact integer division).
#
# Scale shape: ONE scan, one explode, one per-doc aggregate — no
# joins, no windows. ONE hash per position: the selection reads
# h % 100 and the action reads (h div 100) % 10 — disjoint digit
# ranges of the 31-bit uniform hash are independent (truncation bias
# ~1e-6), where h % 100 and h % 10 would correlate through the last
# digit. (Round-7 A/B: the first cut hashed twice per position with
# the token in the key — 1.08 s at sf0.1; this shape halves the md5
# work and shrinks the key, 0.48 s min-of-3, identical statistics.)
# ---------------------------------------------------------------------------

MLM_MASK_PCT = 15  # fraction of positions selected, in percent


def mlm_masking_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    pos_key = "concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))"
    per_pos = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(tokens_expr("lower(text)")).alias("toks"))
        .filter(F.expr("size(toks) >= 1"))
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, size(toks))")).alias("pos"),
        )
        .select(
            "doc_id",
            F.expr(f"{token_hash_expr(pos_key)}").alias("h"),
        )
        .select(
            "doc_id",
            F.expr(f"h % 100 < {MLM_MASK_PCT}").alias("sel"),
            F.expr("(h div 100) % 10").alias("act"),
        )
    )
    return per_pos.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("sel").cast("long")).alias("n_selected"),
        F.sum((F.col("sel") & (F.col("act") >= 2)).cast("long")).alias("n_mask_token"),
        F.sum((F.col("sel") & (F.col("act") == 0)).cast("long")).alias("n_random"),
        F.sum((F.col("sel") & (F.col("act") == 1)).cast("long")).alias("n_keep"),
        (
            F.sum(F.col("sel").cast("long")).cast("double") / F.count("*")
        ).alias("mask_rate"),
    )


MLM_MASKING_SPEC_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
    ), per_pos AS (
        SELECT doc_id,
               unnest(range(1, len(toks) + 1)) AS pos
        FROM toks WHERE len(toks) >= 1
    ), hashed AS (
        SELECT doc_id,
               {token_hash_sql("(doc_id || ':' || pos)")} AS h
        FROM per_pos
    ), keyed AS (
        SELECT doc_id,
               h % 100 < {MLM_MASK_PCT} AS sel,
               (h // 100) % 10 AS act
        FROM hashed
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN sel AND act >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mask_token,
           CAST(SUM(CASE WHEN sel AND act = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_random,
           CAST(SUM(CASE WHEN sel AND act = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
               AS mask_rate
    FROM keyed GROUP BY 1
"""

QUERIES["mlm_masking_spec"] = mlm_masking_spec
ORACLE["mlm_masking_spec"] = MLM_MASKING_SPEC_SQL


# ---------------------------------------------------------------------------
# weighted_sample_topk — Efraimidis–Spirakis (A-ES) weighted sampling
# without replacement, the one-pass distributed way to draw a
# quality/length-weighted corpus subsample: every row gets key
# u^(1/w) for uniform u and weight w, and the global top-k by key IS
# an exact weighted sample without replacement (Efraimidis &
# Spirakis, IPL 2006). Ranking by ln(u)/w is order-equivalent and
# numerically tamer; u derives from a salted md5 so the draw is
# deterministic and engine-reproducible. The ln is rounded once to 9
# decimals (repo libm policy) so the top-k row SET is cross-engine
# stable; the division by the integer weight afterwards is IEEE-exact
# in both engines. Scale shape: orderBy(...).limit(k) plans
# TakeOrderedAndProject — per-partition top-k then a k-row merge at
# the driver, no corpus shuffle, no window.
# ---------------------------------------------------------------------------

WEIGHTED_SAMPLE_SALT = "aes-v1:"
WEIGHTED_SAMPLE_K = 200
_TWO_60_PLUS_1 = (1 << 60) + 1  # md5 prefix is 15 hex chars = 60 bits


def _aes_key_expr() -> str:
    """The A-ES sampling key round(ln(u), 9) / n_chars — Spark side.
    ONE definition shared by the global and stratified draws: the
    salted-md5 uniform, the +1 / (2^60 + 1) mapping, and the
    load-bearing single ln rounding are cross-engine-critical and must
    never diverge between the two operators' Spark/oracle pairs."""
    h = (
        f"CAST(conv(substr(md5(concat('{WEIGHTED_SAMPLE_SALT}', "
        f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    u = f"(CAST({h} + 1 AS DOUBLE) / CAST({_TWO_60_PLUS_1} AS DOUBLE))"
    return f"(round(ln({u}), 9) / CAST(n_chars AS DOUBLE))"


def _aes_key_sql() -> str:
    """DuckDB twin of _aes_key_expr."""
    return (
        f"round(ln(CAST(('0x' || substr(md5('{WEIGHTED_SAMPLE_SALT}' || "
        f"CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1 AS DOUBLE) "
        f"/ CAST({_TWO_60_PLUS_1} AS DOUBLE)), 9) "
        f"/ CAST(n_chars AS DOUBLE)"
    )


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    return (
        docs.withColumn("sample_key", F.expr(_aes_key_expr()))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", F.col("n_chars").alias("weight"), "sample_key")
    )


WEIGHTED_SAMPLE_TOPK_SQL = f"""
    WITH keyed AS (
        SELECT doc_id, n_chars AS weight,
               {_aes_key_sql()} AS sample_key
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, sample_key
    FROM keyed
    ORDER BY sample_key DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
"""

QUERIES["weighted_sample_topk"] = weighted_sample_topk
ORACLE["weighted_sample_topk"] = WEIGHTED_SAMPLE_TOPK_SQL


# ---------------------------------------------------------------------------
# stratified_sample_topk — the grouped twin of weighted_sample_topk:
# an exact A-ES weighted sample without replacement PER SOURCE (the
# draw a mixture-controlled pretraining pipeline actually runs — fix
# the per-source document budget, sample within each stratum by
# quality/length weight). Same deterministic salted-md5 key, same
# single ln rounding; the per-group cutoff is a window PARTITIONED on
# source, which Spark executes with a WindowGroupLimit map-side
# pre-prune — at most k rows per partition per source reach the
# shuffle, so the shuffle volume is |sources| * k, not the corpus.
# ---------------------------------------------------------------------------

STRATIFIED_SAMPLE_K = 50


def stratified_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("sample_key"), F.asc("doc_id")
    )
    return (
        docs.withColumn("sample_key", F.expr(_aes_key_expr()))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= STRATIFIED_SAMPLE_K)
        .select(
            "source", "doc_id", F.col("n_chars").alias("weight"),
            "sample_key", "rk",
        )
    )


STRATIFIED_SAMPLE_TOPK_SQL = f"""
    WITH keyed AS (
        SELECT source, doc_id, n_chars AS weight,
               {_aes_key_sql()} AS sample_key
        FROM documents WHERE n_chars > 0
    )
    SELECT source, doc_id, weight, sample_key,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY sample_key DESC, doc_id)
                AS BIGINT) AS rk
    FROM keyed
    QUALIFY rk <= {STRATIFIED_SAMPLE_K}
"""

QUERIES["stratified_sample_topk"] = stratified_sample_topk
ORACLE["stratified_sample_topk"] = STRATIFIED_SAMPLE_TOPK_SQL


# ---------------------------------------------------------------------------
# schema_evolution_read — the lakehouse schema-evolution contract:
# two parquet batches written with DIFFERENT column sets (an old
# producer and a new one sharing only the key) must read back as one
# frame under mergeSchema with each batch's missing columns
# null-filled — the capability every long-lived 100 TB table leans on
# when producers upgrade (reference analog: the session schema grew
# product attributes between the batch and stream pipelines,
# write_session_batch.py:25 vs write_session_stream.py). The report
# aggregates the merged read (row/non-null/checksum counts), so the
# DuckDB oracle can verify the union-with-nulls semantics directly
# from the base table.
# ---------------------------------------------------------------------------


_EVO_DIRS: dict[str, str] = {}


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    # one scratch dir per sf_dir per process (mode=overwrite makes
    # repeat invocations — bench warmup + min-of-N + parity — rewrite
    # in place instead of leaking a fresh two-copies-of-orders dir
    # each call)
    out = _EVO_DIRS.get(sf_dir)
    if out is None:
        out = tempfile.mkdtemp(prefix="spark_graft_evo_")
        atexit.register(shutil.rmtree, out, ignore_errors=True)
        _EVO_DIRS[sf_dir] = out
    # The two batch writes are independent jobs (different producers in
    # the story, different columns in the code) — submit them from a
    # 2-thread pool so the second job's tasks back-fill executors freed
    # by the first job's tail instead of waiting for it (guide §2.6
    # "overlap independent jobs"); interleaved A/B at sf0.1: min
    # 1.23 -> 1.02 s, mean 1.65 -> 1.31 s.
    from concurrent.futures import ThreadPoolExecutor

    # coalesce(1): each batch is a ~1 MB two-column projection, and the
    # unguided write inherited the SCAN's split count — 19 files of
    # ~60 KB per batch at sf0.1, paying 19 task launches + 19 commit
    # renames per write and a 38-file listing+footer read on the merge
    # side (guide §6: output files belong in the 128 MB–1 GB range, so
    # a fixture this size is ONE file at any scale; a production port
    # writing real batch volumes would target that byte size via
    # maxRecordsPerFile / AQE rebalance instead of a constant 1).
    # Interleaved A/B at sf0.1: min 1.08 -> 0.81 s, median 1.28 -> 0.90.
    def _write(args) -> None:
        cols, sub = args
        orders.select(*cols).coalesce(1).write.mode("overwrite").parquet(
            f"{out}/{sub}"
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _write,
                [
                    (("o_orderkey", "o_totalprice"), "batch1"),
                    (("o_orderkey", "o_orderpriority"), "batch2"),
                ],
            )
        )
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/batch1", f"{out}/batch2"
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("o_totalprice").alias("n_price"),
        F.count("o_orderpriority").alias("n_priority"),
        # decimal-exact sum (order-independent), double only at output
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("price_sum"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


SCHEMA_EVOLUTION_READ_SQL = """
    SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
           CAST(count(o_totalprice) AS BIGINT) AS n_price,
           CAST(count(o_orderpriority) AS BIGINT) AS n_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
    FROM orders
"""

QUERIES["schema_evolution_read"] = schema_evolution_read
ORACLE["schema_evolution_read"] = SCHEMA_EVOLUTION_READ_SQL
