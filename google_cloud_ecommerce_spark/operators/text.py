"""Text analysis over ``documents``: language ID (stopword-count
heuristic), quality scoring, token counting (whitespace + BPE-ish
regex), and document fingerprinting (rolling polynomial hash).

All per-document, embarrassingly parallel — no shuffle except the
explicit corpus-level aggregates. Every expression is a built-in
column function (no Python UDFs), so the whole module stays inside
whole-stage codegen at any scale.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.io import persisted_layout
from google_cloud_ecommerce_spark.operators._common import (
    FOLD_BASE,
    GOPHER_MAX_MEAN_LEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_FRAC,
    GOPHER_MIN_MEAN_LEN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    MERSENNE31,
    STOPWORDS,
    gopher_counts,
    gopher_rules,
    let_expr,
    ngrams_expr,
    repetition_expr,
    token_hash_expr,
    token_hash_sql,
    tokens_expr,
    tokens_sql,
)
from google_cloud_ecommerce_spark.operators.guards import (
    bigram_model_bytes_bound,
    broadcast_if_provably_small,
    broadcast_threshold_bytes,
    hist_bytes_bound,
    vocab_bytes_bound,
)
from google_cloud_ecommerce_spark.operators.ranking import (
    range_partition_prefix_sum,
)
from google_cloud_ecommerce_spark.pins import pin

# Language-ID chain order over the stopword lists (alphabetical,
# first-wins on ties) is part of the operator's contract so results
# are deterministic.
LANGS = sorted(STOPWORDS)

BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _stopword_count_expr(lang: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter(toks, t -> t IN ({quoted})))"


def _stopword_count_sql(lang: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({quoted})))"


def _argmax_case(count_fn) -> str:
    """First-wins >= chain over LANGS — identical text in both engines."""
    clauses = []
    for lang in LANGS:
        others = [count_fn(o) for o in LANGS if o != lang]
        cond = " AND ".join(f"{count_fn(lang)} >= {o}" for o in others)
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{LANGS[-1]}' END"


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.expr(f"{tokens_expr('lower(text)')}").alias("toks")
    )
    counts = toks.select(
        "doc_id",
        "lang",
        *[F.expr(_stopword_count_expr(lang)).cast("long").alias(f"s_{lang}") for lang in LANGS],
        F.expr(_argmax_case(_stopword_count_expr)).alias("predicted_lang"),
    )
    return counts.select(
        "doc_id",
        "lang",
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).cast("long").alias("is_match"),
        *[F.col(f"s_{lang}") for lang in LANGS],
    )


def _text_lang_id_sql() -> str:
    s_cols = ",\n               ".join(
        f"CAST({_stopword_count_sql(lang)} AS BIGINT) AS s_{lang}" for lang in LANGS
    )
    return f"""
        WITH t AS (
            SELECT doc_id, lang, {tokens_sql('lower(text)')} AS toks FROM documents
        )
        SELECT doc_id, lang,
               {_argmax_case(_stopword_count_sql)} AS predicted_lang,
               CAST(({_argmax_case(_stopword_count_sql)}) = lang AS BIGINT) AS is_match,
               {s_cols}
        FROM t
    """


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/diversity/stopword-based quality score in [0, 1].

    Integer inputs (token counts, char sums) keep every intermediate
    deterministic; the score formula is written identically in the
    oracle so the final doubles are bit-equal.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("n_chars"),
        F.expr(f"{tokens_expr('lower(text)')}").alias("toks"),
    )
    en_stop = _stopword_count_expr("en")
    # Every ratio stays UNROUNDED: the operands are integers, the same
    # IEEE operations run in the same order in both engines, so the raw
    # doubles are bit-identical — while round-to-4 creates half-way ties
    # that Spark (decimal HALF_UP) and SQL engines (binary) break
    # differently.
    return toks.select(
        "doc_id",
        "n_chars",
        F.expr("size(toks)").cast("long").alias("n_tokens"),
        F.expr("size(array_distinct(toks))").cast("long").alias("n_distinct"),
        (F.expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))") / F.expr("size(toks)"))
        .alias("avg_token_len"),
        (F.expr("size(array_distinct(toks))") / F.expr("size(toks)")).alias("ttr"),
        (F.expr(en_stop) / F.expr("size(toks)")).alias("stopword_ratio"),
        (
            F.least(F.expr("size(toks)") / F.lit(50.0), F.lit(1.0)) * 0.5
            + F.expr("size(array_distinct(toks))") / F.expr("size(toks)") * 0.3
            + F.least(F.expr(en_stop) / F.expr("size(toks)") * 5.0, F.lit(1.0)) * 0.2
        ).alias("quality_score"),
    )


def _text_quality_sql() -> str:
    en_stop = _stopword_count_sql("en")
    return f"""
        WITH t AS (
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                   {tokens_sql('lower(text)')} AS toks
            FROM documents
        )
        SELECT doc_id, n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               list_sum(list_transform(toks, t -> length(t))) * 1.0
                     / len(toks) AS avg_token_len,
               len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
               {en_stop} * 1.0 / len(toks) AS stopword_ratio,
               least(len(toks) / 50.0, 1.0) * 0.5
                     + len(list_distinct(toks)) * 1.0 / len(toks) * 0.3
                     + least({en_stop} * 1.0 / len(toks) * 5.0, 1.0) * 0.2
                   AS quality_score
        FROM t
    """


# ---------------------------------------------------------------------------
# Token counting: whitespace vs BPE-ish regex segmentation
# ---------------------------------------------------------------------------


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("ws_tokens"),
        F.expr(
            f"CAST(size(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}', 0)) AS BIGINT)"
        ).alias("bpe_tokens"),
        F.expr(f"CAST(size(array_distinct({tokens_expr('text')})) AS BIGINT)").alias(
            "distinct_tokens"
        ),
    )


def _token_counts_sql() -> str:
    return f"""
        SELECT doc_id,
               CAST(len({tokens_sql('text')}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS BIGINT)
                   AS bpe_tokens,
               CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS distinct_tokens
        FROM documents
    """


# ---------------------------------------------------------------------------
# Global token frequencies: explode (generator) + count + top-k. The
# top-k is a TakeOrderedAndProject over (count desc, token asc) — a
# per-partition heap, never a global sort; the total order makes the
# LIMIT deterministic, so the oracle can hash-match the row set.
# ---------------------------------------------------------------------------

TOP_TOKENS_K = 20


def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(TOP_TOKENS_K)
    )


def _token_frequencies_sql() -> str:
    return f"""
        SELECT token, count(*) AS n_occurrences
        FROM (SELECT unnest({tokens_sql('lower(text)')}) AS token FROM documents)
        GROUP BY 1
        ORDER BY n_occurrences DESC, token
        LIMIT {TOP_TOKENS_K}
    """


# ---------------------------------------------------------------------------
# Document fingerprint: order-sensitive rolling hash over the token
# stream (content-defined identity; same doc text => same fingerprint,
# any reordering => different).
# ---------------------------------------------------------------------------


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    fold = (
        f"aggregate(transform({tokens_expr('text')}, t -> {token_hash_expr('t')}), "
        f"0L, (acc, h) -> (acc * {FOLD_BASE} + h) % {MERSENNE31})"
    )
    return _docs(spark, sf_dir).select("doc_id", F.expr(fold).alias("fingerprint"))


def _doc_fingerprint_sql() -> str:
    return f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform({tokens_sql('text')}, t -> {token_hash_sql('t')})),
                   (acc, h) -> (acc * {FOLD_BASE} + h) % {MERSENNE31}) AS fingerprint
        FROM documents
    """


# ---------------------------------------------------------------------------
# Corpus rollup: per (lang, source) token totals — the "dataset card"
# aggregate a training pipeline reports.
# ---------------------------------------------------------------------------


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "lang",
        "source",
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("n_tok"),
        F.col("n_chars"),
    )
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def _corpus_stats_sql() -> str:
    return f"""
        SELECT lang, source, count(*) AS n_docs,
               -- outer CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the
               -- driver hasher canonicalizes differently from Spark BIGINT
               CAST(SUM(CAST(len({tokens_sql('text')}) AS BIGINT)) AS BIGINT)
                   AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1, 2
    """


QUERIES = {
    "text_lang_id": text_lang_id,
    "text_quality": text_quality,
    "token_counts": token_counts,
    "token_frequencies": token_frequencies,
    "doc_fingerprint": doc_fingerprint,
    "corpus_stats": corpus_stats,
}

ORACLE = {
    "text_lang_id": _text_lang_id_sql(),
    "text_quality": _text_quality_sql(),
    "token_counts": _token_counts_sql(),
    "token_frequencies": _token_frequencies_sql(),
    "doc_fingerprint": _doc_fingerprint_sql(),
    "corpus_stats": _corpus_stats_sql(),
}


# ---------------------------------------------------------------------------
# keyword_search — multi-term retrieval with tf×rarity scoring, the
# "grep the corpus, best docs first" primitive. For a FIXED query-term
# set the per-doc term frequencies are pure column folds over the token
# array (no explode, no shuffle for the tf stage); the document
# frequencies reduce to ONE tiny global aggregate broadcast back as a
# single row. Rarity weight is N/df — an IEEE division of two bigints,
# bit-identical across engines — instead of the textbook log-idf
# (libm log implementations differ in the last ulp across engines;
# same class of trap as ROUND ties). Top-20 with a total order
# (score DESC, doc_id) so LIMIT is deterministic.
# ---------------------------------------------------------------------------

QUERY_TERMS = ("join", "hash", "vector")
SEARCH_TOP_K = 20


def _tf_expr(term: str) -> str:
    return f"size(filter(toks, t -> t = '{term}'))"


def _tf_sql(term: str) -> str:
    return f"len(list_filter(toks, t -> t = '{term}'))"


def keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("text")).alias("toks")
    )
    tf = toks.select(
        "doc_id",
        *[F.expr(_tf_expr(t)).cast("long").alias(f"tf_{t}") for t in QUERY_TERMS],
    )
    stats = tf.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ],
    )
    score = None
    for t in QUERY_TERMS:
        term_score = F.col(f"tf_{t}") * (
            F.col("n_docs").cast("double") / F.col(f"df_{t}")
        )
        score = term_score if score is None else score + term_score
    return (
        tf.join(F.broadcast(stats))
        .withColumn("score", score)
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(SEARCH_TOP_K)
        .select("doc_id", *[f"tf_{t}" for t in QUERY_TERMS], "score")
    )


def _keyword_search_sql() -> str:
    tf_cols = ", ".join(f"{_tf_sql(t)} AS tf_{t}" for t in QUERY_TERMS)
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in QUERY_TERMS
    )
    score = " + ".join(
        f"tf_{t} * (CAST(n_docs AS DOUBLE) / df_{t})" for t in QUERY_TERMS
    )
    out_tfs = ", ".join(f"tf_{t}" for t in QUERY_TERMS)
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
        ), tf AS (
            SELECT doc_id, {tf_cols} FROM toks
        ), stats AS (
            SELECT count(*) AS n_docs, {df_cols} FROM tf
        )
        SELECT doc_id, {out_tfs}, {score} AS score
        FROM tf CROSS JOIN stats
        WHERE {score} > 0
        ORDER BY score DESC, doc_id
        LIMIT {SEARCH_TOP_K}
    """


QUERIES["keyword_search"] = keyword_search
ORACLE["keyword_search"] = _keyword_search_sql()


# ---------------------------------------------------------------------------
# Bigram frequencies: adjacent-token pair counts, the n-gram step a
# language-model data pipeline runs after tokenization. Pairs are built
# positionally inside the token ARRAY (_common.ngrams_expr), so no
# self-join and no second explode — one explode, one hash aggregate,
# one top-k. (count DESC, bigram ASC) is a total order, so the LIMIT
# cut is deterministic in both engines.
# ---------------------------------------------------------------------------

BIGRAM_TOP_K = 50


def bigram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    )
    bigrams = toks.select(
        "doc_id", F.explode(F.expr(ngrams_expr("toks", 2))).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(BIGRAM_TOP_K)
    )


def _bigram_frequencies_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), b AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bigram
            FROM toks WHERE len(toks) >= 2
        )
        SELECT bigram, count(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM b GROUP BY 1
        ORDER BY n_occurrences DESC, bigram
        LIMIT {BIGRAM_TOP_K}
    """


QUERIES["bigram_frequencies"] = bigram_frequencies
ORACLE["bigram_frequencies"] = _bigram_frequencies_sql()


# ---------------------------------------------------------------------------
# text_repetition — boilerplate/spam signal: the share of a document's
# word bigrams taken by its single most-repeated bigram. Per row, no
# shuffle: the shared repetition gate (_common.repetition_expr) plus the
# distinct-bigram count. The 0.2 flag threshold is the conventional
# "repetitive document" gate in pretraining quality filters.
# ---------------------------------------------------------------------------

REPETITION_THRESHOLD = 0.2


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(tokens_expr("lower(text)")).alias("toks"))
        .filter("size(toks) >= 2")
        .select(
            "doc_id",
            F.expr(repetition_expr("toks")).alias("rep"),
            F.expr(f"CAST(size(array_distinct({ngrams_expr('toks', 2)})) AS BIGINT)")
            .alias("n_distinct"),
        )
        .select("doc_id", "rep.n_bigrams", "n_distinct", "rep.max_rep")
    )
    share = F.col("max_rep").cast("double") / F.col("n_bigrams")
    return counts.select(
        "*",
        share.alias("repetition_score"),
        (share > F.lit(REPETITION_THRESHOLD)).cast("long").alias("is_repetitive"),
    )


def _text_repetition_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), b AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bigram
            FROM toks WHERE len(toks) >= 2
        ), per AS (
            SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2
        )
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, count(*) AS n_distinct,
               max(c) AS max_rep,
               CAST(max(c) AS DOUBLE) / sum(c) AS repetition_score,
               CAST(CAST(max(c) AS DOUBLE) / sum(c) > {REPETITION_THRESHOLD}
                    AS BIGINT) AS is_repetitive
        FROM per GROUP BY 1
    """


QUERIES["text_repetition"] = text_repetition
ORACLE["text_repetition"] = _text_repetition_sql()


# ---------------------------------------------------------------------------
# pii_redaction — the scrubbing pass every pretraining corpus gets
# before training: emails / SSN-shaped ids / phone-shaped numbers are
# replaced by typed placeholder tokens and counted. Purely per-row
# regexp work (regexp_extract_all + chained regexp_replace), all
# JVM-side built-ins — embarrassingly parallel, zero shuffle, stays in
# whole-stage codegen at any corpus size. The patterns use only regex
# syntax with identical semantics in Java regex (Spark) and RE2
# (DuckDB): literal classes, \d, \b, bounded repetition.
# ---------------------------------------------------------------------------

PII_PATTERNS = (
    # order matters: SSN (3-2-4) before phone (3-3-4) would also work,
    # but emails first keeps digit patterns from touching addresses.
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_<kind> counts, n_redactions, and a `redacted` column.

    Reusable on any DataFrame with a string column; the registry entry
    below applies it to ``documents``.
    """
    out = df
    redacted = F.col(text_col)
    total = F.lit(0).cast("long")
    for kind, pattern, token in PII_PATTERNS:
        n = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)))
        out = out.withColumn(f"n_{kind}", n.cast("long"))
        total = total + F.col(f"n_{kind}")
        redacted = F.regexp_replace(redacted, pattern, token)
    return out.withColumn("n_redactions", total).withColumn("redacted", redacted)


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_pii(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _pii_redaction_sql() -> str:
    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{kind}"
        for kind, p, _ in PII_PATTERNS
    )
    total = " + ".join(f"n_{kind}" for kind, _, _ in PII_PATTERNS)
    replaced = "text"
    for _, p, token in PII_PATTERNS:
        replaced = f"regexp_replace({replaced}, '{p}', '{token}', 'g')"
    return f"""
        WITH c AS (
            SELECT doc_id,
               {counts},
               {replaced} AS redacted
            FROM documents
        )
        SELECT doc_id, n_email, n_ssn, n_phone,
               CAST(n_email + n_ssn + n_phone AS BIGINT) AS n_redactions,
               redacted
        FROM c
    """


QUERIES["pii_redaction"] = pii_redaction
ORACLE["pii_redaction"] = _pii_redaction_sql()


# ---------------------------------------------------------------------------
# bm25_search — ranked keyword retrieval (Okapi BM25) for a fixed term
# set, the scoring step behind corpus search / quality-by-query-match.
# One pass computes ALL corpus statistics (doc count, total length,
# per-term document frequencies) in a single aggregate; that one-row
# stats frame is broadcast and cross-joined, so the corpus itself never
# shuffles — per-doc term frequencies and scores are map-side column
# expressions. At 100 TB this is one scan + a 1-row broadcast.
#
# Float determinism: the scoring formula is emitted from ONE Python
# template into both engines, so the IEEE operation order is identical;
# per-term scores are summed left-to-right in expression order (never
# an aggregate over doubles, whose order is partition-dependent). The
# one non-portable op is ln() itself (libm vs JVM differ in the last
# ulp), so the OUTPUT score is rounded to 4 decimals and the top-k
# order/cutoff uses the rounded value — the same load-bearing ROUND
# policy as the cosine near-dup threshold.
# ---------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "window", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_score_tpl(tf: str, df: str, dl: str) -> str:
    """Engine-neutral BM25 term score (identical text in both engines)."""
    k1, k1p1 = repr(BM25_K1), repr(BM25_K1 + 1.0)
    b, omb = repr(BM25_B), repr(1.0 - BM25_B)
    idf = f"ln((CAST(n_docs - {df} AS DOUBLE) + 0.5) / (CAST({df} AS DOUBLE) + 0.5) + 1.0)"
    return (
        f"{idf} * ((CAST({tf} AS DOUBLE) * {k1p1}) / (CAST({tf} AS DOUBLE) + "
        f"{k1} * ({omb} + {b} * {dl} / (CAST(sum_dl AS DOUBLE) / n_docs))))"
    )


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    )
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("size(toks)")).alias("sum_dl"),
        *[
            F.sum(F.array_contains(F.col("toks"), t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    j = toks.crossJoin(F.broadcast(stats))
    for i, t in enumerate(BM25_TERMS):
        tf = f"size(filter(toks, x -> x = '{t}'))"
        j = j.withColumn(f"tf_{t}", F.expr(tf).cast("long")).withColumn(
            f"s_{i}", F.expr(_bm25_score_tpl(tf, f"df_{i}", "CAST(size(toks) AS DOUBLE)"))
        )
    total = " + ".join(f"s_{i}" for i in range(len(BM25_TERMS)))
    return (
        j.withColumn("score", F.expr(f"round({total}, 4)"))
        .filter("score > 0.0")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", *[f"tf_{t}" for t in BM25_TERMS], "score")
        .limit(BM25_TOP_K)
    )


def _bm25_search_sql() -> str:
    dfs = ",\n                   ".join(
        f"CAST(SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    tf_cols = ",\n                   ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    s_cols = ",\n                   ".join(
        _bm25_score_tpl(
            f"len(list_filter(toks, x -> x = '{t}'))",
            f"df_{i}",
            "CAST(len(toks) AS DOUBLE)",
        )
        + f" AS s_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    total = " + ".join(f"s_{i}" for i in range(len(BM25_TERMS)))
    tf_names = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), stats AS (
            SELECT count(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS sum_dl,
                   {dfs}
            FROM toks
        ), scored AS (
            SELECT doc_id,
                   {tf_cols},
                   {s_cols}
            FROM toks CROSS JOIN stats
        )
        SELECT doc_id, {tf_names}, ROUND({total}, 4) AS score
        FROM scored WHERE ROUND({total}, 4) > 0.0
        ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
    """


QUERIES["bm25_search"] = bm25_search
ORACLE["bm25_search"] = _bm25_search_sql()


# ---------------------------------------------------------------------------
# bpe_merges — the first rounds of byte-pair-encoding tokenizer
# training (Sennrich et al. 2016) as an iterative DataFrame algorithm:
# per round, count adjacent symbol pairs across the word vocabulary
# (weighted by word frequency), take the argmax pair (ties broken
# lexicographically), and merge it greedily left-to-right in every
# word. Everything is INTEGER/string math — no float anywhere — so the
# unrolled-CTE oracle is exact.
#
# Scale posture per round: pair counting is explode + ONE hash
# aggregate over the VOCABULARY (orders of magnitude smaller than the
# corpus — the corpus is only scanned once to build word counts); the
# argmax is a 1-row broadcast; the merge is a map-side higher-order
# fold. Real tokenizer training runs ~30k rounds of exactly this step.
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(tokens_expr("lower(text)"))).alias("word")
    )
    # Pin the base word-split table (round-8 A/B, VERDICT r7 #6): it is
    # a NARROW vocabulary-sized aggregate that every unrolled merge
    # round re-planned from the parquet scan — the single pin cut
    # the documents scans 7/9 -> 1 and WON at sf0.1 (bpe_merges
    # 0.95 -> 0.66 s, bpe_tokenize 1.45 -> 0.91 s, min-of-3). This is
    # the BASE pin, not the per-round vocab pin that LOST in round 6
    # (that one added a job barrier before every round's 1-row
    # broadcast; this one pays one barrier total).
    return pin(
        toks.groupBy("word")
        .agg(F.count("*").alias("wcount"))
        .select(
            "word",
            "wcount",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
    )


def _bpe_best_pair(vocab: DataFrame, rnd: int) -> DataFrame:
    pairs = vocab.filter(F.expr("size(syms) >= 2")).select(
        "wcount",
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> array(element_at(syms, i), element_at(syms, i + 1)))"
            )
        ).alias("pr"),
    )
    counted = pairs.groupBy(
        F.expr("get(pr, 0)").alias("ls"), F.expr("get(pr, 1)").alias("rs")
    ).agg(F.sum("wcount").alias("pair_count"))
    return (
        counted.orderBy(F.desc("pair_count"), F.asc("ls"), F.asc("rs"))
        .limit(1)
        .select(
            F.lit(rnd).cast("long").alias("round"),
            "ls",
            "rs",
            F.concat("ls", "rs").alias("merged"),
            "pair_count",
        )
    )


_BPE_MERGE_FOLD = (
    "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
    "CASE WHEN size(acc) = 0 THEN concat(acc, array(x)) "
    "WHEN element_at(acc, -1) = ls AND x = rs "
    "THEN concat(slice(acc, 1, size(acc) - 1), array(merged)) "
    "ELSE concat(acc, array(x)) END)"
)


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """BPE_ROUNDS training rounds over the pinned base vocabulary, each
    an argmax adjacent pair -> broadcast 1-row merge -> map-side fold.
    Returns the merged vocabulary and the per-round best pairs."""
    vocab, bests = _bpe_vocab(spark, sf_dir), []
    for rnd in range(1, BPE_ROUNDS + 1):
        best = _bpe_best_pair(vocab, rnd)
        vocab = vocab.crossJoin(
            F.broadcast(best.select("ls", "rs", "merged"))
        ).select("word", "wcount", F.expr(_BPE_MERGE_FOLD).alias("syms"))
        bests.append(best)
    return vocab, bests


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, bests = _bpe_train(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select(
        "round",
        F.col("ls").alias("left_sym"),
        F.col("rs").alias("right_sym"),
        "merged",
        "pair_count",
    )


_BPE_SQL_FOLD = (
    "list_reduce(list_prepend([]::VARCHAR[], list_transform(syms, s -> [s])), "
    "(acc, x) -> CASE WHEN len(acc) = 0 THEN list_append(acc, x[1]) "
    "WHEN acc[-1] = b.ls AND x[1] = b.rs "
    "THEN list_append(acc[:-2], b.merged) "
    "ELSE list_append(acc, x[1]) END)"
)


def _bpe_pair_cte(src: str, n: int) -> str:
    return f"""p{n} AS (
            SELECT pr[1] AS ls, pr[2] AS rs, CAST(SUM(wcount) AS BIGINT) AS pair_count
            FROM (
                SELECT wcount,
                       unnest(list_transform(range(1, len(syms)),
                                             i -> [syms[i], syms[i + 1]])) AS pr
                FROM {src} WHERE len(syms) >= 2
            ) t GROUP BY 1, 2
        ), b{n} AS (
            SELECT CAST({n} AS BIGINT) AS round, ls, rs, ls || rs AS merged,
                   pair_count
            FROM p{n} ORDER BY pair_count DESC, ls, rs LIMIT 1
        )"""


def _bpe_merge_cte(src: str, n: int) -> str:
    return f"""v{n} AS (
            SELECT word, wcount, {_BPE_SQL_FOLD} AS syms
            FROM {src}, b{n} b
        )"""


_BPE_V0_CTE = f"""v0 AS (
            SELECT word, count(*) AS wcount,
                   list_transform(range(1, length(word) + 1),
                                  i -> substr(word, i, 1)) AS syms
            FROM (
                SELECT unnest({tokens_sql('lower(text)')}) AS word FROM documents
            ) w GROUP BY 1
        )"""


def _bpe_merges_sql() -> str:
    ctes = [_BPE_V0_CTE]
    for n in range(1, BPE_ROUNDS + 1):
        ctes.append(_bpe_pair_cte(f"v{n - 1}", n))
        if n < BPE_ROUNDS:
            ctes.append(_bpe_merge_cte(f"v{n - 1}", n))
    selects = " UNION ALL ".join(
        f"SELECT round, ls AS left_sym, rs AS right_sym, merged, pair_count FROM b{n}"
        for n in range(1, BPE_ROUNDS + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + selects


QUERIES["bpe_merges"] = bpe_merges
ORACLE["bpe_merges"] = _bpe_merges_sql()


# ---------------------------------------------------------------------------
# bpe_tokenize — APPLY the trained merges (the other half of the
# tokenizer loop bpe_merges trains): run the same BPE_ROUNDS rounds to
# obtain the fully-merged word vocabulary, then tokenize the corpus by
# joining each document's words against it. Output is the per-document
# token accounting an LLM data pipeline actually consumes: token count,
# tokenized chars, and the chars-per-token compression ratio.
#
# Scale posture: merges apply over the VOCABULARY (distinct words),
# never the corpus — the corpus is touched twice (once to build word
# counts, once to join doc words to the merged vocab on the word key).
# The join shuffles on `word`; at production scale the merged vocab is
# the small side and broadcastable. compression = integer / integer in
# DOUBLE — bit-exact in both engines.
# ---------------------------------------------------------------------------


# scan-audit: reads the documents table twice by design — once inside the
# pinned word-count table (_bpe_vocab, which every merge round re-reads from
# its pinned blocks) and once for the final doc-words join (banner above).
# The audit sees only the second: a pinned table plans as an RDD scan
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab, _ = _bpe_train(spark, sf_dir)
    doc_words = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("word")
    )
    word_stats = vocab.select(
        "word",
        F.expr("size(syms)").cast("long").alias("word_tokens"),
        F.length("word").cast("long").alias("word_chars"),
    )
    return (
        doc_words.join(word_stats, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_tokens").cast("long").alias("n_tokens"),
            F.sum("word_chars").cast("long").alias("n_chars_tokenized"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_chars_tokenized",
            (F.col("n_chars_tokenized").cast("double") / F.col("n_tokens")).alias(
                "compression"
            ),
        )
    )


def _bpe_tokenize_sql() -> str:
    ctes = [_BPE_V0_CTE]
    for n in range(1, BPE_ROUNDS + 1):
        ctes.append(_bpe_pair_cte(f"v{n - 1}", n))
        ctes.append(_bpe_merge_cte(f"v{n - 1}", n))
    body = f"""dw AS (
            SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS word
            FROM documents
        )
        SELECT d.doc_id,
               count(*) AS n_words,
               CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
               CAST(SUM(length(v.word)) AS BIGINT) AS n_chars_tokenized,
               CAST(CAST(SUM(length(v.word)) AS BIGINT) AS DOUBLE)
                   / CAST(SUM(len(v.syms)) AS BIGINT) AS compression
        FROM dw d JOIN v{BPE_ROUNDS} v ON v.word = d.word
        GROUP BY 1"""
    return "WITH " + ", ".join(ctes) + ", " + body


QUERIES["bpe_tokenize"] = bpe_tokenize
ORACLE["bpe_tokenize"] = _bpe_tokenize_sql()


# ---------------------------------------------------------------------------
# tfidf_top_terms — per-document keyword extraction (the feature side
# of retrieval, where bm25_search above is the query side): each doc's
# top-3 terms by smoothed tf-idf. One (doc, term) hash aggregate is
# the only corpus-sized shuffle; document frequencies aggregate from
# it (vocabulary-sized) and broadcast back ONLY under the
# guards.vocab_bytes_bound proof — the df table has Heaps-law growth
# and is multi-GB at 100 TB, so above the bound the join is unhinted
# and AQE picks the strategy from true runtime sizes (the lm_score
# guard, VERDICT r8 #2). idf uses ln(), so scores follow the
# load-bearing ROUND policy:
# rank and cutoff are computed on the ROUNDED score (ties to the
# lexicographically first term) to keep the row set cross-engine
# stable.
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    # tf feeds both the document-frequency aggregate and the scoring
    # join; the pin computes the tokenize+explode+groupBy subtree
    # once instead of once per use (the expanded_keyword_search fix)
    tf = pin(
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    if broadcast_threshold is None:
        broadcast_threshold = broadcast_threshold_bytes(spark)
    df_t = broadcast_if_provably_small(
        df_t, vocab_bytes_bound(spark, sf_dir), broadcast_threshold
    )
    n_docs = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.expr(
                "round(CAST(tf AS DOUBLE) * "
                "(ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 4)"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


def _tfidf_top_terms_sql() -> str:
    return f"""
        WITH tf AS (
            SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS term
            FROM documents
        ), tfc AS (
            SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2
        ), dfc AS (
            SELECT term, count(*) AS df FROM tfc GROUP BY 1
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, t.term, tf, df,
                   round(CAST(tf AS DOUBLE)
                         * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 4) AS score
            FROM tfc t JOIN dfc USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS BIGINT) AS rk
        FROM scored
        QUALIFY rk <= {TFIDF_TOP_K}
    """


QUERIES["tfidf_top_terms"] = tfidf_top_terms
ORACLE["tfidf_top_terms"] = _tfidf_top_terms_sql()


# ---------------------------------------------------------------------------
# lm_score — statistical language-model quality filtering (the
# CCNet-style gate): a unigram LM is fit on the corpus itself (exact
# integer counts), then every document is scored by its mean negative
# log-probability; improbable-token documents score high and get
# flagged. Float discipline: ln() is computed once per DISTINCT
# vocabulary token, rounded to DECIMAL(18,9) (absorbing the
# cross-engine libm ulp), and per-document accumulation SUMS DECIMALS
# — order-independent, so the doc score is bit-stable under any
# partitioning. The vocabulary (with its logprob) broadcasts ONLY when
# a metadata-cheap upper bound proves it fits the session threshold
# (guards.vocab_bytes_bound — the vocabulary of a 100 TB corpus is NOT
# broadcastable); above the bound the join is left unhinted and AQE
# picks the strategy from true runtime sizes. The corpus shuffles only
# for the per-doc roll-up.
# ---------------------------------------------------------------------------

LM_FLAG_THRESHOLD = 4.0  # mean -ln p(token) above this => flagged


# scan-audit: vocab broadcast + score pass: pinning the vocab histogram LOST
# the round-6 A/B (0.89->1.49s, checkpoint barrier before the broadcast build)
# — 3 scans kept deliberately
def lm_score(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    totals = toks.agg(F.count("*").alias("n_total"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(totals))  # 1-row aggregate: always safe
        .select(
            "token",
            F.expr(
                "CAST(round(-ln(CAST(c AS DOUBLE) / n_total), 9) AS DECIMAL(18,9))"
            ).alias("neg_lnp"),
        )
    )
    if broadcast_threshold is None:
        broadcast_threshold = broadcast_threshold_bytes(spark)
    vocab = broadcast_if_provably_small(
        vocab, vocab_bytes_bound(spark, sf_dir), broadcast_threshold
    )
    scored = toks.join(vocab, "token")
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("neg_lnp").alias("sum_neg_lnp"),
    )
    mean = F.col("sum_neg_lnp").cast("double") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        mean.alias("mean_neg_logprob"),
        (mean > F.lit(LM_FLAG_THRESHOLD)).cast("long").alias("is_flagged"),
    )


LM_SCORE_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS token
        FROM documents
    ), totals AS (
        SELECT count(*) AS n_total FROM toks
    ), vocab AS (
        SELECT token,
               CAST(round(-ln(CAST(count(*) AS DOUBLE) / n_total), 9)
                    AS DECIMAL(18,9)) AS neg_lnp
        FROM toks CROSS JOIN totals GROUP BY token, n_total
    ), per_doc AS (
        SELECT doc_id, count(*) AS n_tokens, SUM(neg_lnp) AS sum_neg_lnp
        FROM toks JOIN vocab USING (token) GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           CAST(sum_neg_lnp AS DOUBLE) / n_tokens AS mean_neg_logprob,
           CAST(CAST(sum_neg_lnp AS DOUBLE) / n_tokens > {LM_FLAG_THRESHOLD}
                AS BIGINT) AS is_flagged
    FROM per_doc
"""

QUERIES["lm_score"] = lm_score
ORACLE["lm_score"] = LM_SCORE_SQL


# ---------------------------------------------------------------------------
# countmin_estimates — a Count-Min sketch over the token stream with
# DETERMINISTIC (md5-derived) hash rows, so unlike engine-native
# sketches (HLL etc.) the whole structure is cross-engine exact and
# oracle-checkable: the sketch is just GROUP BY (row, bucket) over
# derived hashes (4x the explode rows in, 4*64 cells out, map-side
# partials absorb everything), and a point estimate is the MIN over
# the 4 cells a term hashes to. Output: per probe term, the true count
# beside the sketch estimate — the overestimate bound (est >= true) is
# part of the oracle-verified result. Sketch cells are trivially
# mergeable across partitions/streams: they're sums.
# ---------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 64
CM_PROBE_TERMS = ("spark", "join", "window", "stream", "zzz-absent")


def _cm_bucket_expr(token: str, r: int) -> str:
    salted = f"concat('cm{r}:', {token})"
    return f"({token_hash_expr(salted)}) % {CM_WIDTH}"


def _cm_bucket_sql(token: str, r: int) -> str:
    salted = f"'cm{r}:' || {token}"
    return f"({token_hash_sql(salted)}) % {CM_WIDTH}"


def countmin_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE tokenize pass reduced to the pinned vocabulary-sized token
    # histogram; the sketch rows (re-read once per depth for the
    # broadcast cell lookups) and the ground-truth counts all derive
    # from it — the prior shape re-tokenized the corpus CM_DEPTH + 1
    # times (round-6 scan audit: 5 documents scans)
    tok_counts = pin(
        _docs(spark, sf_dir)
        .select(F.explode(F.expr(tokens_expr("lower(text)"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("true_count"))
    )
    rows = tok_counts.select(
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.expr(_cm_bucket_expr("token", r)).cast("long").alias("bucket"),
                    )
                    for r in range(CM_DEPTH)
                ]
            )
        ).alias("rb"),
    )
    sketch = rows.groupBy(
        F.col("rb.r").alias("r"), F.col("rb.bucket").alias("bucket")
    ).agg(F.sum("true_count").alias("cell"))

    probes = spark.createDataFrame(
        [(t,) for t in CM_PROBE_TERMS], "term string"
    ).select(
        "term",
        *[
            F.expr(_cm_bucket_expr("term", r)).cast("long").alias(f"b_{r}")
            for r in range(CM_DEPTH)
        ],
    )
    est = probes
    for r in range(CM_DEPTH):
        cell_r = sketch.filter(F.col("r") == r).select(
            F.col("bucket").alias(f"b_{r}"), F.col("cell").alias(f"c_{r}")
        )
        est = est.join(F.broadcast(cell_r), f"b_{r}", "left")
    # Ground truth is only needed for the 5 literal probe terms, so
    # pre-filter the vocabulary-sized histogram down to them BEFORE the
    # broadcast build — the unfiltered form forced a vocab-sized
    # broadcast at any scale (VERDICT r8 #1). The IN-list is a literal
    # tuple, so the filter rides the pinned histogram's local read; the
    # left join's output is unchanged (non-probe tokens never matched).
    true_counts = tok_counts.filter(F.col("token").isin(*CM_PROBE_TERMS))
    mins = F.least(*[F.coalesce(F.col(f"c_{r}"), F.lit(0)) for r in range(CM_DEPTH)])
    return (
        est.join(
            F.broadcast(true_counts), est.term == true_counts.token, "left"
        )
        .select(
            "term",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            mins.alias("cm_estimate"),
        )
        .withColumn(
            "overestimate", (F.col("cm_estimate") - F.col("true_count")).cast("long")
        )
    )


def _countmin_estimates_sql() -> str:
    probe_rows = ", ".join(f"('{t}')" for t in CM_PROBE_TERMS)
    cell_joins = "\n        ".join(
        f"LEFT JOIN sketch s{r} ON s{r}.r = {r} AND s{r}.bucket = {_cm_bucket_sql('p.term', r)}"
        for r in range(CM_DEPTH)
    )
    mins = ", ".join(f"COALESCE(s{r}.cell, 0)" for r in range(CM_DEPTH))
    union_rb = " UNION ALL ".join(
        f"SELECT token, {r} AS r, {_cm_bucket_sql('token', r)} AS bucket FROM toks"
        for r in range(CM_DEPTH)
    )
    return f"""
        WITH toks AS (
            SELECT unnest({tokens_sql('lower(text)')}) AS token FROM documents
        ), rb AS (
            {union_rb}
        ), sketch AS (
            SELECT r, bucket, count(*) AS cell FROM rb GROUP BY 1, 2
        ), truth AS (
            SELECT token, count(*) AS true_count FROM toks GROUP BY 1
        ), probes AS (
            SELECT * FROM (VALUES {probe_rows}) v(term)
        )
        SELECT p.term,
               COALESCE(t.true_count, 0) AS true_count,
               LEAST({mins}) AS cm_estimate,
               CAST(LEAST({mins}) - COALESCE(t.true_count, 0) AS BIGINT)
                   AS overestimate
        FROM probes p
        {cell_joins}
        LEFT JOIN truth t ON t.token = p.term
    """


QUERIES["countmin_estimates"] = countmin_estimates
ORACLE["countmin_estimates"] = _countmin_estimates_sql()


# ---------------------------------------------------------------------------
# lm_bigram_score — the Markov upgrade of lm_score: documents scored
# by mean -ln p(w_i | w_{i-1}) under the corpus's own bigram model
# (conditional MLE: c(prev, w) / c(prev)). Same float discipline — one
# ln per DISTINCT bigram, rounded into DECIMAL(18,9), per-document
# decimal sums. The bigram-TYPE table is not vocabulary-bounded in
# practice — distinct bigrams grow roughly with the corpus (far faster
# than the unigram vocab), so it broadcasts ONLY under the
# guards.bigram_model_bytes_bound proof; above it the join is unhinted
# and AQE decides from true runtime sizes. Docs with < 2 tokens have
# no bigrams and are excluded (documented contract, as in segment
# dedup).
# ---------------------------------------------------------------------------

LM_BIGRAM_FLAG_THRESHOLD = 6.0


# scan-audit: same losing-pin A/B as lm_score: the bigram vocab feeds a
# broadcast, so the barrier outweighs the saved tokenize at bench SF
def lm_bigram_score(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    )
    bigrams = toks.select(
        "doc_id", F.inline(F.expr(ngrams_expr("toks", 2, ("prev", "w"))))
    )
    c2 = bigrams.groupBy("prev", "w").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    model = c2.join(c1, "prev").select(
        "prev",
        "w",
        F.expr(
            "CAST(round(-ln(CAST(c2 AS DOUBLE) / c1), 9) AS DECIMAL(18,9))"
        ).alias("neg_lnp"),
    )
    if broadcast_threshold is None:
        broadcast_threshold = broadcast_threshold_bytes(spark)
    model = broadcast_if_provably_small(
        model, bigram_model_bytes_bound(spark, sf_dir), broadcast_threshold
    )
    scored = bigrams.join(model, ["prev", "w"])
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("neg_lnp").alias("sum_neg_lnp"),
    )
    mean = F.col("sum_neg_lnp").cast("double") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        mean.alias("mean_neg_logprob"),
        (mean > F.lit(LM_BIGRAM_FLAG_THRESHOLD)).cast("long").alias("is_flagged"),
    )


LM_BIGRAM_SCORE_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {{'prev': toks[i], 'w': toks[i + 1]}})) AS b
        FROM toks WHERE len(toks) >= 2
    ), pairs AS (
        SELECT doc_id, b.prev AS prev, b.w AS w FROM bg
    ), c2 AS (
        SELECT prev, w, count(*) AS c2 FROM pairs GROUP BY 1, 2
    ), c1 AS (
        SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
    ), model AS (
        SELECT c2.prev, c2.w,
               CAST(round(-ln(CAST(c2 AS DOUBLE) / c1), 9) AS DECIMAL(18,9))
                   AS neg_lnp
        FROM c2 JOIN c1 USING (prev)
    ), per_doc AS (
        SELECT doc_id, count(*) AS n_bigrams, SUM(neg_lnp) AS sum_neg_lnp
        FROM pairs JOIN model USING (prev, w) GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           CAST(sum_neg_lnp AS DOUBLE) / n_bigrams AS mean_neg_logprob,
           CAST(CAST(sum_neg_lnp AS DOUBLE) / n_bigrams
                > {LM_BIGRAM_FLAG_THRESHOLD} AS BIGINT) AS is_flagged
    FROM per_doc
"""

QUERIES["lm_bigram_score"] = lm_bigram_score
ORACLE["lm_bigram_score"] = LM_BIGRAM_SCORE_SQL


# ---------------------------------------------------------------------------
# kn_bigram_score — interpolated Kneser-Ney bigram scoring (Kneser &
# Ney 1995; Chen & Goodman 1999 eq. 4.25), the smoothing real LM-based
# quality filters use instead of raw MLE: P(w|prev) =
# (c(prev,w) - d)/c(prev) + (d * N1+(prev,·)/c(prev)) * N1+(·,w)/T,
# where N1+(prev,·) is the number of distinct continuations of prev,
# N1+(·,w) the number of distinct histories of w (the CONTINUATION
# count — "how novel are w's contexts", the KN insight), T the number
# of distinct bigram types, d = 0.75 the standard absolute discount.
# Contrast lm_bigram_score (raw MLE: over-confident on frequent-but-
# fixed collocations, zero mass for novel continuations).
#
# Cross-engine: every term is an exact integer ratio widened to DOUBLE
# (the discount is CAST(0.75 AS DOUBLE) in both engines — a bare 0.75
# literal parses as DECIMAL and decimal division scale rules differ);
# +-*/ on doubles are IEEE-exact-rounded, identical in both engines;
# only ln is libm-hazardous, so the model neg-logprob rounds to 9
# decimals and accumulates as DECIMAL(18,9) (the lm_score policy).
#
# Scale shape: one explode pass builds the bigram-type table c2 —
# pinned (NARROW aggregate, round-6 rule) because FOUR consumers
# derive from it (c1 + continuation-fan, history-fan, type total,
# model base); the corpus is scanned once more for scoring against the
# model. The model join carries a static broadcast hint ONLY under the
# guards.bigram_model_bytes_bound proof (bigram types grow roughly
# with the corpus — ADVICE r7 — so at 100 TB the hint disengages and
# AQE picks the join strategy from true runtime sizes). No windows,
# no pairs.
# ---------------------------------------------------------------------------

KN_DISCOUNT = "CAST(0.75 AS DOUBLE)"


def kn_bigram_score(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    )
    bigrams = toks.select(
        "doc_id", F.inline(F.expr(ngrams_expr("toks", 2, ("prev", "w"))))
    )
    c2 = pin(
        bigrams.groupBy("prev", "w")
        .agg(F.count("*").alias("c2"))
    )
    c1 = c2.groupBy("prev").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("n1f")
    )
    n1b = c2.groupBy("w").agg(F.count("*").alias("n1b"))
    t = c2.agg(F.count("*").alias("t_types"))
    d = KN_DISCOUNT
    p_kn = (
        f"(CAST(c2 AS DOUBLE) - {d}) / c1 + "
        f"({d} * n1f / c1) * (CAST(n1b AS DOUBLE) / t_types)"
    )
    model = (
        c2.join(c1, "prev")
        .join(n1b, "w")
        .crossJoin(F.broadcast(t))
        .select(
            "prev",
            "w",
            F.expr(
                f"CAST(round(-ln({p_kn}), 9) AS DECIMAL(18,9))"
            ).alias("neg_lnp"),
        )
    )
    if broadcast_threshold is None:
        broadcast_threshold = broadcast_threshold_bytes(spark)
    model = broadcast_if_provably_small(
        model, bigram_model_bytes_bound(spark, sf_dir), broadcast_threshold
    )
    scored = bigrams.join(model, ["prev", "w"])
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("neg_lnp").alias("sum_neg_lnp"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        (F.col("sum_neg_lnp").cast("double") / F.col("n_bigrams")).alias(
            "mean_kn_neg_logprob"
        ),
    )


KN_BIGRAM_SCORE_SQL = f"""
    WITH toks AS (
        SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {{'prev': toks[i], 'w': toks[i + 1]}})) AS b
        FROM toks WHERE len(toks) >= 2
    ), pairs AS (
        SELECT doc_id, b.prev AS prev, b.w AS w FROM bg
    ), c2 AS (
        SELECT prev, w, count(*) AS c2 FROM pairs GROUP BY 1, 2
    ), c1 AS (
        SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1, count(*) AS n1f
        FROM c2 GROUP BY 1
    ), n1b AS (
        SELECT w, count(*) AS n1b FROM c2 GROUP BY 1
    ), t AS (
        SELECT count(*) AS t_types FROM c2
    ), model AS (
        SELECT c2.prev, c2.w,
               CAST(round(-ln(
                   (CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE)) / c1 +
                   (CAST(0.75 AS DOUBLE) * n1f / c1)
                       * (CAST(n1b AS DOUBLE) / t_types)
               ), 9) AS DECIMAL(18,9)) AS neg_lnp
        FROM c2 JOIN c1 USING (prev) JOIN n1b USING (w) CROSS JOIN t
    ), per_doc AS (
        SELECT doc_id, count(*) AS n_bigrams, SUM(neg_lnp) AS sum_neg_lnp
        FROM pairs JOIN model USING (prev, w) GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           CAST(sum_neg_lnp AS DOUBLE) / n_bigrams AS mean_kn_neg_logprob
    FROM per_doc
"""

QUERIES["kn_bigram_score"] = kn_bigram_score
ORACLE["kn_bigram_score"] = KN_BIGRAM_SCORE_SQL


# ---------------------------------------------------------------------------
# gopher_gates — the per-rule document quality gates of Rae et al. 2021
# ("Scaling Language Models", appendix A quality heuristics), each as
# its own boolean flag so a pipeline can tune thresholds per rule
# rather than consuming one opaque score (text_quality above is the
# scored form; this is the gated form C4/Gopher/RefinedWeb-style
# pipelines actually filter on):
#
#   R1 word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
#   R2 mean word length in [3, 10] characters
#   R3 >= 80% of words contain at least one alphabetic character
#   R4 symbol-to-word ratio ('#' or '...') <= 0.1
#   R5 at least 2 DISTINCT English stopwords appear
#
# All rules are integer/boolean column math over the token array —
# deterministic, shuffle-free, whole-stage codegen; keep = all pass.
# ---------------------------------------------------------------------------


def gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer counts first (_common.gopher_counts, shared with the
    # curation funnel); every ratio divides two exact integers
    c = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    ).select("doc_id", *[F.expr(e).alias(n) for n, e in gopher_counts().items()])
    flags = [F.expr(r).cast("long") for r in gopher_rules()]
    names = ("word_count", "mean_word_len", "alpha_frac", "symbol_ratio", "stopwords")
    return c.select(
        "doc_id",
        "n_words",
        *[f.alias(f"pass_{n}") for f, n in zip(flags, names)],
        sum(flags[1:], flags[0]).alias("n_rules_passed"),
        # the product, not gopher_keep(): a NULL rule makes keep NULL, as
        # in the oracle, where AND would let a failed word count win
        reduce(operator.mul, flags).alias("keep"),
    )


def _gopher_gates_sql() -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH t AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), c AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(toks, t -> length(t)))
                        AS BIGINT) AS n_chars,
                   CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                        AS BIGINT) AS n_alpha_words,
                   CAST(len(list_filter(toks,
                        t -> instr(t, '#') > 0 OR instr(t, '...') > 0))
                        AS BIGINT) AS n_symbol_words,
                   CAST(len(list_distinct(list_filter(toks, t -> t IN ({en}))))
                        AS BIGINT) AS n_distinct_stop
            FROM t
        ), f AS (
            SELECT doc_id, n_words,
                   CAST(n_words >= {GOPHER_MIN_WORDS}
                        AND n_words <= {GOPHER_MAX_WORDS} AS BIGINT) AS pass_word_count,
                   -- explicit DOUBLE division: Spark divides BIGINTs as
                   -- IEEE doubles; DuckDB's  x * 1.0  would go DECIMAL and
                   -- could break a threshold tie differently
                   CAST(CAST(n_chars AS DOUBLE) / n_words >= {GOPHER_MIN_MEAN_LEN}
                        AND CAST(n_chars AS DOUBLE) / n_words <= {GOPHER_MAX_MEAN_LEN}
                        AS BIGINT) AS pass_mean_word_len,
                   CAST(CAST(n_alpha_words AS DOUBLE) / n_words >= {GOPHER_MIN_ALPHA_FRAC}
                        AS BIGINT) AS pass_alpha_frac,
                   CAST(CAST(n_symbol_words AS DOUBLE) / n_words <= {GOPHER_MAX_SYMBOL_RATIO}
                        AS BIGINT) AS pass_symbol_ratio,
                   CAST(n_distinct_stop >= {GOPHER_MIN_STOPWORDS}
                        AS BIGINT) AS pass_stopwords
            FROM c
        )
        SELECT doc_id, n_words,
               pass_word_count, pass_mean_word_len, pass_alpha_frac,
               pass_symbol_ratio, pass_stopwords,
               pass_word_count + pass_mean_word_len + pass_alpha_frac
                   + pass_symbol_ratio + pass_stopwords AS n_rules_passed,
               pass_word_count * pass_mean_word_len * pass_alpha_frac
                   * pass_symbol_ratio * pass_stopwords AS keep
        FROM f
    """


QUERIES["gopher_gates"] = gopher_gates
ORACLE["gopher_gates"] = _gopher_gates_sql()


# ---------------------------------------------------------------------------
# Materialized text inverted index — the keyword-search counterpart of
# the persisted ANN layouts (operators/similarity.py): posting lists
# (token, doc_id, tf) written ONCE through io.persisted_layout,
# partitioned by a md5-derived token bucket, then probed by search.
# Because a query's term buckets are compile-time literals, the probe's
# partition filter is STATIC — the scan touches |terms| of the
# TEXT_INDEX_BUCKETS partitions and never reads the rest, which at
# 100 TB is the difference between a full corpus scan per query and
# touching ~terms/buckets of the postings.
# text_index_search returns byte-identical results to keyword_search
# (same oracle) — only the plan differs.
# ---------------------------------------------------------------------------

import hashlib as _hashlib

import numpy as _np

from google_cloud_ecommerce_spark.operators._common import (
    spark_double_array,
    sql_double_array,
)

TEXT_INDEX_BUCKETS = 32


def _py_token_bucket(tok: str) -> int:
    """Python twin of token_hash_expr % TEXT_INDEX_BUCKETS — used to turn
    query terms into LITERAL partition keys at plan time."""
    h = int(_hashlib.md5(tok.encode()).hexdigest()[:15], 16) % MERSENNE31
    return h % TEXT_INDEX_BUCKETS


def build_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the posting-list layout; lazy on a source fingerprint
    and the recipe (bucket count + hash scheme)."""

    def build(loc: str) -> None:
        postings = (
            _docs(spark, sf_dir)
            .select("doc_id", F.explode(F.expr(tokens_expr("text"))).alias("token"))
            .groupBy("token", "doc_id")
            .agg(F.count("*").alias("tf"))
            .withColumn(
                "bucket",
                F.expr(f"({token_hash_expr('token')}) % {TEXT_INDEX_BUCKETS}"),
            )
        )
        postings.write.mode("overwrite").partitionBy("bucket").parquet(loc)

    return persisted_layout(
        sf_dir, "text_index", "documents", f"tidx:b{TEXT_INDEX_BUCKETS}:md5mod:v1", build
    )


def text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_text_index(spark, sf_dir)
    idx = spark.read.parquet(path)
    term_buckets = sorted({_py_token_bucket(t) for t in QUERY_TERMS})
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    postings = idx.filter(
        F.col("bucket").isin(term_buckets) & F.expr(f"token IN ({terms})")
    )
    tf = (
        postings.groupBy("doc_id")
        .pivot("token", list(QUERY_TERMS))
        .sum("tf")
        .select(
            "doc_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"tf_{t}")
                for t in QUERY_TERMS
            ],
        )
    )
    # corpus size: a footer-count over the source table (1-row broadcast);
    # df per term comes from the pruned postings themselves
    n_docs = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    dfs = postings.groupBy().agg(
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ]
    )
    score = None
    for t in QUERY_TERMS:
        term_score = F.col(f"tf_{t}") * (
            F.col("n_docs").cast("double") / F.col(f"df_{t}")
        )
        score = term_score if score is None else score + term_score
    return (
        tf.crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(dfs))
        .withColumn("score", score)
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(SEARCH_TOP_K)
        .select("doc_id", *[f"tf_{t}" for t in QUERY_TERMS], "score")
    )


QUERIES["text_index_search"] = text_index_search
ORACLE["text_index_search"] = ORACLE["keyword_search"]


# ---------------------------------------------------------------------------
# quality_classifier_score — model-based quality filtering, the
# fastText-classifier stage of modern pretraining pipelines (the stage
# AFTER the heuristic gates: gopher_gates prunes garbage, a trained
# linear model ranks what remains). Here the "model" is a fixed-weight
# linear classifier over hashed bag-of-tokens features: feature index =
# md5-token-hash % QC_DIM, score = bias + mean feature weight. The
# weights are seeded literals inlined into BOTH engines (exactly like
# the projection/minhash constants); in production they come from
# training and load as a broadcast array — the plan is identical.
#
# Scale posture: pure per-row projection — no shuffle, no join, the
# classifier rides the scan (plan-tested). Determinism: the fold adds
# weights in token order (explicit left fold, not partition-dependent),
# and the keep decision compares the ROUNDED logit in both engines.
# ---------------------------------------------------------------------------

QC_DIM = 32
_qc_rng = _np.random.RandomState(20260814)
QC_WEIGHTS = [round(float(x), 6) for x in _qc_rng.randn(QC_DIM)]
QC_BIAS = 0.05


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_arr = spark_double_array(QC_WEIGHTS)
    fold = (
        f"aggregate({tokens_expr('lower(text)')}, CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + element_at({w_arr}, "
        f"CAST(({token_hash_expr('t')}) % {QC_DIM} AS INT) + 1))"
    )
    docs = _docs(spark, sf_dir).withColumn(
        "n_tokens", F.expr(f"CAST(size({tokens_expr('lower(text)')}) AS BIGINT)")
    )
    return (
        docs.filter(F.col("n_tokens") >= 1)
        .withColumn(
            # UNROUNDED: the fold is an identical left-to-right IEEE
            # sum in both engines, so the raw double is bit-identical —
            # while ROUND(x, 6) flips near-tie values between Spark's
            # HALF_UP-on-decimal-repr and DuckDB's binary rounding
            # (three docs at sf0.1 landed on such ties)
            "quality_logit",
            F.lit(QC_BIAS) + F.expr(fold) / F.col("n_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "quality_logit",
            (F.col("quality_logit") >= 0).cast("bigint").alias("is_kept"),
        )
    )


def _quality_classifier_sql() -> str:
    w_arr = sql_double_array(QC_WEIGHTS)
    fold = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(toks, t -> list_extract({w_arr}, "
        f"CAST(({token_hash_sql('t')}) % {QC_DIM} AS INT) + 1))), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
        WITH t AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), s AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                   {QC_BIAS} + {fold} / len(toks) AS quality_logit
            FROM t WHERE len(toks) >= 1
        )
        SELECT doc_id, n_tokens, quality_logit,
               CAST(quality_logit >= 0 AS BIGINT) AS is_kept
        FROM s
    """


QUERIES["quality_classifier_score"] = quality_classifier_score
ORACLE["quality_classifier_score"] = _quality_classifier_sql()


# ---------------------------------------------------------------------------
# ngram_novelty — cross-document repeated-passage coverage, the measure
# behind "deduplicate repeated substrings" curation (text_repetition
# above is WITHIN-doc; this is ACROSS docs). Each doc contributes its
# DISTINCT word 5-grams once; a corpus-wide count per gram marks grams
# seen in >= 2 docs as duplicated; the per-doc duplicated fraction is
# the novelty signal (1 - dup_frac) a curation pass thresholds on.
#
# Scale shape: grams are md5-hashed to 31-bit ints BEFORE the corpus
# aggregate, so the gram shuffle moves fixed-width keys instead of
# ~40-byte strings; both the count and the join shuffle on that hash.
# Everything is one explode + two hash aggregates + one shuffled join —
# no self-join, nothing quadratic, volume bounded by total token count.
# 31-bit collisions are deterministic and identical in both engines
# (shared md5 helper), so the oracle sees the exact same values.
# ---------------------------------------------------------------------------

NGRAM_N = 5


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_expr("lower(text)")).alias("toks")
    )
    grams = toks.select(
        "doc_id",
        F.explode(F.expr(f"array_distinct({ngrams_expr('toks', NGRAM_N)})")).alias(
            "gram"
        ),
    ).select("doc_id", F.expr(token_hash_expr("gram")).alias("gh"))
    gram_docs = grams.groupBy("gh").agg(F.count("*").alias("n_docs"))
    return (
        grams.join(gram_docs, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count(F.when(F.col("n_docs") >= 2, F.lit(1))).cast("long").alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup_grams") / F.col("n_grams"), 4)
        )
    )


def _ngram_novelty_sql() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), g AS (
            SELECT doc_id,
                   {token_hash_sql('gram')} AS gh
            FROM (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(toks) - {NGRAM_N - 2}),
                           i -> array_to_string(list_slice(toks, i, i + {NGRAM_N - 1}), ' ')
                       ))) AS gram
                FROM toks WHERE len(toks) >= {NGRAM_N}
            )
        ), gd AS (
            SELECT gh, count(*) AS n_docs FROM g GROUP BY 1
        )
        SELECT g.doc_id,
               count(*) AS n_grams,
               CAST(count(CASE WHEN gd.n_docs >= 2 THEN 1 END) AS BIGINT)
                   AS n_dup_grams,
               ROUND(CAST(count(CASE WHEN gd.n_docs >= 2 THEN 1 END) AS DOUBLE)
                     / count(*), 4) AS dup_frac
        FROM g JOIN gd USING (gh)
        GROUP BY 1
    """


QUERIES["ngram_novelty"] = ngram_novelty
ORACLE["ngram_novelty"] = _ngram_novelty_sql()


# ---------------------------------------------------------------------------
# tokenizer_fertility — per-language tokenizer-efficiency report: the
# subword-per-word ("fertility") and chars-per-subword ratios a
# multilingual pipeline uses to rebalance its language mix (a language
# the tokenizer fragments heavily costs more sequence length per unit
# of text, so its byte share under-states its token share).
#
# One map-side pass (per-doc counts are column folds, no explode) into
# one hash aggregate keyed by lang — partial aggregation makes the
# shuffle |langs| rows per partition regardless of corpus size. The
# ratios are IEEE divisions of exact integer sums, so the doubles are
# bit-identical across engines and ship unrounded.
# ---------------------------------------------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _docs(spark, sf_dir).select(
        "lang",
        F.expr(f"CAST(size({tokens_expr('text')}) AS BIGINT)").alias("ws"),
        F.expr(
            f"CAST(size(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}', 0)) AS BIGINT)"
        ).alias("bpe"),
        F.col("n_chars"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "total_chars",
        (F.col("bpe_tokens") / F.col("ws_tokens")).alias("fertility"),
        (F.col("total_chars") / F.col("bpe_tokens")).alias("chars_per_token"),
    )


def _tokenizer_fertility_sql() -> str:
    return f"""
        WITH d AS (
            SELECT lang,
                   CAST(len({tokens_sql('text')}) AS BIGINT) AS ws,
                   CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}'))
                        AS BIGINT) AS bpe,
                   n_chars
            FROM documents
        ), a AS (
            SELECT lang, count(*) AS n_docs,
                   CAST(SUM(ws) AS BIGINT) AS ws_tokens,
                   CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM d GROUP BY 1
        )
        SELECT lang, n_docs, ws_tokens, bpe_tokens, total_chars,
               bpe_tokens / ws_tokens AS fertility,
               total_chars / bpe_tokens AS chars_per_token
        FROM a
    """


QUERIES["tokenizer_fertility"] = tokenizer_fertility
ORACLE["tokenizer_fertility"] = _tokenizer_fertility_sql()


# ---------------------------------------------------------------------------
# adaptive_quality_gates — per-source percentile thresholding: instead
# of one corpus-wide quality cutoff (which silently empties strict
# sources and waves through lax ones), each source keeps its own top
# (1 - GATE_PCT) fraction by quality score. This is the adaptive-
# threshold filtering step of recent web-corpus recipes, in contrast
# to the FIXED gates of gopher_gates.
#
# Scale shape: the score is the same pure column formula as
# text_quality (map-side, codegen); the ranking is a window PARTITIONED
# BY source — parallel per source, never a global sort. percent_rank =
# (rank-1)/(n-1) over a tie-free order (score, then doc_id), so the
# cutoff row set is deterministic and engine-identical; the score and
# rank doubles are exact IEEE arithmetic on integer operands and ship
# unrounded.
# ---------------------------------------------------------------------------

GATE_PCT = 0.25


def adaptive_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    en_stop = _stopword_count_expr("en")
    scored = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.expr(f"{tokens_expr('lower(text)')}").alias("toks"),
        )
        .filter("size(toks) >= 1")
        .select(
            "doc_id",
            "source",
            (
                F.least(F.expr("size(toks)") / F.lit(50.0), F.lit(1.0)) * 0.5
                + F.expr("size(array_distinct(toks))") / F.expr("size(toks)") * 0.3
                + F.least(F.expr(en_stop) / F.expr("size(toks)") * 5.0, F.lit(1.0))
                * 0.2
            ).alias("quality_score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("quality_score"), F.asc("doc_id")
    )
    return scored.select(
        "doc_id",
        "source",
        "quality_score",
        F.percent_rank().over(w).alias("pct_rank"),
        (F.percent_rank().over(w) >= F.lit(GATE_PCT)).cast("long").alias("is_kept"),
    )


def _adaptive_quality_gates_sql() -> str:
    en_stop = _stopword_count_sql("en")
    return f"""
        WITH t AS (
            SELECT doc_id, source, {tokens_sql('lower(text)')} AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, source,
                   least(len(toks) / 50.0, 1.0) * 0.5
                       + len(list_distinct(toks)) * 1.0 / len(toks) * 0.3
                       + least({en_stop} * 1.0 / len(toks) * 5.0, 1.0) * 0.2
                       AS quality_score
            FROM t WHERE len(toks) >= 1
        )
        SELECT doc_id, source, quality_score,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY quality_score, doc_id) AS pct_rank,
               CAST(percent_rank() OVER (PARTITION BY source
                                         ORDER BY quality_score, doc_id)
                    >= {GATE_PCT} AS BIGINT) AS is_kept
        FROM s
    """


QUERIES["adaptive_quality_gates"] = adaptive_quality_gates
ORACLE["adaptive_quality_gates"] = _adaptive_quality_gates_sql()


# ---------------------------------------------------------------------------
# gate_attribution — which quality gate does the work: per Gopher rule,
# how many documents fail it and how many it UNIQUELY kills (docs
# passing the other four). Uniform fail counts with near-zero unique
# kills mean the rules are redundant and thresholds can relax; one
# rule owning most unique kills is the gate actually shaping the
# corpus. Composed from the same gopher_gates operator exposed
# individually: one generator unpivot of the 5 flag columns + one hash
# aggregate keyed by rule (5 groups), plus a 1-row total broadcast.
# ---------------------------------------------------------------------------

_GATE_RULES = (
    ("word_count", "pass_word_count"),
    ("mean_word_len", "pass_mean_word_len"),
    ("alpha_frac", "pass_alpha_frac"),
    ("symbol_ratio", "pass_symbol_ratio"),
    ("stopwords", "pass_stopwords"),
)


def gate_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = gopher_gates(spark, sf_dir)
    stack_args = ", ".join(f"'{name}', {col}" for name, col in _GATE_RULES)
    st = g.select(
        "n_rules_passed",
        F.expr(f"stack({len(_GATE_RULES)}, {stack_args}) AS (rule, passed)"),
    )
    agg = st.groupBy("rule").agg(
        F.count(F.when(F.col("passed") == 0, F.lit(1)))
        .cast("long")
        .alias("n_failed"),
        F.count(
            F.when(
                (F.col("passed") == 0) & (F.col("n_rules_passed") == 4), F.lit(1)
            )
        )
        .cast("long")
        .alias("n_unique_kills"),
    )
    tot = g.agg(F.count("*").cast("long").alias("n_docs"))
    return agg.join(F.broadcast(tot)).select(
        "rule",
        "n_failed",
        "n_unique_kills",
        "n_docs",
        (F.col("n_failed").cast("double") / F.col("n_docs")).alias("fail_frac"),
    )


def _gate_attribution_sql() -> str:
    unions = "\n            UNION ALL\n".join(
        f"            SELECT n_rules_passed, '{name}' AS rule, {col} AS passed"
        f" FROM g"
        for name, col in _GATE_RULES
    )
    return f"""
        WITH g AS ({_gopher_gates_sql()}),
        st AS (
{unions}
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs FROM g
        )
        SELECT rule,
               CAST(count(CASE WHEN passed = 0 THEN 1 END) AS BIGINT)
                   AS n_failed,
               CAST(count(CASE WHEN passed = 0 AND n_rules_passed = 4
                          THEN 1 END) AS BIGINT) AS n_unique_kills,
               tot.n_docs,
               CAST(count(CASE WHEN passed = 0 THEN 1 END) AS DOUBLE)
                   / tot.n_docs AS fail_frac
        FROM st, tot
        GROUP BY 1, tot.n_docs
    """


QUERIES["gate_attribution"] = gate_attribution
ORACLE["gate_attribution"] = _gate_attribution_sql()


# ---------------------------------------------------------------------------
# skipgram_pairs — word2vec-style (center, context) training-pair
# extraction: for every token, its neighbors within a symmetric window
# of SKIPGRAM_WINDOW positions become (center, context, 1/distance)
# pairs, aggregated corpus-wide. This is the pair-generation stage an
# embedding-training pipeline runs ahead of SGNS; the inverse-distance
# weight is word2vec's implicit window weighting made explicit.
#
# Scale shape: the pair list is built PER ROW with nested array
# lambdas (no positional self-join — a join on doc_id re-shuffles the
# corpus and goes quadratic in document length), then one explode and
# ONE hash aggregate on (center, context). Row expansion is bounded by
# 2*W per token; the shuffle is vocabulary-pair-bounded with map-side
# partial aggregation. MIN_PAIR_COUNT keeps the long noise tail out of
# the output (word2vec's min_count). The 1/d weights for W = 2 are
# dyadic rationals (1.0, 0.5), so the double sums are EXACT and
# order-independent — no decimal detour needed.
# ---------------------------------------------------------------------------

SKIPGRAM_WINDOW = 2
SKIPGRAM_MIN_COUNT = 2


def skipgram_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: int = SKIPGRAM_WINDOW,
    min_count: int = SKIPGRAM_MIN_COUNT,
) -> DataFrame:
    """Registry fixture uses (window=2, min_count=2); production SGNS
    prep typically runs window 5-10 and min_count 5 — both are plain
    literals in the generated expression, so any setting stays one
    explode + one aggregate."""
    w = int(window)
    toks = (
        _docs(spark, sf_dir)
        .select(F.expr(tokens_expr("lower(text)")).alias("toks"))
        .filter(F.expr("size(toks) >= 2"))
    )
    # Round-12 (guide §1.2 "per-task work"): the pair list was a nested
    # transform-filter-transform + flatten — three interpreted lambda
    # layers per token (higher-order functions never codegen). The same
    # pair MULTISET is 2*W flat zip_with's over shifted slices (offset o
    # pairs each token with its +o and -o neighbor; clipping falls out
    # of the slice length), concatenated — one lambda layer, no filter
    # pass, no flatten. Interleaved A/B at sf0.1: min 2.22 -> 1.79 s,
    # identical (center, context, n_pairs, sum_w) rows.
    parts = []
    for o in range(1, w + 1):
        ln = f"greatest(size(toks) - {o}, 0)"
        fwd, bwd = f"slice(toks, 1, {ln})", f"slice(toks, {1 + o}, {ln})"
        parts.append(
            f"zip_with({fwd}, {bwd}, (a, b) -> "
            f"named_struct('center', a, 'context', b, 'd', {o}))"
        )
        parts.append(
            f"zip_with({bwd}, {fwd}, (a, b) -> "
            f"named_struct('center', a, 'context', b, 'd', {o}))"
        )
    gen = "concat(" + ", ".join(parts) + ")"
    return (
        toks.select(F.explode(F.expr(gen)).alias("p"))
        .groupBy(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.lit(1.0) / F.col("p.d")).alias("sum_w"),
        )
        .filter(F.col("n_pairs") >= min_count)
    )


def _skipgram_pairs_sql() -> str:
    w, mc = SKIPGRAM_WINDOW, SKIPGRAM_MIN_COUNT
    return f"""
        WITH t AS (
            SELECT {tokens_sql('lower(text)')} AS toks FROM documents
        ), p AS (
            SELECT unnest(flatten(list_transform(range(1, len(toks) + 1),
                i -> list_transform(
                    list_filter(range(greatest(1, i - {w}),
                                      least(len(toks), i + {w}) + 1),
                                j -> j != i),
                    j -> struct_pack(center := toks[i],
                                     context := toks[j],
                                     d := abs(j - i)))))) AS g
            FROM t WHERE len(toks) >= 2
        )
        SELECT g.center AS center, g.context AS context,
               count(*) AS n_pairs,
               SUM(CAST(1.0 AS DOUBLE) / g.d) AS sum_w
        FROM p GROUP BY 1, 2
        HAVING count(*) >= {mc}
    """


QUERIES["skipgram_pairs"] = skipgram_pairs
ORACLE["skipgram_pairs"] = _skipgram_pairs_sql()


# ---------------------------------------------------------------------------
# token_zipf_fit — the corpus-statistics health check: least-squares
# fit of log(frequency) against log(rank) over the full vocabulary
# (Zipf's law predicts slope ~ -1 for natural language; a corpus whose
# slope drifts far from that is boilerplate-heavy or template-spammed).
#
# Rank without ranking: like key_skew_report's gini, the regression
# sums only need each token's RANK, and ranks within a run of
# equal-frequency tokens are consecutive — so the per-token rank table
# is reconstructed from the FREQUENCY HISTOGRAM (distinct frequency
# values, orders of magnitude smaller than the vocabulary): a run of c
# tokens at frequency f starts at rank 1 + (tokens with higher f), via
# the guarded prefix sum (_hist_exclusive_prefix: broadcast θ-join
# under the hist_bytes_bound proof, range-partitioned running sum
# above it), and explodes to (rank, f)
# INT pairs — never a global sort, never a window, no token strings
# past the first aggregate. The rank expansion is two-level (blocks of
# ZIPF_BLOCK) so no single sequence() materializes a vocabulary-sized
# array on one row.
#
# Determinism: ln() values are rounded to 6 decimals and accumulated
# as DECIMAL(18,6) (products DECIMAL(37,12)), so every regression sum
# is order-independent and engine-exact; the closed-form slope /
# intercept are then identical IEEE double expressions on identical
# inputs.
# ---------------------------------------------------------------------------

ZIPF_BLOCK = 4096


def _hist_exclusive_prefix(
    spark: SparkSession,
    sf_dir: str,
    hist: DataFrame,
    broadcast_threshold: int | None,
) -> DataFrame:
    """(f, c) -> (f, c, before) where before = sum of c over rows with
    LARGER f — the tokens-ranked-before count both histogram consumers
    (token_zipf_fit, vocab_prune_coverage) need. Two plans, guarded on
    guards.hist_bytes_bound (VERDICT r8 #5 A/B, sf0.1 min-of-3 on
    token_zipf_fit / vocab_prune_coverage):
      - triangular broadcast θ-join (0.75 / 0.47 s): quadratic in
        |hist| and broadcasts it — unbeatable while the histogram is
        provably tiny, an executor OOM + 10^13-pair blowup at 100 TB
        (|hist| <= sqrt(2 * tokens) ~ 7M rows there);
      - range_partition_prefix_sum (0.92 / 0.73 s locally, measured
        with the old broadcast offsets): one range shuffle of the
        sub-linear histogram, per-partition window, per-PARTITION sums
        collected to the driver as offsets — linear at any scale. The
        ~0.2 s local delta is the extra shuffle + checkpoint barrier;
        kept as the above-bound path only."""
    if broadcast_threshold is None:
        broadcast_threshold = broadcast_threshold_bytes(spark)
    if hist_bytes_bound(spark, sf_dir) <= broadcast_threshold:
        earlier = hist.select(F.col("f").alias("e_f"), F.col("c").alias("e_c"))
        return (
            hist.join(F.broadcast(earlier), F.col("e_f") > F.col("f"), "left")
            .groupBy("f", "c")
            .agg(F.coalesce(F.sum("e_c"), F.lit(0)).alias("before"))
        )
    return range_partition_prefix_sum(hist, [F.desc("f")], "c", "before").select(
        "f", "c", "before"
    )


def token_zipf_fit(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    freqs = toks.groupBy("token").agg(F.count("*").alias("f"))
    # round-7 pin: the frequency histogram is NARROW (two int64 cols)
    # and feeds both sides of the prefix self-join — unpinned, each
    # side replanned the tokenize + explode + two aggregates (3
    # documents FileScans)
    hist = pin(
        freqs.groupBy("f")
        .agg(F.count("*").alias("c"))
    )
    pref = _hist_exclusive_prefix(spark, sf_dir, hist, broadcast_threshold)
    B = ZIPF_BLOCK
    ranked = (
        pref.select(
            "f",
            "c",
            "before",
            F.explode(F.expr(f"sequence(0, (c - 1) div {B})")).alias("blk"),
        )
        .select(
            "f",
            F.explode(
                F.expr(
                    f"sequence(before + 1 + blk * {B}, "
                    f"least(before + c, before + (blk + 1) * {B}))"
                )
            ).alias("r"),
        )
        .select(
            F.round(F.log("r"), 6).cast("decimal(18,6)").alias("x"),
            F.round(F.log("f"), 6).cast("decimal(18,6)").alias("y"),
        )
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    totals = hist.agg(
        F.sum("c").alias("n_vocab"),
        F.sum(F.col("f") * F.col("c")).alias("total_tokens"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        sums.withColumn("_k", F.lit(1))
        .join(F.broadcast(totals.withColumn("_k", F.lit(1))), "_k")
        .select(
            "n_vocab",
            "total_tokens",
            F.round(slope, 4).alias("zipf_slope"),
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
            ).alias("zipf_intercept"),
        )
    )


def _token_zipf_fit_sql() -> str:
    return f"""
        WITH tok AS (
            SELECT unnest({tokens_sql('lower(text)')}) AS token
            FROM documents
        ), freqs AS (
            SELECT token, count(*) AS f FROM tok GROUP BY 1
        ), hist AS (
            SELECT f, count(*) AS c FROM freqs GROUP BY 1
        ), pref AS (
            SELECT h.f, h.c,
                   COALESCE(SUM(e.c), 0) AS before
            FROM hist h LEFT JOIN hist e ON e.f > h.f
            GROUP BY h.f, h.c
        ), ranked AS (
            SELECT CAST(ROUND(ln(r), 6) AS DECIMAL(18,6)) AS x,
                   CAST(ROUND(ln(f), 6) AS DECIMAL(18,6)) AS y
            FROM pref, unnest(range(CAST(before + 1 AS BIGINT),
                                    CAST(before + c + 1 AS BIGINT))) t(r)
        ), s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx,
                   CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx
            FROM ranked
        ), tot AS (
            SELECT CAST(SUM(c) AS BIGINT) AS n_vocab,
                   CAST(SUM(f * c) AS BIGINT) AS total_tokens
            FROM hist
        )
        SELECT n_vocab, total_tokens,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
                   AS zipf_slope,
               ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n, 4) AS zipf_intercept
        FROM s, tot
    """


QUERIES["token_zipf_fit"] = token_zipf_fit
ORACLE["token_zipf_fit"] = _token_zipf_fit_sql()


# ---------------------------------------------------------------------------
# heldout_perplexity — the eval loop for corpus language-model health:
# a unigram LM with add-one (Laplace) smoothing is fit on the TRAIN
# split (doc_id % HOLDOUT_MOD != 0) and scored on the HELD-OUT split
# — p(t) = (c_t + 1) / (N + V + 1), the +1 bucket covering OOV tokens
# the train split never saw. lm_score above is the same machinery as
# an in-corpus quality gate; this is the honest train/eval discipline
# (scoring on data the model saw inflates quality — the same leakage
# eval_split_leakage measures at the n-gram level). Per held-out doc:
# token count, OOV count, and mean negative log-probability (the log
# of perplexity — exp() is deliberately NOT taken: one libm call per
# row is a cross-engine last-ulp hazard the log form avoids).
#
# Determinism: one ln per distinct train count (rounded to
# DECIMAL(18,9) like lm_score), decimal per-doc sums, deterministic
# IEEE division for the mean. Scale shape: counts shuffle once on
# token, eval tokens join the vocabulary on token (both data-sized,
# shuffled join — the vocabulary of a 100 TB corpus is NOT broadcast-
# able), and the OOV constant rides a 1-row broadcast.
# ---------------------------------------------------------------------------

HOLDOUT_MOD = 10


def heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    train_toks = docs.filter(F.col("doc_id") % HOLDOUT_MOD != 0).select(
        F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    eval_toks = docs.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select(
        "doc_id", F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    # the train-side vocabulary histogram feeds the totals, the
    # per-token table AND (via totals) the OOV bucket — pinned so the
    # train tokenize runs once (round-6 scan audit: 4 documents scans)
    counts = pin(
        train_toks.groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v")
    )
    vocab = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.expr(
            "CAST(round(-ln(CAST(c + 1 AS DOUBLE) / (n_total + v + 1)), 9) "
            "AS DECIMAL(18,9))"
        ).alias("neg_lnp"),
    )
    oov = totals.select(
        F.expr(
            "CAST(round(-ln(CAST(1 AS DOUBLE) / (n_total + v + 1)), 9) "
            "AS DECIMAL(18,9))"
        ).alias("oov_neg_lnp")
    )
    scored = (
        eval_toks.crossJoin(F.broadcast(oov))
        .join(vocab, "token", "left")
        .select(
            "doc_id",
            F.coalesce("neg_lnp", "oov_neg_lnp").alias("nll"),
            F.col("neg_lnp").isNull().cast("long").alias("is_oov"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("is_oov").alias("n_oov"),
        F.sum("nll").alias("sum_nll"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("sum_nll").cast("double") / F.col("n_tokens")).alias(
            "mean_neg_logprob"
        ),
    )


HELDOUT_PERPLEXITY_SQL = f"""
    WITH train_toks AS (
        SELECT unnest({tokens_sql('lower(text)')}) AS token
        FROM documents WHERE doc_id % {HOLDOUT_MOD} != 0
    ), eval_toks AS (
        SELECT doc_id, unnest({tokens_sql('lower(text)')}) AS token
        FROM documents WHERE doc_id % {HOLDOUT_MOD} = 0
    ), counts AS (
        SELECT token, count(*) AS c FROM train_toks GROUP BY 1
    ), totals AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_total,
               count(*) AS v
        FROM counts
    ), vocab AS (
        SELECT token,
               CAST(round(-ln(CAST(c + 1 AS DOUBLE) / (n_total + v + 1)), 9)
                    AS DECIMAL(18,9)) AS neg_lnp
        FROM counts CROSS JOIN totals
    ), oov AS (
        SELECT CAST(round(-ln(CAST(1 AS DOUBLE) / (n_total + v + 1)), 9)
                    AS DECIMAL(18,9)) AS oov_neg_lnp
        FROM totals
    ), scored AS (
        SELECT e.doc_id,
               COALESCE(vo.neg_lnp, o.oov_neg_lnp) AS nll,
               CASE WHEN vo.neg_lnp IS NULL THEN 1 ELSE 0 END AS is_oov
        FROM eval_toks e CROSS JOIN oov o
        LEFT JOIN vocab vo ON e.token = vo.token
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(SUM(is_oov) AS BIGINT) AS n_oov,
           CAST(SUM(nll) AS DOUBLE) / count(*) AS mean_neg_logprob
    FROM scored GROUP BY 1
"""

QUERIES["heldout_perplexity"] = heldout_perplexity
ORACLE["heldout_perplexity"] = HELDOUT_PERPLEXITY_SQL


# ---------------------------------------------------------------------------
# skipgram_pmi — pointwise mutual information over the skip-gram pair
# distribution: PMI(a,b) = ln( n_ab * N / (n_a * n_b) ) with n_a / n_b
# the center/context marginals and N the total pair count. The classic
# word-association statistic — and the quantity SGNS embeddings
# implicitly factorize (shifted by ln k), which makes this the
# analytical companion to skipgram_pairs: what the embedding model
# WOULD learn, computed exactly.
#
# Scale shape: one pair aggregate (shared shape with skipgram_pairs),
# two marginal aggregates joined back on their single token key, one
# 1-row broadcast for N. The ln argument is an exact integer ratio —
# one ln per output row, rounded to 4, the same last-ulp exposure as
# every other libm call the registry already carries (documented:
# ~1e-12 per-row flip probability).
# ---------------------------------------------------------------------------


def skipgram_pmi(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: int = SKIPGRAM_WINDOW,
    min_count: int = SKIPGRAM_MIN_COUNT,
) -> DataFrame:
    # the pair table (the expensive corpus explode + aggregate) feeds
    # the two marginals, the total AND the scoring join — pinned so the
    # explode runs once, not four times (round-6 scan audit)
    pairs = pin(
        skipgram_pairs(spark, sf_dir, window=window, min_count=1)
        .select("center", "context", "n_pairs")
    )
    n_a = pairs.groupBy("center").agg(F.sum("n_pairs").alias("n_center"))
    n_b = pairs.groupBy("context").agg(F.sum("n_pairs").alias("n_context"))
    total = pairs.agg(F.sum("n_pairs").alias("n_total"))
    return (
        pairs.filter(F.col("n_pairs") >= min_count)
        .join(n_a, "center")
        .join(n_b, "context")
        .crossJoin(F.broadcast(total))
        .select(
            "center",
            "context",
            "n_pairs",
            (
                # + 0.0 normalizes IEEE signed zero: a tiny negative
                # PMI rounds to -0.0 in DuckDB but 0.0 in Spark
                F.round(
                    F.expr(
                        "ln(CAST(n_pairs AS DOUBLE) * n_total"
                        " / (n_center * n_context))"
                    ),
                    4,
                )
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


def _skipgram_pmi_sql() -> str:
    w, mc = SKIPGRAM_WINDOW, SKIPGRAM_MIN_COUNT
    base = f"""
            SELECT g.center AS center, g.context AS context,
                   count(*) AS n_pairs
            FROM (
                SELECT unnest(flatten(list_transform(range(1, len(toks) + 1),
                    i -> list_transform(
                        list_filter(range(greatest(1, i - {w}),
                                          least(len(toks), i + {w}) + 1),
                                    j -> j != i),
                        j -> struct_pack(center := toks[i],
                                         context := toks[j]))))) AS g
                FROM (SELECT {tokens_sql('lower(text)')} AS toks
                      FROM documents) t
                WHERE len(toks) >= 2
            ) p GROUP BY 1, 2
    """
    return f"""
        WITH pairs AS ({base}),
        n_a AS (
            SELECT center, CAST(SUM(n_pairs) AS BIGINT) AS n_center
            FROM pairs GROUP BY 1
        ), n_b AS (
            SELECT context, CAST(SUM(n_pairs) AS BIGINT) AS n_context
            FROM pairs GROUP BY 1
        ), tot AS (
            SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total FROM pairs
        )
        SELECT p.center, p.context, p.n_pairs,
               ROUND(ln(CAST(p.n_pairs AS DOUBLE) * n_total
                        / (n_center * n_context)), 4) + 0.0 AS pmi
        FROM pairs p
        JOIN n_a USING (center)
        JOIN n_b USING (context)
        CROSS JOIN tot
        WHERE p.n_pairs >= {mc}
    """


QUERIES["skipgram_pmi"] = skipgram_pmi
ORACLE["skipgram_pmi"] = _skipgram_pmi_sql()


# ---------------------------------------------------------------------------
# vocab_prune_coverage — the vocabulary-size selection curve: what
# fraction of all token OCCURRENCES the top-V vocabulary entries cover,
# at a V grid. The companion to token_zipf_fit (same histogram) and
# the number a tokenizer/embedding-table budget decision actually
# needs: coverage(V) flattens exactly where extra vocab stops paying.
#
# Scale shape: vocabulary ranks are NEVER materialized per token — the
# frequency histogram (|distinct frequencies| rows, sub-linear) carries
# (freq, class size, tokens-ranked-before) via the same guarded prefix
# sum as token_zipf_fit; coverage at each budget is the
# closed form sum(f * clamp(V - before, 0, c)) — exact integers, no
# sort, no window, nothing proportional to vocabulary size past the
# first aggregate.
# ---------------------------------------------------------------------------

VOCAB_BUDGETS = (1, 2, 4, 8, 16, 32)


def vocab_prune_coverage(
    spark: SparkSession, sf_dir: str, broadcast_threshold: int | None = None
) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(F.expr(tokens_expr("lower(text)"))).alias("token")
    )
    freqs = toks.groupBy("token").agg(F.count("*").alias("f"))
    # round-7 pin: the histogram feeds the prefix self-join (both
    # sides) AND the totals broadcast — unpinned, all three replanned
    # the tokenize + explode + two aggregates (3 documents FileScans)
    hist = pin(
        freqs.groupBy("f")
        .agg(F.count("*").alias("c"))
    )
    pref = _hist_exclusive_prefix(spark, sf_dir, hist, broadcast_threshold)
    budgets = ", ".join(str(v) for v in VOCAB_BUDGETS)
    # r12 fuse (guide §2.4): the budget explode replicates every pref
    # row exactly once per budget, so sum(f*c) / sum(c) WITHIN each
    # budget group equal the global totals exactly (integers) — the
    # separate totals aggregate, its single-partition exchange, and the
    # broadcast-nested-loop join-back all drop out of the plan.
    # Interleaved A/B at sf0.1: min 1.49 -> 1.34 s, rows identical.
    return (
        pref.select(
            "f", "c", "before", F.explode(F.expr(f"array({budgets})")).alias("v_budget")
        )
        .withColumn("take", F.expr("least(greatest(v_budget - before, 0L), c)"))
        .groupBy("v_budget")
        .agg(
            F.sum(F.expr("f * take")).alias("covered_tokens"),
            F.sum(F.expr("f * c")).alias("total_tokens"),
            F.sum("c").alias("n_vocab"),
        )
        .select(
            F.col("v_budget").cast("int").alias("v_budget"),
            F.col("covered_tokens").cast("long").alias("covered_tokens"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("n_vocab").cast("long").alias("n_vocab"),
            F.expr(
                "round(CAST(covered_tokens AS DOUBLE) / total_tokens, 6)"
            ).alias("coverage"),
        )
    )


def _vocab_prune_coverage_sql() -> str:
    budgets = ", ".join(f"({v})" for v in VOCAB_BUDGETS)
    return f"""
        WITH toks AS (
            SELECT unnest({tokens_sql('lower(text)')}) AS token FROM documents
        ), freqs AS (
            SELECT token, count(*) AS f FROM toks GROUP BY 1
        ), hist AS (
            SELECT f, count(*) AS c FROM freqs GROUP BY 1
        ), pref AS (
            SELECT f, c,
                   CAST(COALESCE(SUM(c) OVER (
                       ORDER BY f DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS before
            FROM hist
        ), per AS (
            SELECT g.v_budget,
                   CAST(SUM(f * least(greatest(g.v_budget - before, 0), c))
                        AS BIGINT) AS covered_tokens
            FROM pref CROSS JOIN (VALUES {budgets}) AS g(v_budget)
            GROUP BY 1
        ), totals AS (
            SELECT CAST(SUM(f * c) AS BIGINT) AS total_tokens,
                   CAST(SUM(c) AS BIGINT) AS n_vocab
            FROM hist
        )
        SELECT CAST(v_budget AS INT) AS v_budget, covered_tokens,
               total_tokens, n_vocab,
               ROUND(CAST(covered_tokens AS DOUBLE) / total_tokens, 6) AS coverage
        FROM per CROSS JOIN totals
    """


QUERIES["vocab_prune_coverage"] = vocab_prune_coverage
ORACLE["vocab_prune_coverage"] = _vocab_prune_coverage_sql()


# ---------------------------------------------------------------------------
# char_entropy_gate — Shannon character-entropy quality gate (the
# CCNet/RefinedWeb-family "garbage text" filter: keyboard mashing,
# repeated separators and binary-ish payloads all collapse to low
# character entropy, while natural language across scripts sits in a
# stable band). H = -sum_c p_c*log2(p_c) over the doc's characters;
# the gate passes docs with H >= ENTROPY_MIN.
#
# Cross-engine float policy (verify skill): log2 is a libm
# transcendental, so each term is ROUNDed to 6 decimals and accumulated
# as DECIMAL(18,6) — the sum is order-independent and bit-identical in
# both engines; the widened decimal stays < 2^53 so the final DOUBLE
# cast is exact on both sides. The gate compares against that exact
# value, so the pass/fail row set is stable.
#
# Scale shape: the char explode is n_chars rows into a (doc_id, ch)
# hash aggregate (alphabet-bounded out-degree), then one doc-keyed
# join+aggregate — linear, map-side-combinable, no windows.
# ---------------------------------------------------------------------------

ENTROPY_MIN = 3.0


def char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.length("text") >= 1)
    freq = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    tot = freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"), F.count("*").alias("n_distinct")
    )
    terms = freq.join(tot, "doc_id").withColumn(
        "term",
        F.round(
            (F.col("cnt") / F.col("n")) * F.log2(F.col("cnt") / F.col("n")), 6
        ).cast("decimal(18,6)"),
    )
    return (
        terms.groupBy("doc_id", "n", "n_distinct")
        .agg(F.sum("term").alias("s"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars_counted"),
            F.col("n_distinct").alias("n_distinct_chars"),
            # single-char docs: -(-0.0) would render as -0.0; pin to 0.0
            F.expr(
                "CASE WHEN n_distinct = 1 THEN CAST(0.0 AS DOUBLE) "
                "ELSE -CAST(s AS DOUBLE) END"
            ).alias("entropy"),
            F.expr(
                f"CASE WHEN n_distinct = 1 THEN false "
                f"ELSE -CAST(s AS DOUBLE) >= {ENTROPY_MIN} END"
            ).alias("passes"),
        )
    )


def _char_entropy_gate_sql() -> str:
    return f"""
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents WHERE len(text) >= 1
        ), freq AS (
            SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2
        ), tot AS (
            SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
                   count(*) AS n_distinct
            FROM freq GROUP BY 1
        ), terms AS (
            SELECT f.doc_id, t.n, t.n_distinct,
                   CAST(ROUND((CAST(f.cnt AS DOUBLE) / t.n)
                        * log2(CAST(f.cnt AS DOUBLE) / t.n), 6)
                        AS DECIMAL(18,6)) AS term
            FROM freq f JOIN tot t USING (doc_id)
        )
        SELECT doc_id, n AS n_chars_counted, n_distinct AS n_distinct_chars,
               CASE WHEN n_distinct = 1 THEN CAST(0.0 AS DOUBLE)
                    ELSE -CAST(SUM(term) AS DOUBLE) END AS entropy,
               CASE WHEN n_distinct = 1 THEN false
                    ELSE -CAST(SUM(term) AS DOUBLE) >= {ENTROPY_MIN} END AS passes
        FROM terms
        GROUP BY 1, 2, 3
    """


QUERIES["char_entropy_gate"] = char_entropy_gate
ORACLE["char_entropy_gate"] = _char_entropy_gate_sql()


# ---------------------------------------------------------------------------
# winnowing_fingerprints — MOSS winnowing (Schleimer, Wilkerson &
# Aiken, SIGMOD 2003 "Winnowing: Local Algorithms for Document
# Fingerprinting"): hash every k-token gram, slide a w-hash window,
# keep each window's MINIMUM hash. The guarantee: any shared run of
# >= k + w - 1 tokens between two documents yields at least one shared
# fingerprint, while only ~2/(w+1) of the grams are stored — the
# robust, sublinear fingerprint set plagiarism/variant detection
# stores instead of every gram. Per doc: gram count, fingerprint count
# (the density the 2/(w+1) bound predicts), and fingerprints shared
# with another document. Contrast doc_fingerprint (one rolling hash
# per doc: whole-doc identity only) and repeated_span_dedup (every
# position, exact but k-times denser).
#
# Cross-engine: grams hash with the md5-derived 31-bit token hash
# (identical text in both engines), so the argmin SELECTION — not
# just the counts — matches bit-for-bit. The k-gram hash list is
# let-bound once per doc (the transform(array(..))[0] binding); the
# explode output is fingerprint ints, aggregated per value.
# Scale shape: linear explode, then ONE pass — the cross-doc share of
# each fingerprint comes from count(*) OVER (PARTITION BY fp), so the
# exploded subtree is evaluated once (the round-6 aggregate+join-back
# shape re-planned it 4x: 4 FileScans / 6 Exchanges, VERDICT r6 #1).
# Per-doc fps are distinct, so the partition count IS the doc count.
# No unpartitioned window, no pairs; skew is bounded by corpus reuse
# of a single 3-gram — the same bound the join-back shape had.
# ---------------------------------------------------------------------------

WINNOW_K = 3  # tokens per gram
WINNOW_W = 4  # grams per winnowing window


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = WINNOW_K, WINNOW_W
    gen = let_expr(
        f"transform({ngrams_expr('toks', k)}, g -> {token_hash_expr('g')})",
        "kh",
        f"named_struct('n_grams', CAST(size(kh) AS BIGINT), "
        f"'fps', array_distinct(transform(sequence(1, size(kh) - {w - 1}), "
        f"p -> array_min(slice(kh, p, {w})))))",
    )
    per_fp = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(tokens_expr("lower(text)")).alias("toks"))
        .filter(F.expr(f"size(toks) >= {k + w - 1}"))
        .select("doc_id", F.expr(gen).alias("g"))
        .select("doc_id", F.col("g.n_grams").alias("n_grams"),
                F.explode("g.fps").alias("fp"))
    )
    return (
        per_fp.withColumn(
            "n_docs", F.count("*").over(Window.partitionBy("fp"))
        )
        .groupBy("doc_id", "n_grams")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_fingerprints",
            "n_shared",
            (F.col("n_fingerprints").cast("double") / F.col("n_grams")).alias(
                "fp_density"
            ),
        )
    )


def _winnowing_fingerprints_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
        WITH base AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), kh AS (
            SELECT doc_id,
                   list_transform(range(1, len(toks) - {k - 2}),
                                  i -> {token_hash_sql(f"({gram})")}) AS kh
            FROM base WHERE len(toks) >= {k + w - 1}
        ), per_fp AS (
            SELECT doc_id, CAST(len(kh) AS BIGINT) AS n_grams,
                   unnest(list_distinct(list_transform(
                       range(1, len(kh) - {w - 2}),
                       p -> list_min(list_slice(kh, p, p + {w - 1}))))) AS fp
            FROM kh
        ), shared AS (
            SELECT fp FROM per_fp GROUP BY 1 HAVING count(*) >= 2
        )
        SELECT p.doc_id, p.n_grams,
               count(*) AS n_fingerprints,
               CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared,
               CAST(count(*) AS DOUBLE) / p.n_grams AS fp_density
        FROM per_fp p LEFT JOIN shared s ON s.fp = p.fp
        GROUP BY 1, 2
    """


QUERIES["winnowing_fingerprints"] = winnowing_fingerprints
ORACLE["winnowing_fingerprints"] = _winnowing_fingerprints_sql()


# ---------------------------------------------------------------------------
# ngram_novelty_score — per-document novelty against the id-ordered
# corpus: the share of a doc's DISTINCT 4-gram shingles whose first
# occurrence (min doc_id over the whole corpus) precedes it. The
# signal a curriculum/diversity sampler consumes — near-1 novelty is
# fresh material, near-0 is recombined boilerplate — complementing
# repeated_span_dedup (position coverage of verbatim reuse) and
# contamination_check (overlap vs a held-out benchmark).
#
# Scale shape (the winnowing lesson applied from the start): the
# first-occurrence id comes from min(doc_id) OVER (PARTITION BY fp) —
# ONE pass over the exploded shingles, no aggregate+join-back, so the
# tokenize subtree plans once. Shingles travel as xxhash64 int64
# fingerprints through the shuffle (strings→int64 rule); the oracle
# partitions on the shingle STRING — counts agree up to 64-bit
# collisions (~1e-7 at 1e6 distinct shingles). novelty is an exact
# integer ratio: (n_grams − n_seen_before) / n_grams.
# ---------------------------------------------------------------------------

NOVELTY_K = 4  # tokens per shingle


def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = (
        _docs(spark, sf_dir)
        .select("doc_id", F.expr(tokens_expr("lower(text)")).alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform({ngrams_expr('toks', NOVELTY_K)}, "
                    f"g -> xxhash64(g)))"
                )
            ).alias("fp"),
        )
    )
    first = grams.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    return first.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")).alias(
            "n_seen_before"
        ),
        (
            (F.count("*") - F.sum((F.col("first_doc") < F.col("doc_id")).cast("long")))
            .cast("double")
            / F.count("*")
        ).alias("novelty"),
    )


def _ngram_novelty_score_sql() -> str:
    k = NOVELTY_K
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""
        WITH toks AS (
            SELECT doc_id, {tokens_sql('lower(text)')} AS toks FROM documents
        ), g AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(toks) - {k - 2}), i -> ({parts})))) AS gram
            FROM toks WHERE len(toks) >= {k}
        ), w AS (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_doc
            FROM g
        )
        SELECT doc_id,
               count(*) AS n_grams,
               CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_seen_before,
               CAST(count(*) - SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS novelty
        FROM w GROUP BY 1
    """


QUERIES["ngram_novelty_score"] = ngram_novelty_score
ORACLE["ngram_novelty_score"] = _ngram_novelty_score_sql()
