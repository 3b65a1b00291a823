"""Shared cross-engine-deterministic expression helpers for the
extension operators (dedup / similarity / text).

Everything here is built so the SAME value comes out of Spark and any
ANSI-SQL oracle engine, bit-for-bit:

  - token hash: md5 (identical everywhere) -> first 15 hex chars
    (60 bits, fits signed int64) -> mod 2^31-1. No reliance on either
    engine's native hash().
  - folds over arrays are explicit left-folds (Spark ``aggregate``,
    DuckDB ``list_reduce``) so floating-point accumulation order is
    identical, not partition-dependent.
  - all randomized parameters (minhash coefficients, projection
    vectors) are fixed literals generated once from a seeded RNG and
    inlined into BOTH the Spark expression and the oracle SQL.

These helpers return SQL expression *strings* (used via F.expr) because
the nested higher-order functions are far more readable in SQL form,
and Spark compiles them to the same codegen'd plan as Column-API calls.

Document features (the Spark side; each oracle keeps its own SQL, the
independent twin):

  - ``ngrams_expr(toks, k)``: sliding k-grams of a token array as
    ``zip_with`` over k slices of it, empty below k tokens.
  - ``let_expr(value, var, body)``: binds ``value`` once per row for a
    body that reads it from many lambda elements.
  - ``repetition_expr(toks)``: the repetition gate's (n_bigrams,
    max_rep) per row, a run-length fold over the sorted bigrams.
  - ``gopher_counts`` / ``gopher_rules`` / ``gopher_keep``: the Gopher
    quality-rule counts over a token array, the five rules over those
    counts and the keep predicate (all five hold).

Why lambda bodies read only lambda variables: a body runs once per
array element. When a body reads a column (a token array indexed by
the lambda variable), Catalyst may inline that column's whole
expression into the body, so the tokenizer runs once per element,
O(n^2) a document; streaming_corpus_prep spent 30-45 s a call at
sf0.01 this way. Outer values belong in argument position (the slices
above, the ``array()`` of ``let_expr``), which runs once per row.
tests/test_plans.py lints every registry plan for outer work inside
lambda bodies.
"""

from __future__ import annotations

from functools import reduce

import numpy as np

MERSENNE31 = 2_147_483_647  # 2^31 - 1
FOLD_BASE = 1_000_003

_rng = np.random.RandomState(42)

# MinHash: 16 universal-hash coefficient pairs (a*h + b) mod p.
N_MINHASH = 16
MINHASH_A = [int(x) for x in _rng.randint(1, MERSENNE31, size=N_MINHASH)]
MINHASH_B = [int(x) for x in _rng.randint(0, MERSENNE31, size=N_MINHASH)]
N_BANDS = 8  # bands of 2 rows each

# Random-projection LSH: 8 fixed hyperplanes in R^64.
N_PROJECTIONS = 8
EMBED_DIM = 64
PROJECTIONS = [[float(v) for v in row] for row in _rng.randn(N_PROJECTIONS, EMBED_DIM)]

# Banded sign-LSH for embedding near-dup candidate generation: 4 bands
# of 6 hyperplanes. A pair is a candidate iff some band's full 6-bit
# sign key matches (OR-of-ANDs — the classic LSH amplification). At the
# 0.9-cosine threshold the per-hyperplane agreement is ~0.86, so band
# recall is 0.86^6 ≈ 0.39 and 4-band recall 1-(1-0.39)^4 ≈ 0.86,
# rising steeply toward 1 for truer duplicates — while candidates drop
# to ~4/64 of the pair space instead of all of it.
# NOTE: drawn AFTER the arrays above — appending keeps every previously
# inlined literal (minhash coefficients, projections) bit-identical.
DEDUP_N_BANDS = 4
DEDUP_BAND_BITS = 6
DEDUP_PROJECTIONS = [
    [float(v) for v in row]
    for row in _rng.randn(DEDUP_N_BANDS * DEDUP_BAND_BITS, EMBED_DIM)
]


def tokens_expr(col: str = "text") -> str:
    """Whitespace tokens, empty strings dropped (engine-neutral)."""
    return f"filter(split({col}, ' '), t -> t != '')"


def tokens_sql(col: str = "text") -> str:
    return f"list_filter(string_split({col}, ' '), t -> t != '')"


def token_hash_expr(var: str) -> str:
    """md5-derived 31-bit token hash — Spark side."""
    return f"CAST(conv(substr(md5({var}), 1, 15), 16, 10) AS BIGINT) % {MERSENNE31}"


def token_hash_sql(var: str) -> str:
    """Same hash — ANSI/DuckDB side."""
    return f"(('0x' || substr(md5({var}), 1, 15))::BIGINT % {MERSENNE31})"


def dot_expr(a: str, b: str, dim: int = EMBED_DIM, unroll: bool = False) -> str:
    """Sequential-order dot product of two array<double> — Spark side.

    The lambda fold is deliberate: an unrolled 64-term flat expression
    was tried and is ~2.5x SLOWER on the pair-scoring hot paths — the
    generated code blows past JIT/whole-stage-codegen method limits and
    falls back to interpretation, while the fold stays compiled.
    (unroll=True keeps the experiment reproducible; both forms add
    terms in the same left-to-right order.)"""
    if unroll:
        return " + ".join(f"({a})[{i}] * ({b})[{i}]" for i in range(dim))
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def dot_sql(a: str, b: str, dim: int = EMBED_DIM, unroll: bool = False) -> str:
    """Same dot product with identical fold order — DuckDB side."""
    if unroll:
        return " + ".join(f"({a})[{i + 1}] * ({b})[{i + 1}]" for i in range(dim))
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> ({a})[i] * ({b})[i])), (acc, x) -> acc + x)"
    )


def sql_double_array(values: list[float]) -> str:
    """A DOUBLE[] literal with full round-trip precision."""
    return "[" + ", ".join(repr(v) for v in values) + "]::DOUBLE[]"


def spark_double_array(values: list[float]) -> str:
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in values) + ")"


# Tiny per-language stopword lists (heuristic language ID in text.py;
# the Gopher stopword rule reads the English one).
STOPWORDS = {
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "en": ["the", "a", "and", "of", "to", "is"],
    "es": ["el", "la", "los", "y", "que", "es"],
    "fr": ["le", "les", "et", "que", "des", "est"],
    "zh": ["de", "shi", "bu", "le", "zai", "he"],
}


def ngrams_expr(toks: str, k: int, fields: tuple[str, ...] = ()) -> str:
    """Sliding k-grams of the token array ``toks``, in order: each the
    ' '-joined k consecutive tokens, or with ``fields`` (one name per
    position) a struct of them. Empty when size(toks) < k. ``toks``
    appears only in slice arguments, so no lambda body reads it."""
    n = f"greatest(size({toks}) - {k - 1}, 0)"
    slices = [f"slice({toks}, {j}, {n})" for j in range(1, k + 1)]
    if fields:
        cols = ", ".join(f"{f}: STRING" for f in fields)
        return f"CAST(arrays_zip({', '.join(slices)}) AS ARRAY<STRUCT<{cols}>>)"
    return reduce(
        lambda grams, s: f"zip_with({grams}, {s}, (g, t) -> concat(g, ' ', t))",
        slices,
    )


def let_expr(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value``, evaluated once per row."""
    return f"transform(array({value}), {var} -> {body})[0]"


def repetition_expr(toks: str) -> str:
    """struct<n_bigrams, max_rep> (BIGINT) of a token array: its bigram
    count and the count of its most repeated bigram, both 0 below two
    tokens. max_rep is the longest run in the sorted bigrams."""
    run = (
        "(a, x) -> IF(x = a.prev, "
        "named_struct('prev', x, 'run', a.run + 1, 'top', greatest(a.top, a.run + 1)), "
        "named_struct('prev', x, 'run', 1L, 'top', greatest(a.top, 1L)))"
    )
    zero = "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'top', 0L)"
    return let_expr(
        f"array_sort({ngrams_expr(toks, 2)})",
        "bs",
        f"named_struct('n_bigrams', CAST(size(bs) AS BIGINT), "
        f"'max_rep', aggregate(bs, {zero}, {run}, a -> a.top))",
    )


# Gopher quality rules (Rae et al. 2021, appendix A).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORDS = 2


def gopher_counts() -> dict[str, str]:
    """The integer counts the Gopher rules read, over a ``toks`` column."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return {
        "n_words": "CAST(size(toks) AS BIGINT)",
        "n_chars": "aggregate(toks, 0L, (acc, t) -> acc + length(t))",
        "n_alpha_words": "CAST(size(filter(toks, t -> t rlike '[a-z]')) AS BIGINT)",
        "n_symbol_words": (
            "CAST(size(filter(toks, t -> instr(t, '#') > 0 OR instr(t, '...') > 0))"
            " AS BIGINT)"
        ),
        "n_distinct_stop": (
            f"CAST(size(array_distinct(filter(toks, t -> t IN ({en})))) AS BIGINT)"
        ),
    }


def gopher_rules() -> list[str]:
    """The five Gopher rules over the gopher_counts columns, in order:
    word count, mean word length, alphabetic share, symbol ratio,
    stopwords. Each ratio divides two integers as DOUBLE; a document
    with no words gets NULL ratios, so its three ratio rules are NULL,
    as DuckDB's division by zero makes them in the oracle."""
    per_word = "NULLIF(n_words, 0)"
    return [
        f"n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}",
        f"n_chars / {per_word} >= {GOPHER_MIN_MEAN_LEN!r}D "
        f"AND n_chars / {per_word} <= {GOPHER_MAX_MEAN_LEN!r}D",
        f"n_alpha_words / {per_word} >= {GOPHER_MIN_ALPHA_FRAC!r}D",
        f"n_symbol_words / {per_word} <= {GOPHER_MAX_SYMBOL_RATIO!r}D",
        f"n_distinct_stop >= {GOPHER_MIN_STOPWORDS}",
    ]


def gopher_keep() -> str:
    """The Gopher keep predicate: all five rules hold."""
    return " AND ".join(f"({r})" for r in gopher_rules())
