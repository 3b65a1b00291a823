"""Crafted-corpus tests for the late round-4 curation operators:
per-source independence of adaptive quality gating, the tokenizer
fertility identity, and planted-outlier detection for the embedding
outlier gate."""

from __future__ import annotations

import math
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from google_cloud_ecommerce_spark.operators._common import EMBED_DIM
from google_cloud_ecommerce_spark.operators.similarity import (
    OUTLIER_SIGMA,
    embedding_outliers,
)
from google_cloud_ecommerce_spark.operators.text import (
    BPE_ISH_PATTERN,
    GATE_PCT,
    adaptive_quality_gates,
    tokenizer_fertility,
)


def _write_docs(path, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([len(r[1]) for r in rows], type=pa.int64()),
        }
    )
    pq.write_table(tbl, str(path / "documents.parquet"))


_GOOD = "the quick brown fox jumps over a lazy dog and runs to the river"
_BAD = "spam spam spam spam"


def test_adaptive_gates_sources_are_independent(spark, tmp_path):
    """Adding junk documents to source B must not move source A's
    scores, ranks, or kept set — the whole point of per-source gates."""
    a_docs = [(i, f"{_GOOD} number {i}", "en", "site_a") for i in range(8)]
    base = tmp_path / "base"
    both = tmp_path / "both"
    for d in (base, both):
        os.makedirs(d)
    _write_docs(base, a_docs)
    _write_docs(
        both,
        a_docs + [(100 + i, _BAD, "en", "site_b") for i in range(6)],
    )

    rows_base = {
        r.doc_id: r for r in adaptive_quality_gates(spark, str(base)).collect()
    }
    rows_both = {
        r.doc_id: r
        for r in adaptive_quality_gates(spark, str(both)).collect()
        if r.source == "site_a"
    }
    assert set(rows_base) == set(rows_both)
    for doc_id, r in rows_base.items():
        assert rows_both[doc_id].quality_score == r.quality_score
        assert rows_both[doc_id].pct_rank == r.pct_rank
        assert rows_both[doc_id].is_kept == r.is_kept


def test_adaptive_gates_kept_count_matches_percentile(spark, tmp_path):
    """kept = rows whose percent_rank >= GATE_PCT; with a tie-free
    order over n rows that is exactly n - ceil(GATE_PCT * (n - 1))."""
    n = 10
    docs = [(i, f"{_GOOD} {'extra ' * i}tail", "en", "one_source") for i in range(n)]
    _write_docs(tmp_path, docs)
    out = adaptive_quality_gates(spark, str(tmp_path)).collect()
    kept = sum(r.is_kept for r in out)
    assert kept == n - math.ceil(GATE_PCT * (n - 1))
    # the dropped rows are exactly the lowest-scoring ones
    dropped_scores = sorted(r.quality_score for r in out if not r.is_kept)
    kept_scores = sorted(r.quality_score for r in out if r.is_kept)
    assert not dropped_scores or dropped_scores[-1] <= kept_scores[0]


def test_tokenizer_fertility_identity(spark, sf_smoke):
    """Per-lang ratios equal a direct python recompute from the raw
    corpus (whitespace tokens, BPE-ish regex tokens, char sums)."""
    docs = spark.read.parquet(os.path.join(sf_smoke, "documents.parquet")).collect()
    expect: dict[str, list[int]] = {}
    for r in docs:
        ws = len([t for t in r.text.split(" ") if t])
        bpe = len(re.findall(BPE_ISH_PATTERN, r.text.lower()))
        e = expect.setdefault(r.lang, [0, 0, 0, 0])
        e[0] += 1
        e[1] += ws
        e[2] += bpe
        e[3] += r.n_chars
    out = {r.lang: r for r in tokenizer_fertility(spark, sf_smoke).collect()}
    assert set(out) == set(expect)
    for lang, (n, ws, bpe, chars) in expect.items():
        r = out[lang]
        assert (r.n_docs, r.ws_tokens, r.bpe_tokens, r.total_chars) == (
            n,
            ws,
            bpe,
            chars,
        )
        assert r.fertility == bpe / ws
        assert r.chars_per_token == chars / bpe


def test_embedding_outliers_flags_planted_outlier(spark, tmp_path):
    """A cluster of near-identical vectors plus one far vector: only
    the far vector exceeds mean + OUTLIER_SIGMA * std."""
    n = 20
    vecs = [[0.1 * ((i + d) % 3) for d in range(EMBED_DIM)] for i in range(n)]
    vecs.append([25.0] * EMBED_DIM)  # the planted outlier
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(n + 1)), type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([0] * (n + 1), type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out = {r.vec_id: r for r in embedding_outliers(spark, str(tmp_path)).collect()}
    assert len(out) == n + 1
    assert out[n].is_outlier == 1
    assert all(out[i].is_outlier == 0 for i in range(n))
    assert OUTLIER_SIGMA == 2.0  # the documented gate


def test_curation_funnel_v2_monotone_each_gate_kills(spark, tmp_path, tmp_warehouse):
    """VERDICT r9 #6: funnel-stage monotonicity on a crafted corpus
    where each gate uniquely kills one doc. Texts were verified
    analytically against the gate formulas: the ent doc has char
    entropy 1.56 (< ENTROPY_MIN 3.0) but would pass nothing later is
    asserted by stage; the gof doc has 19 words (< GOPHER_MIN_WORDS 50)
    but entropy 4.38; the clf doc passes every Gopher rule (56 words,
    mean len 6.2, all-alpha, 2 stopwords) with quality_logit -1.25; the
    two keep docs pass everything (logit +1.25/+1.27) and share a
    trailing 8-token span so cross-doc span excision shrinks their
    token budget; the dup pair shares its full text so exact dedup
    keeps one (and full-text duplication makes every span cross-doc
    repeated, excising the keeper's whole budget)."""
    from google_cloud_ecommerce_spark.operators.pipeline import curation_funnel_v2

    neg = "foxtrot sierra mountain maroon victor delta"
    span = "river bottle pillow winter spring garden window candle"
    t_dup = "the and of " + " ".join(["bottle river pillow spring winter candle"] * 9)
    t_ent = " ".join(["aba bab"] * 40)
    t_gof = (
        "the quick brown fox jumps over a lazy dog while the band "
        "plays mellow jazz under bright city lights"
    )
    t_clf = "the and " + " ".join([neg] * 9)
    t_keep1 = (
        "the and of "
        + " ".join(["river bottle pillow winter spring garden"] * 8)
        + " " + span
    )
    t_keep2 = (
        "the and to "
        + " ".join(["winter spring river bottle pillow garden"] * 8)
        + " " + span
    )
    rows = [
        (0, t_dup, "en", "dup"),
        (1, t_dup, "en", "dup"),
        (2, t_ent, "en", "ent"),
        (3, t_gof, "en", "gof"),
        (4, t_clf, "en", "clf"),
        (5, t_keep1, "en", "keep"),
        (6, t_keep2, "en", "keep"),
    ]
    _write_docs(tmp_path, rows)
    out = {r.source: r for r in curation_funnel_v2(spark, str(tmp_path)).collect()}
    assert set(out) == {"dup", "ent", "gof", "clf", "keep"}
    for r in out.values():
        assert (
            r.n_raw >= r.n_exact_unique >= r.n_entropy >= r.n_gopher
            >= r.n_classifier >= 0
        )
        assert 0 <= r.tokens_retained <= r.tokens_in
        assert r.doc_share == r.n_classifier / r.n_raw
    stages = lambda r: (  # noqa: E731
        r.n_raw, r.n_exact_unique, r.n_entropy, r.n_gopher, r.n_classifier
    )
    assert stages(out["dup"]) == (2, 1, 1, 1, 1)
    assert stages(out["ent"]) == (1, 1, 0, 0, 0)
    assert stages(out["gof"]) == (1, 1, 1, 0, 0)
    assert stages(out["clf"]) == (1, 1, 1, 1, 0)
    assert stages(out["keep"]) == (2, 2, 2, 2, 2)
    # the shared trailing span is cross-doc repeated: excision bites
    assert 0 < out["keep"].tokens_retained < out["keep"].tokens_in
    # the dup keeper's text exists twice verbatim: every span repeated
    assert out["dup"].tokens_retained < out["dup"].tokens_in
    # killed-at-gate sources retain nothing (no doc reached the budget)
    for s in ("ent", "gof", "clf"):
        assert out[s].tokens_in == 0 and out[s].tokens_retained == 0
