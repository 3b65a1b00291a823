"""Crafted-input semantics for the round-4 late-wave operators:
skip-gram pair extraction, Zipf fit, the cross-source dedup matrix,
and perceptual-hash image clusters."""

from __future__ import annotations

import math

import pytest


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_skipgram_pairs_window_and_weights(spark, tmp_path):
    """'a b c a b' with window 2: known pair multiset; sum_w counts
    distance-1 pairs at 1.0 and distance-2 pairs at 0.5 exactly. The
    window dial bounds the pair distance: window 1 keeps the 8 ordered
    adjacent pairs, window 3 adds the distance-3 repeats a1<->a4 and
    b2<->b5; skipgram_pmi scores the same pairs."""
    from google_cloud_ecommerce_spark.operators.text import skipgram_pairs, skipgram_pmi

    sf = _write_docs(spark, tmp_path, [(1, "a b c a b", "en", "s", 9)])
    out = {
        (r.center, r.context): (r.n_pairs, r.sum_w)
        for r in skipgram_pairs(spark, sf, min_count=1).collect()
    }
    # positions: a1 b2 c3 a4 b5; (center, context) over |i-j| <= 2
    assert out[("a", "b")] == (3, 2.5)  # (1,2)d1 (4,2)d2 (4,5)d1
    assert out[("b", "a")] == (3, 2.5)  # symmetric corpus-wide
    assert out[("a", "c")] == (2, 1.5)  # (1,3)d2 (4,3)d1
    assert out[("c", "b")] == (2, 1.5)  # (3,2)d1 (3,5)d2
    # a1<->a4 and b2<->b5 are distance 3: OUTSIDE the window
    assert ("a", "a") not in out and ("b", "b") not in out
    # total ordered-pair count = 2+3+4+3+2 over the five positions
    assert sum(v[0] for v in out.values()) == 14

    def counts(window):
        rows = skipgram_pairs(spark, sf, window=window, min_count=1).collect()
        return {(r.center, r.context): r.n_pairs for r in rows}

    w1, w3 = counts(1), counts(3)
    assert sum(w1.values()) == 8 and w1[("a", "b")] == 2 and w1[("a", "c")] == 1
    assert sum(w3.values()) == 18 and w3[("a", "a")] == w3[("b", "b")] == 2
    pmi = skipgram_pmi(spark, sf, window=1, min_count=1).collect()
    assert sum(r.n_pairs for r in pmi) == 8


def test_skipgram_min_count_filters(spark, tmp_path):
    """Every pair type in 'x y z' occurs once -> min_count=2 empties
    the output, min_count=1 keeps all six ordered pair types."""
    from google_cloud_ecommerce_spark.operators.text import skipgram_pairs

    sf = _write_docs(spark, tmp_path, [(1, "x y z", "en", "s", 5)])
    assert skipgram_pairs(spark, sf, min_count=2).count() == 0
    assert skipgram_pairs(spark, sf, min_count=1).count() == 6


def test_token_zipf_fit_matches_closed_form(spark, tmp_path):
    """Known frequency table -> compare against the least-squares fit
    computed directly in Python over (ln rank, ln freq)."""
    from google_cloud_ecommerce_spark.operators.text import token_zipf_fit

    # freqs: the=4, of=2, a=2, b=1 -> ranks 1,2,3,4 (ties 2/3 share
    # freq 2; rank-sum invariance makes the order irrelevant)
    text = " ".join(["the"] * 4 + ["of"] * 2 + ["a"] * 2 + ["b"])
    sf = _write_docs(spark, tmp_path, [(1, text, "en", "s", len(text))])
    row = token_zipf_fit(spark, sf).collect()[0]
    assert row.n_vocab == 4 and row.total_tokens == 9
    xs = [round(math.log(r), 6) for r in (1, 2, 3, 4)]
    ys = [round(math.log(f), 6) for f in (4, 2, 2, 1)]
    n = 4.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.zipf_slope == pytest.approx(slope, abs=1e-3)
    assert row.zipf_intercept == pytest.approx((sy - slope * sx) / n, abs=1e-3)
    assert row.zipf_slope < 0  # frequency falls with rank


def test_cross_source_matrix_routes_pairs(spark, tmp_path):
    """Twin docs in different sources land in the unordered cross cell
    with the exact Jaccard; unrelated docs contribute nothing."""
    from google_cloud_ecommerce_spark.operators.dedup import (
        cross_source_dedup_matrix,
    )

    words = [f"w{i}" for i in range(40)]
    a = " ".join(words)
    b = " ".join(words[:-1] + ["zzz"])  # jaccard 39/41
    other = " ".join(f"q{i}" for i in range(40))
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, a, "en", "src_b", len(a)),
            (2, b, "en", "src_a", len(b)),
            (3, other, "en", "src_c", len(other)),
        ],
    )
    rows = cross_source_dedup_matrix(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_a, r.source_b) == ("src_a", "src_b")  # unordered, sorted
    assert r.n_pairs == 1
    assert r.avg_jaccard == pytest.approx(round(39 / 41, 6), abs=1e-6)


def test_phash_clusters_period_256(spark, tmp_path):
    """The synthetic pixel pattern repeats with doc_id period 256, so
    doc_ids 256 apart decode to identical images and MUST share a
    cluster with the lower id as keeper; the real decode path feeds
    the hash (exercised via encode->decode->dHash)."""
    from google_cloud_ecommerce_spark.operators.multimodal import (
        _bmp_pixels,
        _dhash_bands,
        decode_bmp_pixels,
        encode_bmp,
        media_phash_clusters,
    )

    rows = [(d, f"text {d}", "en", "s", 8) for d in (7, 263, 519, 1000)]
    sf = _write_docs(spark, tmp_path, rows)
    out = media_phash_clusters(spark, sf).collect()
    by_keeper = {r.keep_doc_id: r for r in out}
    assert by_keeper[7].n_docs == 3  # 7, 263, 519 identical mod 256
    assert all(0 <= v < (1 << 14) for r in out for v in (r.b0, r.b1, r.b2, r.b3))
    # decode path is bit-faithful: hash of decoded == hash of source pixels
    px = _bmp_pixels(7)
    assert _dhash_bands(decode_bmp_pixels(encode_bmp(px))) == _dhash_bands(px)


def test_dedup_recall_report_identical_docs(spark, tmp_path):
    """Two identical docs inside the doc_id%5 sample are a TRUE pair
    that identical minhash signatures always catch -> recall 1.0; the
    off-sample doc contributes nothing."""
    from google_cloud_ecommerce_spark.operators.dedup import dedup_recall_report

    text = " ".join(f"w{i}" for i in range(30))
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (5, text, "en", "s", len(text)),
            (10, text, "en", "s", len(text)),
            (7, "entirely different words here", "en", "s", 29),
        ],
    )
    row = dedup_recall_report(spark, sf).collect()[0]
    assert row.n_sample_docs == 2
    assert row.n_true_pairs == 1 and row.n_caught == 1
    assert row.recall == 1.0
    assert row.n_candidates >= row.n_caught


def test_dedup_recall_bounds(spark, sf_smoke):
    from google_cloud_ecommerce_spark.operators.dedup import dedup_recall_report

    row = dedup_recall_report(spark, sf_smoke).collect()[0]
    assert 0.0 <= row.recall <= 1.0
    assert row.n_caught <= row.n_true_pairs or row.n_true_pairs == 0


def test_jsonl_roundtrip_identity(spark, sf_smoke):
    """Roundtrip is the identity on the typed fields and the line
    length matches the compact serialization exactly."""
    import json

    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators.pipeline import jsonl_roundtrip

    src = {
        r.doc_id: (r.lang, r.source, r.n_chars)
        for r in load_table(spark, sf_smoke, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .collect()
    }
    out = jsonl_roundtrip(spark, sf_smoke).collect()
    assert len(out) == len(src)
    for r in out:
        lang, source, n_chars = src[r.doc_id]
        assert (r.lang, r.source, r.n_chars) == (lang, source, n_chars)
        expect = json.dumps(
            {"doc_id": r.doc_id, "lang": lang, "source": source, "n_chars": n_chars},
            separators=(",", ":"),
        )
        assert r.n_json_bytes == len(expect)


def test_matryoshka_full_dim_is_identity(spark, sf_smoke):
    """Truncating to the FULL dimension is the identity ranking ->
    recall exactly 1.0 for every query; the fixture's 16-dim prefix
    recall is a valid fraction of TOP_K."""
    from google_cloud_ecommerce_spark.operators._common import EMBED_DIM
    from google_cloud_ecommerce_spark.operators.similarity import (
        TOP_K,
        matryoshka_recall,
    )

    full = matryoshka_recall(spark, sf_smoke, trunc_dim=EMBED_DIM).collect()
    assert full and all(r.recall == 1.0 and r.n_overlap == TOP_K for r in full)
    part = matryoshka_recall(spark, sf_smoke).collect()
    assert all(0.0 <= r.recall <= 1.0 and r.n_overlap <= TOP_K for r in part)


def test_cdc_chunks_realign_after_prefix_edit(spark, tmp_path):
    """The content-defined property: prepending one char to a doc only
    changes the chunks that touch the edit — later chunks (content-
    addressed) realign and dedup across the two versions."""
    import random

    from google_cloud_ecommerce_spark.operators.dedup import cdc_chunk_dedup

    rng = random.Random(11)
    base = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    edited = "Z" + base
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, base, "en", "s", len(base)), (2, edited, "en", "s", len(edited))],
    )
    rows = cdc_chunk_dedup(spark, sf).collect()
    # later chunks realign: at least one chunk is shared by BOTH docs
    assert any(r.n_docs == 2 and r.n_copies == 2 for r in rows)


def test_cdc_identical_docs_share_every_chunk(spark, tmp_path):
    import random

    from google_cloud_ecommerce_spark.operators.dedup import (
        _cdc_chunk_batches,
        cdc_chunk_dedup,
    )
    import pandas as pd

    rng = random.Random(3)
    text = "".join(rng.choice("abcdefgh ") for _ in range(1500))
    sf = _write_docs(
        spark,
        tmp_path,
        [(1, text, "en", "s", len(text)), (2, text, "en", "s", len(text))],
    )
    rows = cdc_chunk_dedup(spark, sf).collect()
    # every chunk of the doc is duplicated across both copies
    n_chunks = sum(
        len(df)
        for df in _cdc_chunk_batches(
            iter([pd.DataFrame({"doc_id": [1], "text": [text]})])
        )
    )
    assert n_chunks >= 2  # the seeded text has at least one boundary
    assert len(rows) == n_chunks
    assert all(r.n_copies == 2 and r.n_docs == 2 for r in rows)
    # chunk lengths tile the document exactly
    assert sum(r.clen for r in rows) == len(text)


def test_heldout_perplexity_oov_and_smoothing(spark, tmp_path):
    """Crafted split: train vocab {a(x2), b} -> N=3, V=2, D=6. The
    held-out doc 'a b c': p(a)=3/6, p(b)=2/6, c is OOV at 1/6; exactly
    one OOV token and the mean matches the closed form."""
    import math

    from google_cloud_ecommerce_spark.operators.text import heldout_perplexity

    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a a b", "en", "s", 5),   # train (1 % 10 != 0)
            (10, "a b c", "en", "s", 5),  # eval  (10 % 10 == 0)
        ],
    )
    rows = heldout_perplexity(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.doc_id == 10 and r.n_tokens == 3 and r.n_oov == 1
    expect = (
        round(-math.log(3 / 6), 9)
        + round(-math.log(2 / 6), 9)
        + round(-math.log(1 / 6), 9)
    ) / 3
    assert abs(r.mean_neg_logprob - expect) < 1e-9


def test_token_zipf_block_split_path(spark, tmp_path):
    """A frequency run larger than ZIPF_BLOCK (4097 hapax tokens)
    exercises the two-level rank expansion; totals and the closed-form
    fit still match a direct Python computation."""
    import math

    from google_cloud_ecommerce_spark.operators.text import (
        ZIPF_BLOCK,
        token_zipf_fit,
    )

    n_hapax = ZIPF_BLOCK + 1
    text = "the the the " + " ".join(f"tok{i}" for i in range(n_hapax))
    sf = _write_docs(spark, tmp_path, [(1, text, "en", "s", len(text))])
    row = token_zipf_fit(spark, sf).collect()[0]
    assert row.n_vocab == n_hapax + 1
    assert row.total_tokens == n_hapax + 3
    # direct fit: rank 1 has freq 3, ranks 2..n_hapax+1 freq 1
    xs = [round(math.log(r), 6) for r in range(1, n_hapax + 2)]
    ys = [round(math.log(3), 6)] + [0.0] * n_hapax
    n = float(len(xs))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row.zipf_slope == pytest.approx(slope, abs=1e-3)


def test_skipgram_pmi_closed_form(spark, tmp_path):
    """'a b a b a b': the (a,b) PMI matches ln(n_ab * N / (n_a n_b))
    computed by hand; symmetric pairs agree; independence ~ PMI 0."""
    import math

    from google_cloud_ecommerce_spark.operators.text import skipgram_pmi

    sf = _write_docs(spark, tmp_path, [(1, "a b a b a b", "en", "s", 11)])
    out = {(r.center, r.context): r for r in skipgram_pmi(spark, sf, min_count=1).collect()}
    n_total = sum(r.n_pairs for r in out.values())
    for (c, x), r in out.items():
        n_c = sum(v.n_pairs for (cc, _), v in out.items() if cc == c)
        n_x = sum(v.n_pairs for (_, xx), v in out.items() if xx == x)
        expect = round(math.log(r.n_pairs * n_total / (n_c * n_x)), 4) + 0.0
        assert r.pmi == pytest.approx(expect, abs=1e-9), (c, x)
    assert out[("a", "b")].pmi == out[("b", "a")].pmi


def test_matryoshka_sweep_monotone_and_caps(spark, sf_smoke):
    """Recall grows (weakly) with the truncation dim, caps at 1, and
    the full-dim entry of a sweep that includes EMBED_DIM is exactly 1."""
    from google_cloud_ecommerce_spark.operators._common import EMBED_DIM
    from google_cloud_ecommerce_spark.operators.similarity import (
        matryoshka_dim_sweep,
    )

    rows = {
        r.trunc_dim: r.mean_recall
        for r in matryoshka_dim_sweep(
            spark, sf_smoke, dims=(8, 32, EMBED_DIM)
        ).collect()
    }
    assert rows[EMBED_DIM] == 1.0
    assert 0.0 <= rows[8] <= rows[32] <= 1.0


def test_lsh_band_sweep_monotone(spark, sf_smoke):
    """More bands can only catch more: candidates and recall are
    non-decreasing in the band budget, recall caps at 1, and the
    full-budget row agrees with dedup_recall_report."""
    from google_cloud_ecommerce_spark.operators.dedup import (
        N_BANDS,
        dedup_recall_report,
        lsh_band_sweep,
    )

    rows = sorted(lsh_band_sweep(spark, sf_smoke).collect(), key=lambda r: r.n_bands)
    assert [r.n_bands for r in rows] == list(range(1, N_BANDS + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_candidates >= prev.n_candidates
        assert cur.n_caught >= prev.n_caught
        assert prev.n_true_pairs == cur.n_true_pairs
    assert all(0.0 <= r.recall <= 1.0 for r in rows)
    full = dedup_recall_report(spark, sf_smoke).collect()[0]
    last = rows[-1]
    assert (last.n_candidates, last.n_caught, last.recall) == (
        full.n_candidates,
        full.n_caught,
        full.recall,
    )
