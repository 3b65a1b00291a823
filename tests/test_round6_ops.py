"""Round-6 operators: repeated-span dedup, char-entropy gating, and the
recursive-CTE engine surface. (streaming_gap_replay's tests live with
the other replay-harness tests in test_streaming.py.)"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F


def _write_docs(tmp_path, texts: list[str]) -> str:
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["crafted"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        tmp_path / "documents.parquet",
    )
    return str(tmp_path)


def test_repeated_span_detects_cross_doc_verbatim_spans(spark, tmp_path, tmp_warehouse):
    """An 8-token span shared verbatim by two docs is flagged in BOTH;
    a doc with no shared span reports zero (block-misaligned sharing is
    exactly what dedup_segments misses and this operator catches)."""
    from google_cloud_ecommerce_spark.operators.dedup import repeated_span_dedup

    shared = "one two three four five six seven eight"
    texts = [
        f"alpha {shared} tail tokens here",      # span at offset 1
        f"beta gamma delta {shared}",            # same span, offset 3
        "totally different words with no overlap at all among these",
    ]
    sf = _write_docs(tmp_path, texts)
    rows = {r.doc_id: r for r in repeated_span_dedup(spark, sf).collect()}
    assert rows[0].n_repeated >= 1
    assert rows[1].n_repeated >= 1
    assert rows[2].n_repeated == 0
    for r in rows.values():
        assert 0.0 <= r.repeated_share <= 1.0
        assert r.n_spans > 0


def test_repeated_span_counts_every_covered_position(spark, tmp_path, tmp_warehouse):
    """A doc that is entirely a repeat of another reports share 1.0."""
    from google_cloud_ecommerce_spark.operators.dedup import repeated_span_dedup

    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    sf = _write_docs(tmp_path, [text, text, "x1 x2 x3 x4 x5 x6 x7 x8"])
    rows = {r.doc_id: r for r in repeated_span_dedup(spark, sf).collect()}
    assert rows[0].repeated_share == 1.0
    assert rows[1].repeated_share == 1.0
    assert rows[2].repeated_share == 0.0
    # 10 tokens, k=8 -> 3 sliding positions
    assert rows[0].n_spans == 3


def test_char_entropy_matches_closed_form(spark, tmp_path):
    from google_cloud_ecommerce_spark.operators.text import (
        ENTROPY_MIN,
        char_entropy_gate,
    )

    texts = ["aaaaaaaa", "abcdefgh", "the quick brown fox jumps over the lazy dog"]
    sf = _write_docs(tmp_path, texts)
    rows = {r.doc_id: r for r in char_entropy_gate(spark, sf).collect()}
    # single-symbol doc: entropy exactly 0, gate fails
    assert rows[0].entropy == 0.0 and not rows[0].passes
    # 8 equiprobable symbols: H = 3 bits exactly
    assert rows[1].entropy == pytest.approx(3.0, abs=1e-5)
    assert rows[1].passes == (rows[1].entropy >= ENTROPY_MIN)
    # natural text: matches the python closed form (mod 6-dec term rounding)
    t = texts[2]
    n = len(t)
    h = -sum(
        round((t.count(c) / n) * math.log2(t.count(c) / n), 6)
        for c in set(t)
    )
    assert rows[2].entropy == pytest.approx(h, abs=2e-6)
    assert rows[2].passes


def test_recursive_cte_date_spine_covers_event_span(spark, sf_smoke):
    """Engine surface: Spark 4 WITH RECURSIVE over real data — a
    recursively generated day spine spans min..max event day, and the
    left join onto it conserves the corpus (gap days contribute 0)."""
    from google_cloud_ecommerce_spark.catalog import load_table

    events = load_table(spark, sf_smoke, "events")
    events.select(F.to_date("ts").alias("day")).createOrReplaceTempView(
        "ev_days_r6"
    )
    spine = spark.sql(
        """
        WITH RECURSIVE spine(day) AS (
            SELECT min(day) FROM ev_days_r6
            UNION ALL
            SELECT date_add(day, 1) FROM spine
            WHERE day < (SELECT max(day) FROM ev_days_r6)
        )
        SELECT s.day, count(e.day) AS n
        FROM spine s LEFT JOIN ev_days_r6 e ON e.day = s.day
        GROUP BY s.day
        """
    )
    rows = spine.collect()
    lo, hi = events.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    assert len(rows) == (hi - lo).days + 1
    assert sum(r.n for r in rows) == events.count()


def test_span_excision_drops_exact_repeats_and_keeps_unique(spark, tmp_path, tmp_warehouse):
    from google_cloud_ecommerce_spark.operators.dedup import dedup_span_excision

    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    sf = _write_docs(tmp_path, [text, text, "x1 x2 x3 x4 x5 x6 x7 x8"])
    rows = {r.doc_id: r for r in dedup_span_excision(spark, sf).collect()}
    # full repeats: every token covered by a cross-doc span
    assert rows[0].n_excised == rows[0].n_tokens == 10
    assert rows[0].n_retained == 0 and rows[0].retained_share == 0.0
    assert rows[1].n_excised == 10
    # unique doc: untouched
    assert rows[2].n_excised == 0 and rows[2].retained_share == 1.0


def test_span_excision_covers_only_span_positions(spark, tmp_path, tmp_warehouse):
    """A shared 8-token span inside a longer unique doc excises exactly
    the covered positions, not the whole document."""
    from google_cloud_ecommerce_spark.operators.dedup import dedup_span_excision

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    sf = _write_docs(
        tmp_path,
        [f"u1 u2 {shared} u3 u4", f"v1 {shared} v2 v3 v4", "q1 q2 q3 q4 q5 q6 q7 q8 q9"],
    )
    rows = {r.doc_id: r for r in dedup_span_excision(spark, sf).collect()}
    assert rows[0].n_tokens == 12 and rows[0].n_excised == 8
    assert rows[1].n_tokens == 12 and rows[1].n_excised == 8
    assert rows[2].n_excised == 0


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark, tmp_path):
    """Schleimer et al. guarantee: a shared run of >= k + w - 1 = 6
    tokens always produces at least one shared fingerprint; a doc with
    no 6-token overlap shares none."""
    from google_cloud_ecommerce_spark.operators.text import winnowing_fingerprints

    shared = "m1 m2 m3 m4 m5 m6"  # exactly k + w - 1 tokens
    sf = _write_docs(
        tmp_path,
        [
            f"a1 a2 a3 {shared} a4 a5 a6",
            f"b1 {shared} b2 b3 b4 b5 b6 b7",
            "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10",
        ],
    )
    rows = {r.doc_id: r for r in winnowing_fingerprints(spark, sf).collect()}
    assert rows[0].n_shared >= 1
    assert rows[1].n_shared >= 1
    assert rows[2].n_shared == 0
    for r in rows.values():
        assert 0 < r.n_fingerprints <= r.n_grams
        assert r.fp_density == r.n_fingerprints / r.n_grams


def test_media_rms_windows_conserves_energy(spark, sf_smoke):
    """Window energies sum to the stream's total energy (cross-checked
    against media_autocorrelation's whole-stream ssq), and every full
    window holds exactly RMS_WINDOW samples."""
    from google_cloud_ecommerce_spark.operators.multimodal import (
        RMS_WINDOW,
        media_autocorrelation,
        media_rms_windows,
    )

    wins = media_rms_windows(spark, sf_smoke)
    per_doc = {
        r.doc_id: (r.total_ssq, r.n)
        for r in wins.groupBy("doc_id")
        .agg(
            F.sum("ssq").alias("total_ssq"),
            F.sum("n_samples").alias("n"),
        )
        .collect()
    }
    whole = {
        r.doc_id: (r.energy, r.n_samples)
        for r in media_autocorrelation(spark, sf_smoke).collect()
    }
    for doc_id, (energy, n) in whole.items():
        assert per_doc[doc_id] == (energy, n)
    sizes = {r.n_samples for r in wins.filter(F.col("n_samples") != RMS_WINDOW).collect()}
    assert all(s < RMS_WINDOW for s in sizes)  # only tail windows are short


def test_doc_bytes_profile_runs_in_arrow_batches(spark, tmp_path):
    """mapInArrow surface: profile values match python ground truth,
    including a multi-byte (n_bytes > n_codepoints) document."""
    from google_cloud_ecommerce_spark.operators.pandas_ops import doc_bytes_profile

    texts = ["two words", "café au lait", "single"]
    sf = _write_docs(tmp_path, texts)
    rows = {r.doc_id: r for r in doc_bytes_profile(spark, sf).collect()}
    for i, t in enumerate(texts):
        assert rows[i].n_codepoints == len(t)
        assert rows[i].n_bytes == len(t.encode("utf-8"))
        assert rows[i].n_spaces == t.count(" ")
        assert rows[i].est_words == t.count(" ") + 1
    assert rows[1].n_bytes == rows[1].n_codepoints + 1  # é is 2 bytes
