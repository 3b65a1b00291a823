"""Semantic tests for the extension operators on crafted fixtures —
the synthetic corpus contains no near-duplicates, so these prove the
detectors actually fire (and don't over-fire) on known inputs."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def crafted_sf(spark, tmp_path_factory):
    """A tiny sf-dir with engineered duplicates/neighbors."""
    d = tmp_path_factory.mktemp("crafted")
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")  # 1-token change => high jaccard
    other = "completely different words about spark shuffles partitions and codegen stages"
    docs = spark.createDataFrame(
        [
            (0, base, "en", "s0", len(base)),
            (1, base, "en", "s1", len(base)),        # exact dup of 0
            (2, near, "en", "s2", len(near)),        # near dup of 0
            (3, other, "en", "s3", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    v = [1.0] + [0.0] * 63
    v_close = [0.999] + [0.04] + [0.0] * 62
    v_far = [0.0] * 32 + [1.0] + [0.0] * 31
    emb = spark.createDataFrame(
        [(0, v, 0), (1, v_close, 0), (2, v_far, 1), (3, [0.5] * 64, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_exact_dedup_groups_identical_texts(spark, crafted_sf):
    rows = {r.keeper_doc_id: r.n_copies for r in dedup.dedup_exact(spark, crafted_sf).collect()}
    assert rows[0] == 2  # docs 0 and 1 collapse, keeper is min id
    assert rows[2] == 1 and rows[3] == 1


def test_minhash_finds_near_dup_pair(spark, crafted_sf):
    pairs = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, crafted_sf).collect()}
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # 1-token difference
    assert not any(3 in p for p in pairs)  # unrelated doc untouched


def test_simhash_identical_docs_same_fingerprint(spark, crafted_sf):
    rows = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, crafted_sf).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[3]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.dedup_simhash_pairs(spark, crafted_sf).collect()}
    assert pairs[(0, 1)] == 0


def test_dedup_clusters_transitive_closure(spark, crafted_sf):
    """0-1 exact dups and 0-2/1-2 near dups (1-token change) collapse
    into ONE cluster labelled by the min doc_id; unrelated doc 3 is
    absent — no near-dup neighbour, nothing to cluster."""
    rows = {r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup.dedup_clusters(spark, crafted_sf).collect()}
    assert rows == {0: (0, 3), 1: (0, 3), 2: (0, 3)}


def test_ngram_jaccard_scores_near_dup_high(spark, crafted_sf):
    rows = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.dedup_ngram_jaccard(spark, crafted_sf).collect()}
    assert rows[(0, 1)] == 1.0
    assert 0.5 < rows[(0, 2)] < 1.0
    assert not any(3 in (a, b) for a, b in rows)


def test_embedding_cosine_dup_pair(spark, crafted_sf):
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in dedup.dedup_embedding_cosine(spark, crafted_sf).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs  # orthogonal


def test_similarity_topk_orders_by_cosine(spark, crafted_sf):
    rows = similarity.similarity_topk(spark, crafted_sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    nearest_to_0 = sorted(by_q[0], key=lambda r: r.rank)[0]
    assert nearest_to_0.neighbor_id == 1  # v_close is the nearest neighbor


def test_lsh_topk_is_subset_of_exact(spark, sf_smoke):
    exact = {
        (r.q_id, r.neighbor_id) for r in similarity.similarity_topk(spark, sf_smoke).collect()
    }
    approx = similarity.similarity_lsh_topk(spark, sf_smoke).collect()
    # every LSH rank-1 hit must be a genuine same-bucket neighbor; spot-check
    # that approximate cosines equal exact cosines for shared pairs
    exact_cos = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in similarity.similarity_topk(spark, sf_smoke).collect()
    }
    for r in approx:
        if (r.q_id, r.neighbor_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.q_id, r.neighbor_id)]) < 1e-9


def test_lang_id_prefers_stopword_evidence(spark, crafted_sf):
    rows = {r.doc_id: r for r in text.text_lang_id(spark, crafted_sf).collect()}
    assert rows[0].predicted_lang == "en"  # 'the' x3, 'over' etc.
    assert rows[0].s_en >= 3


def test_quality_monotone_in_length(spark, crafted_sf):
    rows = {r.doc_id: r for r in text.text_quality(spark, crafted_sf).collect()}
    assert 0.0 <= rows[0].quality_score <= 1.0
    assert rows[0].ttr <= 1.0 and rows[0].stopword_ratio <= 1.0


def test_fingerprint_order_sensitive(spark, crafted_sf):
    rows = {r.doc_id: r.fingerprint for r in text.doc_fingerprint(spark, crafted_sf).collect()}
    assert rows[0] == rows[1]  # identical text
    assert rows[0] != rows[2] != rows[3]


def test_media_features_real_wav_roundtrip(spark, crafted_sf):
    """Features come from REAL RIFF/WAVE parsing: recompute them in
    Python from the closed-form signal and compare exactly."""
    import numpy as np

    df = multimodal.media_features(spark, crafted_sf)
    rows = sorted(df.collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == [0, 1, 2, 3]
    docs = spark.read.parquet(os.path.join(crafted_sf, "documents.parquet"))
    n_chars_by_doc = {d.doc_id: d.n_chars for d in docs.collect()}
    for r in rows:
        s = multimodal._wav_samples(r.doc_id, n_chars_by_doc[r.doc_id]).astype(np.int64)
        assert r.n_samples == len(s)
        assert r.zero_crossings == int(((s[1:] * s[:-1]) < 0).sum())
        assert r.peak_abs == int(np.abs(s).max())
        assert r.mean_abs == float(int(np.abs(s).sum())) / len(s)


def test_media_chunks_reassemble(spark, crafted_sf):
    chunks = multimodal.media_chunks(spark, crafted_sf)
    total = chunks.groupBy("doc_id").agg(F.sum("chunk_bytes").alias("b")).collect()
    docs = spark.read.parquet(os.path.join(crafted_sf, "documents.parquet"))
    expect = {r.doc_id: r.n_chars for r in docs.collect()}
    for r in total:
        assert r.b == expect[r.doc_id]


def test_media_frame_sample_stride_and_determinism(spark, crafted_sf):
    frames = multimodal.media_frame_sample(spark, crafted_sf)
    rows = sorted(frames.collect(), key=lambda r: (r.doc_id, r.frame_index))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # stride: consecutive sampled frame indices differ by FRAME_STRIDE
    for group in by_doc.values():
        idx = [r.frame_index for r in group]
        assert all(
            b - a == multimodal.FRAME_STRIDE for a, b in zip(idx, idx[1:])
        )
    assert all(
        0 < r.n_samples <= multimodal.FRAME_SAMPLES and r.frame_rms >= 0.0
        for r in rows
    )


def test_keeper_selection_properties(spark, sf_smoke):
    """One keeper per cluster; the keeper belongs to its cluster and has
    the cluster's max quality (ties to lowest doc_id)."""
    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.operators.dedup import (
        dedup_clusters,
        dedup_keeper_selection,
    )
    from google_cloud_ecommerce_spark.operators.text import text_quality

    keepers = dedup_keeper_selection(spark, sf_smoke).collect()
    assert len({r.cluster_id for r in keepers}) == len(keepers)

    clusters = dedup_clusters(spark, sf_smoke)
    quality = text_quality(spark, sf_smoke).select("doc_id", "quality_score")
    members = {
        (r.cluster_id, r.doc_id): r.quality_score
        for r in clusters.join(quality, "doc_id").collect()
    }
    by_cluster: dict[int, list[tuple[float, int]]] = {}
    for (cid, doc), q in members.items():
        by_cluster.setdefault(cid, []).append((q, doc))
    for r in keepers:
        assert (r.cluster_id, r.keeper_doc) in members
        best_q, best_doc = max(
            (q, -d) for q, d in by_cluster[r.cluster_id]
        )
        assert r.keeper_doc == -best_doc and r.keeper_quality == best_q
        assert r.n_members == len(by_cluster[r.cluster_id])
        assert r.n_dropped == r.n_members - 1


def test_pii_redaction_fires_on_known_pii(spark):
    df = spark.createDataFrame(
        [
            (0, "contact me at jane.doe+spam@mail.example.org or 555-123-4567 ok"),
            (1, "ssn 123-45-6789 appears twice 123-45-6789 here"),
            (2, "clean text with no sensitive content at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.redact_pii(df).collect()}
    assert rows[0].n_email == 1 and rows[0].n_phone == 1 and rows[0].n_ssn == 0
    assert rows[0].redacted == "contact me at <EMAIL> or <PHONE> ok"
    assert rows[1].n_ssn == 2 and rows[1].n_redactions == 2
    assert rows[1].redacted == "ssn <SSN> appears twice <SSN> here"
    assert rows[2].n_redactions == 0 and rows[2].redacted == rows[2].text


def test_dedup_segments_flags_boilerplate(spark, tmp_path):
    # 20-token docs = two 10-token segments each. Doc 0 and 1 share both
    # segments (exact dup -> share 1.0); doc 2 shares only the first
    # (share 0.5, NOT flagged at the strict > 0.5 gate); doc 3 unique.
    seg_a = "a b c d e f g h i j"
    seg_b = "k l m n o p q r s t"
    seg_c = "u v w x y z aa bb cc dd"
    seg_d = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, f"{seg_a} {seg_b}", "en", "s", 40),
            (1, f"{seg_a} {seg_b}", "en", "s", 40),
            (2, f"{seg_a} {seg_c}", "en", "s", 40),
            (3, f"{seg_d} {seg_d.upper()}", "en", "s", 40),
            (4, "too short", "en", "s", 9),  # < 10 tokens: excluded
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "segsf"
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = {r.doc_id: r for r in dedup.dedup_segments(spark, str(d)).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0].dup_share == 1.0 and rows[0].is_flagged == 1
    assert rows[1].is_flagged == 1
    assert rows[2].n_dup_segments == 1 and rows[2].dup_share == 0.5
    assert rows[2].is_flagged == 0
    # doc 3 lowercases to two IDENTICAL segments -> self-duplicated
    assert rows[3].n_dup_segments == 2 and rows[3].is_flagged == 1


def test_kmeans_assign_properties(spark, sf_smoke):
    from pyspark.sql import functions as SF

    from google_cloud_ecommerce_spark.operators.similarity import (
        KMEANS_K,
        _emb,
        _lloyd_assign,
        kmeans_assign,
    )

    out = kmeans_assign(spark, sf_smoke).collect()
    emb_n = _emb(spark, sf_smoke).count()
    assert len(out) == emb_n  # every vector assigned exactly once
    clusters = {r.cluster_id for r in out}
    assert 1 < len(clusters) <= KMEANS_K
    assert all(r.sq_dist >= 0 for r in out)
    # the update step must actually move centroids: assignments after
    # two Lloyd rounds differ from the nearest-initial-seed partition
    emb = _emb(spark, sf_smoke).select("vec_id", "v")
    seeds = emb.filter(SF.col("vec_id") < KMEANS_K).agg(
        SF.collect_list(
            SF.struct(SF.col("vec_id").alias("c_id"), SF.col("v").alias("cv"))
        ).alias("cs")
    )
    initial = {r.vec_id: r.c_id for r in _lloyd_assign(emb, seeds).collect()}
    moved = sum(1 for r in out if initial[r.vec_id] != r.cluster_id)
    assert moved > 0
    # deterministic across executions
    again = kmeans_assign(spark, sf_smoke).collect()
    assert {(r.vec_id, r.cluster_id, r.sq_dist) for r in out} == {
        (r.vec_id, r.cluster_id, r.sq_dist) for r in again
    }


def _synthetic_assigned(spark, n, k, dim, on=()):
    """(vec_id, *on, v, c_id) frame: deterministic dim-length vectors,
    n points spread over k non-contiguous centroid ids (3 * (id % k)),
    one copy per subspace m in 0..3 when on=("m",)."""
    df = spark.range(n).select(
        F.col("id").alias("vec_id"), ((F.col("id") % k) * 3).alias("c_id")
    )
    if on:
        df = df.withColumn("m", F.explode(F.sequence(F.lit(0), F.lit(3))))
    v = (
        f"transform(sequence(1, {dim}), j -> "
        f"CAST(pmod(hash(vec_id, {'m, ' if on else ''}j), 2000003) AS DOUBLE) "
        f"/ 1000.0 - 1000.0)"
    )
    return df.select("vec_id", *on, F.expr(v).alias("v"), "c_id")


@pytest.mark.parametrize(
    "n,k,dim,on",
    [(400, 4, 64, ()), (200, 4, 16, ("m",)), (6000, 2000, 8, ())],
    ids=["kmeans_k4_d64", "pq_m4_k4_d16", "k2000_d8"],
)
def test_lloyd_update_matches_per_centroid_reference(spark, n, k, dim, on):
    """_lloyd_update's sort-and-stride assembly equals a plain
    groupBy(*on, c_id) + array_sort(collect_list(struct(dim, comp)))
    reference row for row, with cs in ascending c_id order."""
    assigned = _synthetic_assigned(spark, n, k, dim, on)
    got = (
        similarity._lloyd_update(assigned, on)
        .select(*on, F.posexplode("cs").alias("i", "c"))
        .select(*on, "i", "c.c_id", "c.cv")
        .collect()
    )
    ref = (
        assigned.select(*on, "c_id", F.posexplode("v").alias("pos", "val"))
        .groupBy(*on, "c_id", (F.col("pos") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.round("val", 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("comp")
        )
        .groupBy(*on, "c_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, comp))), s -> s.comp)"
            ).alias("cv")
        )
        .collect()
    )
    key = lambda r: (*[r[o] for o in on], r.c_id)  # noqa: E731
    want = {key(r): r.cv for r in ref}
    assert len(want) == k * (4 if on else 1)
    assert all(len(cv) == dim for cv in want.values())
    assert {key(r): r.cv for r in got} == want
    # each group's cs lists its centroids in ascending c_id order
    ordered = sorted(got, key=lambda r: (*[r[o] for o in on], r.i))
    assert [key(r) for r in ordered] == sorted(want)


def test_lloyd_update_plan_has_no_per_centroid_rescan(spark):
    """The update assembles centroids with one sort plus stride slices;
    a filter(...) lambda over the flat array (one rescan per centroid,
    O(k^2 * dim) in a single task) must not come back."""
    for on in ((), ("m",)):
        plan = (
            similarity._lloyd_update(_synthetic_assigned(spark, 40, 4, 8, on), on)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "array_sort(" in plan
        assert "filter(" not in plan


def test_embedding_quantize_error_bound(spark, sf_smoke):
    from google_cloud_ecommerce_spark.operators.similarity import (
        QUANT_BITS_MAX,
        embedding_quantize,
    )

    rows = embedding_quantize(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 < r.q_max <= QUANT_BITS_MAX  # codes fit int8
        # symmetric rounding bounds the error by half a quantization step
        assert r.max_abs_err <= 0.5 / r.scale + 1e-12


def test_corpus_drift_bounds_and_extremes(spark, tmp_path):
    from google_cloud_ecommerce_spark.operators.pipeline import corpus_drift

    docs = spark.createDataFrame(
        [
            # 'same': even/odd halves have identical token distributions
            (0, "alpha beta beta", "same", "s", 15),
            (1, "alpha beta beta", "same", "s", 15),
            # 'disjoint': no token shared between the halves -> L1 = 2
            (2, "xx yy", "disjoint", "s", 5),
            (3, "zz ww", "disjoint", "s", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "driftsf"
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.lang: r for r in corpus_drift(spark, str(d)).collect()}
    assert out["same"].l1_drift == 0.0
    assert out["disjoint"].l1_drift == 2.0
    assert out["same"].t_old == out["same"].t_new == 3


def test_bpe_merges_greedy_left_to_right(spark, tmp_path):
    from google_cloud_ecommerce_spark.operators.text import bpe_merges

    # vocabulary: 'aaab' x2, 'cd' x1. Round 1 pair counts:
    # (a,a)=4 [two per word occurrence], (a,b)=2, (c,d)=1 -> merge (a,a).
    # After merge 'aaab' -> [aa, a, b]. Round 2 counts: (aa,a)=2,
    # (a,b)=2, (c,d)=1 -> tie broken lexicographically: (a,b).
    # After merge -> [aa, ab]. Round 3: (aa,ab)=2 wins over (c,d)=1.
    docs = spark.createDataFrame(
        [(0, "aaab aaab", "en", "s", 9), (1, "cd", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path / "bpesf"
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = {r.round: r for r in bpe_merges(spark, str(d)).collect()}
    assert (rows[1].left_sym, rows[1].right_sym, rows[1].pair_count) == ("a", "a", 4)
    assert (rows[2].left_sym, rows[2].right_sym, rows[2].pair_count) == ("a", "b", 2)
    assert (rows[3].left_sym, rows[3].right_sym, rows[3].merged) == ("aa", "ab", "aaab")


def test_wav_decoder_reads_stdlib_written_file(tmp_path):
    """Independence check: decode_wav must parse a file produced by
    Python's stdlib wave module, not just our own encoder."""
    import math
    import wave

    import numpy as np

    from google_cloud_ecommerce_spark.operators.multimodal import decode_wav, encode_wav

    samples = np.array([0, 1000, -1000, 32767, -32768, 500], dtype=np.int16)
    p = tmp_path / "ref.wav"
    with wave.open(str(p), "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    sr, ch, bits, n, rms = decode_wav(p.read_bytes())
    assert (sr, ch, bits, n) == (8000, 1, 16, len(samples))
    expected = math.sqrt(sum(int(s) ** 2 for s in samples) / len(samples))
    assert rms == expected
    # and the round-trip through our own encoder agrees
    assert decode_wav(encode_wav(samples, 8000)) == (8000, 1, 16, len(samples), rms)


def test_bmp_decoder_roundtrip_and_padding(tmp_path):
    import numpy as np

    from google_cloud_ecommerce_spark.operators.multimodal import decode_bmp, encode_bmp

    # 3x2 image: width*3 = 9 bytes/row -> 3 pad bytes/row exercises the
    # 4-byte row alignment path
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    w, h, bpp, mr, mg, mb = decode_bmp(encode_bmp(px))
    assert (w, h, bpp) == (3, 2, 24)
    flat = px.reshape(-1, 3).astype(int)
    assert (mr, mg, mb) == tuple(flat.mean(axis=0))


def test_bmp_stream_demux_and_thumbnail_pooling():
    import numpy as np
    import pytest as _pt

    from google_cloud_ecommerce_spark.operators.multimodal import (
        THUMB_POOL,
        _bmp_pixels,
        bmp_thumbnail,
        encode_bmp,
        split_bmp_stream,
    )

    frames = [encode_bmp(_bmp_pixels(i)) for i in range(3)]
    stream = b"".join(frames)
    assert split_bmp_stream(stream) == frames  # demux by header sizes
    with _pt.raises(ValueError):
        split_bmp_stream(b"XX" + stream)

    px = _bmp_pixels(7).astype(np.int64)
    thumb = bmp_thumbnail(encode_bmp(_bmp_pixels(7)))
    p = THUMB_POOL
    for cy in range(thumb.shape[0]):
        for cx in range(thumb.shape[1]):
            block = px[cy * p : (cy + 1) * p, cx * p : (cx + 1) * p]
            assert (thumb[cy, cx] == block.reshape(-1, 3).mean(axis=0)).all()


def test_power_iteration_component_properties(spark, sf_smoke):
    import numpy as np

    from google_cloud_ecommerce_spark.operators.similarity import (
        embedding_top_component,
    )

    comp = np.array([
        r.component
        for r in sorted(
            embedding_top_component(spark, sf_smoke).collect(), key=lambda r: r.dim
        )
    ])
    assert abs(float(comp @ comp) - 1.0) < 1e-9  # unit norm

    from google_cloud_ecommerce_spark.operators.similarity import POWER_ITERS

    X = np.array([
        r.embedding
        for r in spark.read.parquet(f"{sf_smoke}/embeddings.parquet").collect()
    ], dtype=np.float64)
    C = X.T @ X
    e1 = np.zeros(X.shape[1]); e1[0] = 1.0
    # power iteration must not lose variance vs its own start direction
    assert comp @ C @ comp >= e1 @ C @ e1
    # and must match numpy's same-k power iterate (the round-9 decimal
    # quantization perturbs each step by ~1e-9)
    x = e1.copy()
    for _ in range(POWER_ITERS):
        x = C @ x
        x /= np.linalg.norm(x)
    assert abs(float(comp @ x)) > 1.0 - 1e-6


def test_pq_encode_compression_properties(spark, sf_smoke):
    """Codes live in [0, K); a seed vector's untrained assignment would
    be itself, and after one Lloyd round its reconstruction error must
    stay no worse than the worst corpus error (centroids moved toward
    the mass, not away from every point)."""
    from google_cloud_ecommerce_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        pq_encode,
    )

    rows = pq_encode(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_K for c in codes)
        assert r.recon_sq_err >= 0.0
    # the encoding must actually discriminate: more than one distinct
    # code word across the corpus
    assert len({r.codes for r in rows}) > 1


def test_similarity_pq_topk_structure(spark, sf_smoke):
    """ADC probe: one row set per query vector with contiguous ranks,
    non-decreasing ADC distance within each query, self excluded, and
    deterministic across runs (the persisted layout pins the
    codebook)."""
    from google_cloud_ecommerce_spark.operators.similarity import (
        N_QUERY_VECS,
        TOP_K,
        similarity_pq_topk,
    )

    rows = similarity_pq_topk(spark, sf_smoke).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id != r.q_id
        assert r.adc_sq_dist >= 0.0
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(N_QUERY_VECS))
    for q_id, group in by_q.items():
        group.sort(key=lambda r: r.rank)
        assert [r.rank for r in group] == list(range(1, TOP_K + 1))
        dists = [r.adc_sq_dist for r in group]
        assert dists == sorted(dists)
    again = similarity_pq_topk(spark, sf_smoke).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_similarity_ivfpq_matches_pq_recall_shape(spark, sf_smoke):
    """IVFADC structure: contiguous ranks per query, residual-ADC
    distances non-negative and non-decreasing, and candidates only from
    the query's probed cells (checked against the IVF assignment)."""
    from google_cloud_ecommerce_spark.operators.similarity import (
        N_PROBE,
        N_QUERY_VECS,
        _assigned,
        similarity_ivfpq_topk,
    )
    from pyspark.sql import functions as F

    rows = similarity_ivfpq_topk(spark, sf_smoke).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r.neighbor_id != r.q_id and r.adc_sq_dist >= 0.0
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) <= set(range(N_QUERY_VECS))
    assigned = _assigned(spark, sf_smoke)
    probe_cells = {
        r.vec_id: set()
        for r in assigned.filter(F.col("vec_id") < N_QUERY_VECS).collect()
    }
    for r in assigned.filter(F.col("vec_id") < N_QUERY_VECS).collect():
        probe_cells[r.vec_id].add(r.c_id)
    home_cell = {
        r.vec_id: r.c_id
        for r in assigned.filter(F.col("c_rank") == 1).collect()
    }
    for q_id, group in by_q.items():
        assert len(probe_cells[q_id]) <= N_PROBE
        group.sort(key=lambda r: r.rank)
        assert [r.rank for r in group] == list(range(1, len(group) + 1))
        dists = [r.adc_sq_dist for r in group]
        assert dists == sorted(dists)
        for r in group:
            assert home_cell[r.neighbor_id] in probe_cells[q_id]


def test_random_projection_distance_preservation(spark, sf_smoke):
    """JL sketch: the k-dim norm estimate concentrates around the true
    norm — corpus-median ratio within [0.5, 1.5] for k=8 — and the
    projection is deterministic across runs (fixed hyperplanes)."""
    from google_cloud_ecommerce_spark.operators.similarity import (
        N_PROJECTIONS,
        random_projection,
    )

    def proj_of(r):
        return tuple(r[f"proj_{i}"] for i in range(N_PROJECTIONS))

    rows = random_projection(spark, sf_smoke).collect()
    assert rows
    assert all(len(proj_of(r)) == N_PROJECTIONS for r in rows)
    ratios = sorted(r.norm_ratio for r in rows)
    median = ratios[len(ratios) // 2]
    assert 0.5 <= median <= 1.5
    again = random_projection(spark, sf_smoke).collect()
    assert sorted((r.vec_id, proj_of(r)) for r in rows) == sorted(
        (r.vec_id, proj_of(r)) for r in again
    )


def test_gopher_gates_rule_semantics(spark, sf_smoke, tmp_path):
    """keep == AND of all five flags; a synthetic doc violating one
    specific rule fails exactly that flag."""
    from google_cloud_ecommerce_spark.operators.text import gopher_gates

    rows = gopher_gates(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        flags = (
            r.pass_word_count,
            r.pass_mean_word_len,
            r.pass_alpha_frac,
            r.pass_symbol_ratio,
            r.pass_stopwords,
        )
        assert r.n_rules_passed == sum(flags)
        assert r.keep == int(all(flags))

    # targeted violations on a synthetic corpus
    good = "the and of " + " ".join(f"word{i}" for i in range(60))
    short = "the a tiny doc"  # violates word count
    nums = "the a of " + " ".join(str(i) for i in range(80))  # alpha frac
    hashy = "the a of " + " ".join("#" for _ in range(60))  # symbol ratio
    df = spark.createDataFrame(
        [(1, good, "en", "s", len(good)), (2, short, "en", "s", len(short)),
         (3, nums, "en", "s", len(nums)), (4, hashy, "en", "s", len(hashy))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in gopher_gates(spark, str(tmp_path)).collect()}
    assert out[1].keep == 1
    assert out[2].pass_word_count == 0
    assert out[3].pass_alpha_frac == 0
    assert out[4].pass_symbol_ratio == 0 and out[4].pass_alpha_frac == 0


def test_prefix_filter_finds_crafted_near_dup(spark, tmp_path):
    """A doc differing from its twin by one word in ~40 (shingle Jaccard
    >= 0.8) must be found; unrelated docs must not pair. The prefix
    index must be strictly smaller than the full shingle index."""
    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.operators.dedup import dedup_prefix_filter

    words = [f"tok{i}" for i in range(40)]
    a = " ".join(words)
    twin = " ".join(words[:-1] + ["changed"])
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, twin, "en", "s", len(twin)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup_prefix_filter(spark, str(tmp_path)).collect()}
    assert set(pairs) == {(1, 2)}
    # 38 shingles each; only the final shingle covers the changed last
    # word -> 37 shared, union 39
    assert abs(pairs[(1, 2)] - 37 / 39) < 1e-6


def test_semdedup_cluster_locality_and_threshold(spark, sf_smoke):
    """SemDeDup pairs: keeper is the lower id, rounded cosine meets the
    threshold, and both members share the reported k-means cluster."""
    from google_cloud_ecommerce_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        semdedup_clusters,
    )
    from google_cloud_ecommerce_spark.operators.similarity import kmeans_assign

    rows = semdedup_clusters(spark, sf_smoke).collect()
    cluster_of = {
        r.vec_id: r.cluster_id for r in kmeans_assign(spark, sf_smoke).collect()
    }
    for r in rows:
        assert r.keep_vec_id < r.drop_vec_id
        assert r.cosine >= COSINE_DUP_THRESHOLD
        assert cluster_of[r.keep_vec_id] == r.cluster_id
        assert cluster_of[r.drop_vec_id] == r.cluster_id


def test_bpe_tokenize_conservation(spark, sf_smoke):
    """Token accounting: every document appears, 1 <= tokens <= chars
    per word (merges only shrink), corpus word counts conserved, and
    compression = chars/tokens exactly."""
    from pyspark.sql import functions as F

    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.operators._common import tokens_expr
    from google_cloud_ecommerce_spark.operators.text import bpe_tokenize

    rows = bpe_tokenize(spark, sf_smoke).collect()
    assert rows
    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.expr(f"size({tokens_expr('lower(text)')})").alias("n")
    )
    expect_words = {r.doc_id: r.n for r in docs.collect()}
    for r in rows:
        assert r.n_words == expect_words[r.doc_id]
        assert r.n_words <= r.n_tokens <= r.n_chars_tokenized
        assert r.compression == r.n_chars_tokenized / r.n_tokens


def test_media_ops_match_oracle_on_empty_doc(spark, tmp_path):
    """A 0-char document decodes to zero samples: the Python side must
    emit NO row for it (the oracle's unnest over an empty range emits
    none), or every future rotation of a media op would hash-mismatch
    on corpora containing empty docs."""
    from tests.oracle_parity import compare, duckdb_connect

    docs = spark.createDataFrame(
        [(0, "", "en", "s0", 0), (1, "hello world", "en", "s1", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb_connect(str(tmp_path))
    for name in ("media_wav_decode", "media_features", "media_frame_sample"):
        problems = compare(
            multimodal.QUERIES[name](spark, str(tmp_path)),
            con,
            multimodal.ORACLE[name],
        )
        assert not problems, f"{name}: {problems}"


def test_semdedup_mega_cluster_splits_and_matches_oracle(spark, tmp_path):
    """Skew hardening (round 4): a LOOSE mega-cluster far above
    SEMDEDUP_CLUSTER_CAP must (a) actually sub-split — multiple subkeys
    inside the big cluster, bounding the pair space — while (b) staying
    value-identical to the DuckDB oracle (the size rule and sign-LSH
    key are inlined in both engines) and (c) still finding planted
    near-duplicate pairs, whose near-identical vectors share hyperplane
    signs and therefore always land in the same subkey. (A TIGHT
    mega-cluster of near-identical vectors deliberately does NOT split
    — every member shares all signs — but there the output itself is
    quadratic, so no sub-quadratic execution exists.)"""
    import numpy as np

    from tests.oracle_parity import compare, duckdb_connect
    from google_cloud_ecommerce_spark.operators.dedup import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_clusters_sql,
        semdedup_clusters,
    )

    rng = np.random.RandomState(7)
    n_big = SEMDEDUP_CLUSTER_CAP + 120  # needed=2 -> n_sub=2
    rows = []
    # k-means seeds are vec_id < K: give them two distinct directions
    for i in range(4):
        base = np.zeros(64)
        base[0 if i % 2 == 0 else 32] = 1.0
        rows.append((i, [float(x) for x in base], 0))
    # loose mega-cluster around e0: noise large enough to flip LSH signs
    for i in range(4, n_big):
        v = np.zeros(64)
        v[0] = 1.0
        v += rng.randn(64) * 0.5
        rows.append((i, [float(x) for x in v], 0))
    # planted near-dup pair inside the mega-cluster's direction
    a = np.zeros(64)
    a[0] = 1.0
    a += rng.randn(64) * 0.05
    b = a + rng.randn(64) * 0.01
    rows.append((n_big, [float(x) for x in a], 0))
    rows.append((n_big + 1, [float(x) for x in b], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    emb.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    con = duckdb_connect(str(tmp_path))
    sql = _semdedup_clusters_sql()
    problems = compare(semdedup_clusters(spark, str(tmp_path)), con, sql)
    assert not problems, problems

    # the split must ENGAGE: >1 subkey in the oversized cluster
    sub = con.execute(
        sql.split("), pairs AS")[0]
        + ") SELECT cluster_id, count(*) AS n, count(DISTINCT subkey) AS subs"
        " FROM keyed GROUP BY 1"
    ).fetchall()
    big = [r for r in sub if r[1] > SEMDEDUP_CLUSTER_CAP]
    assert big, f"no cluster exceeded the cap: {sub}"
    assert all(r[2] > 1 for r in big), f"oversized cluster did not split: {sub}"

    # planted near-dups must survive the split
    found = {
        (r.keep_vec_id, r.drop_vec_id)
        for r in semdedup_clusters(spark, str(tmp_path)).collect()
    }
    assert (n_big, n_big + 1) in found


def test_shuffle_partitions_falls_back_on_non_numeric_conf():
    """Runtimes that accept spark.sql.shuffle.partitions="auto" must not
    crash the semdedup salt sizing: it falls back to defaultParallelism."""
    from types import SimpleNamespace

    from google_cloud_ecommerce_spark.operators.dedup import _shuffle_partitions

    def stub(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key, default=None: value),
            sparkContext=SimpleNamespace(defaultParallelism=7),
        )

    assert _shuffle_partitions(stub("auto")) == 7
    assert _shuffle_partitions(stub("12")) == 12


def test_semdedup_salt_threshold_follows_cluster_cap():
    from google_cloud_ecommerce_spark.operators.dedup import (
        SEMDEDUP_CLUSTER_CAP,
        _semdedup_salt_count_expr,
    )

    assert "c_n > 256," in _semdedup_salt_count_expr(64, 8, 1)
    # the default cap keeps the historical 4 x 256 threshold
    assert "c_n > 1024," in _semdedup_salt_count_expr(SEMDEDUP_CLUSTER_CAP, 8, 1)


def test_semdedup_rows_independent_of_salt(spark, sf_smoke):
    """The salt only spreads pair work: one salt (1 shuffle partition)
    and the full 8-way salt (32 partitions) give identical rows."""
    from google_cloud_ecommerce_spark.operators.dedup import semdedup_clusters

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    rows = {}
    try:
        for parts in ("1", "32"):
            spark.conf.set(key, parts)
            rows[parts] = sorted(semdedup_clusters(spark, sf_smoke).collect())
    finally:
        spark.conf.set(key, saved)
    assert rows["1"] == rows["32"]


def test_shingle_dedup_matches_oracle_on_short_docs(spark, tmp_path, tmp_warehouse):
    """Documents of 0, 1 and 2 tokens have no 3-token shingle. The
    oracle's range() gives them none; the Spark side once built its
    shingles over sequence(1, 0) = [1, 0] and raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on them. The empty document has no
    words either: the Gopher ratios once divided by its zero word count
    and raised DIVIDE_BY_ZERO in gopher_gates and curation_funnel_v2."""
    from google_cloud_ecommerce_spark.operators import pipeline
    from tests.oracle_parity import compare, duckdb_connect

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    texts = ["", "a", "a b", base, base, base.replace("today", "tonight"),
             "completely different words about spark shuffles and codegen"]
    docs = spark.createDataFrame(
        [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    con = duckdb_connect(str(tmp_path))
    for name in ("dedup_ngram_jaccard", "dedup_prefix_filter"):
        df = dedup.QUERIES[name](spark, str(tmp_path))
        assert df.count() > 0, f"{name}: the planted near-duplicates found no pair"
        problems = compare(df, con, dedup.ORACLE[name])
        assert not problems, f"{name}: {problems}"
    for mod, name in ((text, "gopher_gates"), (pipeline, "curation_funnel_v2")):
        problems = compare(mod.QUERIES[name](spark, str(tmp_path)), con, mod.ORACLE[name])
        assert not problems, f"{name}: {problems}"
