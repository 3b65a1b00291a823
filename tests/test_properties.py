"""Property-based checks (hypothesis): the distributed implementations
of the two trickiest operators — as-of matching (union+window) and
gap-based sessionization (applyInPandas) — must agree with brute-force
single-machine references on arbitrary event streams, including
duplicate timestamps and single-event users."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.operators import pandas_ops
from google_cloud_ecommerce_spark.queries import joins

T0 = datetime(2024, 3, 1)

event_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),            # user_id
        st.integers(min_value=0, max_value=7200),         # seconds offset
        st.sampled_from(["view", "cart", "purchase"]),    # event_type
    ),
    min_size=1,
    max_size=25,
)


def _write_events(spark, tmpdir: str, rows) -> str:
    data = [
        (i, T0 + timedelta(seconds=sec), uid, et, 1.0, None)
        for i, (uid, sec, et) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    return tmpdir


def _brute_force_asof(rows):
    """O(n^2) reference: for each purchase, the latest view by the same
    user at or before it; ties on time -> highest event_id view wins."""
    events = [(i, sec, uid, et) for i, (uid, sec, et) in enumerate(rows)]
    out = {}
    for pid, p_sec, p_uid, p_et in events:
        if p_et != "purchase":
            continue
        candidates = [
            (sec, vid)
            for vid, sec, uid, et in events
            if et == "view" and uid == p_uid and sec <= p_sec
        ]
        out[pid] = max(candidates)[1] if candidates else None
    return out


@settings(max_examples=8, deadline=None)
@given(rows=event_strategy)
def test_asof_matches_brute_force(spark, tmp_path_factory, rows):
    sf = _write_events(spark, str(tmp_path_factory.mktemp("prop_asof")), rows)
    got = {
        r.purchase_event_id: r.view_event_id
        for r in joins.asof_purchase_view(spark, sf).collect()
    }
    assert got == _brute_force_asof(rows)


def _brute_force_sessions(rows, gap_s=1800):
    by_user: dict[int, list[int]] = {}
    for i, (uid, sec, _et) in enumerate(rows):
        by_user.setdefault(uid, []).append(sec)
    out = {}
    for uid, secs in by_user.items():
        secs.sort()
        n_sessions, max_len, cur = 1, 1, 1
        for a, b in zip(secs, secs[1:]):
            if b - a > gap_s:
                n_sessions += 1
                cur = 1
            else:
                cur += 1
            max_len = max(max_len, cur)
        out[uid] = (len(secs), n_sessions, max_len)
    return out


@settings(max_examples=8, deadline=None)
@given(rows=event_strategy)
def test_session_stats_matches_brute_force(spark, tmp_path_factory, rows):
    sf = _write_events(spark, str(tmp_path_factory.mktemp("prop_sess")), rows)
    got = {
        r.user_id: (r.n_events, r.n_sessions, r.max_session_events)
        for r in pandas_ops.session_stats_pandas(spark, sf).collect()
    }
    assert got == _brute_force_sessions(rows)


# ---------------------------------------------------------------------------
# Round-2 operator properties
# ---------------------------------------------------------------------------

doc_text_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from("ab @.-0123456789xyz"),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(texts=doc_text_strategy)
def test_pii_redaction_is_idempotent_and_consistent(spark, texts):
    """Redacting an already-redacted text changes nothing, and
    n_redactions always equals the sum of the per-kind counts."""
    from google_cloud_ecommerce_spark.operators import text as t

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
    )
    once = t.redact_pii(df).select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_redactions",
        F.col("redacted").alias("text"),
    )
    twice = t.redact_pii(once.select("doc_id", "text")).collect()
    for r in twice:
        assert r.redacted == r.text  # idempotent: placeholders don't re-match
    for r in once.collect():
        assert r.n_redactions == r.n_email + r.n_ssn + r.n_phone


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet=st.sampled_from("abcd"), min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_merge_fold_preserves_word_text(spark, words):
    """After any number of merge rounds, concatenating a word's symbols
    must reproduce the word exactly — the greedy fold may regroup but
    never lose or duplicate characters."""
    from google_cloud_ecommerce_spark.operators.text import (
        _BPE_MERGE_FOLD,
        _bpe_best_pair,
        _bpe_vocab,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "s", len(" ".join(words)))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile, shutil as sh

    d = tempfile.mkdtemp(prefix="bpe_prop_")
    try:
        docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        vocab = _bpe_vocab(spark, d)
        for rnd in range(1, 3):
            pairs = vocab.filter(F.expr("size(syms) >= 2"))
            if pairs.isEmpty():
                break
            best = _bpe_best_pair(vocab, rnd)
            vocab = vocab.crossJoin(
                F.broadcast(best.select("ls", "rs", "merged"))
            ).select("word", "wcount", F.expr(_BPE_MERGE_FOLD).alias("syms"))
            for r in vocab.collect():
                assert "".join(r.syms) == r.word
    finally:
        sh.rmtree(d, ignore_errors=True)


@settings(max_examples=10, deadline=None)
@given(
    xy=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_zorder_interleave_is_injective_and_bounded(spark, xy):
    """Distinct (x, y) pairs must get distinct z-values within 16 bits,
    and the curve must preserve the per-dimension bit decomposition."""
    from google_cloud_ecommerce_spark.queries.scale import ZORDER_BITS, _zorder_terms

    df = spark.createDataFrame(xy, "x long, y long").select(
        "x", "y", F.expr(_zorder_terms("x", "y", "DIV")).alias("z")
    )
    rows = df.collect()
    zs = [r.z for r in rows]
    assert len(set(zs)) == len(zs)  # injective
    assert all(0 <= z < 4 ** ZORDER_BITS for z in zs)
    for r in rows:  # de-interleave recovers the inputs
        x = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(ZORDER_BITS))
        y = sum(((r.z >> (2 * i)) & 1) << i for i in range(ZORDER_BITS))
        assert (x, y) == (r.x, r.y)


# ---------------------------------------------------------------------------
# Round-3 primitives: pure-Python properties (no Spark jobs — cheap,
# thousands of cases).
# ---------------------------------------------------------------------------


@given(
    n=st.integers(min_value=1, max_value=100_000),
    q=st.sampled_from([(1, 4), (1, 2), (9, 10), (99, 100)]),
)
def test_sketch_quantile_position_is_valid_and_exact(n, q):
    """The integer-rational position (num*n + den - 1) DIV den must be
    ceil(q*n) exactly and always a valid 1-based index."""
    import math

    num, den = q
    pos = (num * n + den - 1) // den
    assert pos == math.ceil(num * n / den) or (num * n) % den == 0 and pos == num * n // den
    assert 1 <= pos <= n


@given(
    syms=st.lists(st.sampled_from("abc"), min_size=1, max_size=12),
    pair=st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
)
def test_bpe_greedy_merge_reference(syms, pair):
    """The higher-order-fold merge (Spark/DuckDB shared semantics) must
    equal the sequential greedy left-to-right merge: after a merge the
    new symbol cannot immediately re-merge with the consumed left
    context (the fold appends `merged`, then continues from the NEXT
    input symbol)."""
    ls, rs = pair
    merged = ls + rs

    # reference: sequential greedy scan
    ref: list[str] = []
    for x in syms:
        if ref and ref[-1] == ls and x == rs:
            ref[-1] = merged
        else:
            ref.append(x)

    # the fold as written in _BPE_MERGE_FOLD / _BPE_SQL_FOLD
    acc: list[str] = []
    for x in syms:
        if not acc:
            acc.append(x)
        elif acc[-1] == ls and x == rs:
            acc = acc[:-1] + [merged]
        else:
            acc.append(x)
    assert acc == ref
    # conservation: merges only ever shrink, never below 1 symbol,
    # and never alter the character stream
    assert 1 <= len(acc) <= len(syms)
    assert "".join(acc) == "".join(syms)


basket_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=6),      # l_orderkey
        st.integers(min_value=10, max_value=17),    # l_partkey
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(items=basket_strategy)
def test_market_basket_matches_brute_force(spark, tmp_path_factory, items):
    """Arbitrary basket structures — duplicate lineitems, single-item
    orders, orders made entirely of the excluded '' brand — must match
    an independent O(n^2) Python reference for every rule column."""
    from google_cloud_ecommerce_spark.queries.stats import market_basket_rules

    brands = {k: ("" if k == 17 else f"B{k % 4}") for k in range(10, 18)}
    tmpdir = str(tmp_path_factory.mktemp("mb"))
    spark.createDataFrame(items, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(f"{tmpdir}/lineitem.parquet")
    spark.createDataFrame(
        list(brands.items()), "p_partkey long, p_brand string"
    ).write.mode("overwrite").parquet(f"{tmpdir}/part.parquet")

    baskets: dict[int, set] = {}
    for ok, pk in items:
        b = brands[pk]
        if b:
            baskets.setdefault(ok, set()).add(b)
    baskets = {k: v for k, v in baskets.items() if v}
    n = len(baskets)
    single: dict[str, int] = {}
    pair: dict[tuple, int] = {}
    for bs in baskets.values():
        for b in bs:
            single[b] = single.get(b, 0) + 1
        ss = sorted(bs)
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                pair[(ss[i], ss[j])] = pair.get((ss[i], ss[j]), 0) + 1

    got = {(r.brand_a, r.brand_b): r for r in market_basket_rules(spark, tmpdir).collect()}
    assert set(got) == set(pair)
    for (a, b), c in pair.items():
        r = got[(a, b)]
        assert (r.pair_orders, r.a_orders, r.b_orders, r.n_baskets) == (
            c, single[a], single[b], n,
        )
        assert r.support == c / n
        assert r.confidence_ab == c / single[a]
        assert r.confidence_ba == c / single[b]
        assert abs(r.lift - (c * n) / (single[a] * single[b])) < 1e-12


weights_strategy = st.lists(
    st.integers(min_value=1, max_value=500), min_size=1, max_size=40
)


@settings(max_examples=8, deadline=None)
@given(weights=weights_strategy)
def test_weighted_sample_matches_reference_on_arbitrary_weights(
    spark, tmp_path_factory, weights
):
    """A-ES selection on arbitrary integer weights (including w=1
    extremes and corpora smaller than k) must equal the Python
    reference exactly — same salted-md5 uniform, same rounded ln."""
    import hashlib
    import math

    from google_cloud_ecommerce_spark.operators.pipeline import (
        _TWO_60_PLUS_1,
        WEIGHTED_SAMPLE_K,
        WEIGHTED_SAMPLE_SALT,
        weighted_sample_topk,
    )

    tmpdir = str(tmp_path_factory.mktemp("ws"))
    rows = [(i, f"t{i}", "en", "s", w) for i, w in enumerate(weights)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")

    keys = []
    for i, w in enumerate(weights):
        h = int(
            hashlib.md5(f"{WEIGHTED_SAMPLE_SALT}{i}".encode()).hexdigest()[:15], 16
        )
        keys.append((round(math.log((h + 1) / _TWO_60_PLUS_1), 9) / w, i, w))
    expect = sorted(keys, key=lambda t: (-t[0], t[1]))[:WEIGHTED_SAMPLE_K]
    got = weighted_sample_topk(spark, tmpdir).collect()
    assert [(r.doc_id, r.weight) for r in sorted(got, key=lambda r: (-r.sample_key, r.doc_id))] == [
        (i, w) for _, i, w in expect
    ]


@settings(max_examples=8, deadline=None)
@given(weights=weights_strategy)
def test_stratified_sample_matches_reference_per_source(
    spark, tmp_path_factory, weights
):
    """Per-source A-ES selection on arbitrary weights (docs dealt
    round-robin to 3 sources, including sources smaller than k) must
    equal the Python reference exactly within every stratum."""
    import hashlib
    import math

    from google_cloud_ecommerce_spark.operators.pipeline import (
        _TWO_60_PLUS_1,
        STRATIFIED_SAMPLE_K,
        WEIGHTED_SAMPLE_SALT,
        stratified_sample_topk,
    )

    tmpdir = str(tmp_path_factory.mktemp("ss"))
    rows = [(i, f"t{i}", "en", f"s{i % 3}", w) for i, w in enumerate(weights)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")

    per_source: dict[str, list] = {}
    for i, w in enumerate(weights):
        h = int(
            hashlib.md5(f"{WEIGHTED_SAMPLE_SALT}{i}".encode()).hexdigest()[:15], 16
        )
        key = round(math.log((h + 1) / _TWO_60_PLUS_1), 9) / w
        per_source.setdefault(f"s{i % 3}", []).append((key, i, w))
    expect = {
        src: [
            (i, w, rk + 1)
            for rk, (_, i, w) in enumerate(
                sorted(ks, key=lambda t: (-t[0], t[1]))[:STRATIFIED_SAMPLE_K]
            )
        ]
        for src, ks in per_source.items()
    }
    got: dict[str, list] = {}
    for r in stratified_sample_topk(spark, tmpdir).collect():
        got.setdefault(r.source, []).append((r.doc_id, r.weight, r.rk))
    got = {src: sorted(v, key=lambda t: t[2]) for src, v in got.items()}
    assert got == expect
