"""The generated tables reproduce the distributions of the repository's
sf0.1 test tables.

MEASURED holds the figures taken from those tables (sf0.001 and sf0.01
agree with them where the table is large enough to say). The generator
runs at scale 0.1, where its row counts equal the test tables', and
every figure must come out within the stated tolerance.
"""

from __future__ import annotations

import collections
import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402

MEASURED = {
    "rows": {
        "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000, "documents": 5_000,
        "embeddings": 2_000,
    },
    # documents
    "vocabulary": 31,  # 30 words plus the near-duplicate marker "dup"
    "own_words": (10, 99),  # words of a document before " dup"
    "mean_words": 54.14,
    "dup_share": 0.05,  # documents ending in " dup"
    "lang_share": {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140},
    "sources": 20,  # src0..src19, equal counts
    # events
    "event_type_share": 0.2,  # five types, each 0.198-0.203
    "users": 1_500,  # 66.7 events per user
    "value_median": 34.77,
    "value_mean": 49.87,
    "value_max": 560.21,
    "props_distinct": 100,
    # embeddings
    "dim": 64,
    "dim_std": 0.125,  # unit vectors: 1 / sqrt(64)
    "labels": 10,
    # TPC-H
    "lines_per_order": 4.08,
    "orders_with_lines": 147_236,
    "flag_status_pairs": 6,  # (A|N|R) x (F|O), each about 1/6
    "discounts": 11,  # 0.00 to 0.10
    "extendedprice_mean": 52_952.0,
    "part_names": 64,
    "part_brands": 25,
    "part_types": 6,
    "order_customers": 14_999,
}


@pytest.fixture(scope="module")
def tables():
    return {name: t.to_pydict() for name, t in datagen.build_tables(seed=11, scale=0.1).items()}


def test_row_counts(tables):
    assert {k: len(next(iter(v.values()))) for k, v in tables.items()} == MEASURED["rows"]


def test_documents(tables):
    d = tables["documents"]
    texts = d["text"]
    words = collections.Counter(w for t in texts for w in t.split())
    assert len(words) == MEASURED["vocabulary"]
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) / len(texts) == MEASURED["dup_share"]
    own = [len(t.split()) - t.endswith(" dup") for t in texts]
    assert (min(own), max(own)) == MEASURED["own_words"]
    assert statistics.mean(len(t.split()) for t in texts) == pytest.approx(MEASURED["mean_words"], rel=0.03)
    # most near duplicates still have their source in the table
    assert sum(t[:-4] in set(texts) for t in dups) / len(dups) > 0.9
    langs = collections.Counter(d["lang"])
    for lang, share in MEASURED["lang_share"].items():
        assert langs[lang] / len(texts) == pytest.approx(share, abs=0.02)
    sources = collections.Counter(d["source"])
    assert len(sources) == MEASURED["sources"] and len(set(sources.values())) == 1
    assert d["n_chars"] == [len(t) for t in texts]


def test_events(tables):
    e = tables["events"]
    n = len(e["event_id"])
    for count in collections.Counter(e["event_type"]).values():
        assert count / n == pytest.approx(MEASURED["event_type_share"], abs=0.005)
    assert len(set(e["user_id"])) == MEASURED["users"]
    values = e["value"]
    assert statistics.median(values) == pytest.approx(MEASURED["value_median"], rel=0.03)
    assert statistics.mean(values) == pytest.approx(MEASURED["value_mean"], rel=0.02)
    assert max(values) == pytest.approx(MEASURED["value_max"], rel=0.15)
    assert len(set(e["props"])) == MEASURED["props_distinct"]
    assert e["ts"] == sorted(e["ts"])


def test_embeddings(tables):
    v = np.asarray(tables["embeddings"]["embedding"])
    assert v.shape[1] == MEASURED["dim"]
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    assert v.std() == pytest.approx(MEASURED["dim_std"], rel=0.01)
    assert len(set(tables["embeddings"]["label"])) == MEASURED["labels"]


def test_tpch(tables):
    li, o, p = tables["lineitem"], tables["orders"], tables["part"]
    per_order = collections.Counter(li["l_orderkey"])
    assert len(li["l_orderkey"]) / len(per_order) == pytest.approx(MEASURED["lines_per_order"], rel=0.01)
    assert len(per_order) == pytest.approx(MEASURED["orders_with_lines"], rel=0.01)
    pairs = collections.Counter(zip(li["l_returnflag"], li["l_linestatus"]))
    assert len(pairs) == MEASURED["flag_status_pairs"]
    assert all(c / len(li["l_orderkey"]) == pytest.approx(1 / 6, abs=0.005) for c in pairs.values())
    assert len(set(li["l_discount"])) == MEASURED["discounts"]
    assert statistics.mean(li["l_extendedprice"]) == pytest.approx(MEASURED["extendedprice_mean"], rel=0.01)
    assert len(set(p["p_name"])) == MEASURED["part_names"]
    assert len(set(p["p_brand"])) == MEASURED["part_brands"]
    assert len(set(p["p_type"])) == MEASURED["part_types"]
    assert len(set(o["o_custkey"])) == pytest.approx(MEASURED["order_customers"], rel=0.001)


def test_same_seed_same_rows():
    a = datagen.build_tables(seed=5, scale=0.001)
    b = datagen.build_tables(seed=5, scale=0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not datagen.build_tables(seed=6, scale=0.001)["events"].equals(a["events"])
