"""Seeded generator for the benchmark's input tables.

Writes the ten catalog tables (``<table>.parquet``, one row group each,
the layout ``catalog.load_table`` reads) with the schemas of the
repository's sf0.001/sf0.01/sf0.1 test tables, so any registry entry
runs on them unchanged. The same (seed, scale) always gives the same
rows; only file mtimes differ between writes.

Every distribution below matches one measured on those test tables;
README.md lists the figures and tests/test_datagen.py checks that the
generated tables reproduce them. Sizes at scale 1.0 follow TPC-H
(lineitem 6M rows) and the test tables' own ratios: events =
lineitem / 6, documents and embeddings scale with a floor of 500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64
N_SOURCES = 20
# a document's own words, before a near duplicate appends " dup"
DOC_WORDS = (10, 99)
# one document in DUP_EVERY (5%), at random positions, is a near duplicate
DUP_EVERY = 20
# events per user; the user count is events / EVENTS_PER_USER
EVENTS_PER_USER = 66.67


def table_rows(scale: float) -> dict[str, int]:
    """Row count of every table at ``scale`` (1.0 = 6M lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(10, round(10_000 * scale)),
        "part": max(10, round(200_000 * scale)),
        "orders": max(10, round(1_500_000 * scale)),
        "lineitem": max(10, round(6_000_000 * scale)),
        "events": max(10, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Every table as an Arrow table, derived from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), i64),
            "p_name": _pick(rng, names, k),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), i32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
            "o_totalprice": _money(rng, 800.0, 500_000.0, k),
            "o_orderdate": _days(rng, k, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), k),
            "l_linestatus": _pick(rng, ("F", "O"), k),
            "l_shipdate": _days(rng, k, "1995-01-02", "2001-11-04"),
        }
    )
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, k))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), i64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, round(k / EVENTS_PER_USER)), k), i64),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(np.minimum(rng.exponential(50.0, k), 600.0), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    vecs = rng.standard_normal((k, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), i64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), i32),
        }
    )
    return out


def _documents(rng: np.random.Generator, k: int) -> pa.Table:
    """Documents of DOC_WORDS words drawn uniformly from WORDS. Then
    k // DUP_EVERY documents at random positions are overwritten, one
    after another, with another document plus " dup" (near duplicates
    for the dedup operators); a later overwrite can replace a source or
    copy an earlier near duplicate, as in the test tables."""
    vocab = np.asarray(WORDS, dtype=object)
    lo, hi = DOC_WORDS
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(lo, hi + 1))]) for _ in range(k)]
    for i in rng.choice(k, k // DUP_EVERY, replace=False):
        texts[i] = texts[int(rng.integers(0, k))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(k), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, k, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(seed, scale).items():
        # one row group per file, as in the test data: the catalog's
        # scan-layout compaction keys on it
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, tbl.num_rows))
        rows[name] = tbl.num_rows
    return rows

