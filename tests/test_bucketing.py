"""Bucketed co-located join: the storage-layout half of the 100 TB
posture. Writing both fact tables bucketed by the join key lets Spark
plan the orders⋈lineitem join with ZERO Exchange operators — at scale
that's the difference between re-shuffling 100 TB per query and reading
pre-partitioned data in place. (`SURVEY.md §4`: "broadcast joins under
threshold, bucketing for co-located fact-fact joins".)
"""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.catalog import load_table


def _drop(spark, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)  # stale location


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_smoke):
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        _drop(spark, f"b_{name}")
        (
            load_table(spark, sf_smoke, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(f"b_{name}")
        )
    yield
    for name in ("orders", "lineitem"):
        _drop(spark, f"b_{name}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # At test scale Spark would rightly broadcast; disable it to expose
    # the layout property under test (at 100 TB neither fact side fits a
    # broadcast, and this bucketed sort-merge IS the plan).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        pre_agg = plan.split("HashAggregate")[-1]  # below the partial agg: scan+join
        assert "Exchange" not in pre_agg, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_unbucketed(spark, sf_smoke, bucketed_tables):
    bucketed = (
        spark.table("b_lineitem")
        .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    plain = (
        load_table(spark, sf_smoke, "lineitem")
        .join(
            load_table(spark, sf_smoke, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))


def test_zorder_write_clusters_both_dimensions(spark, sf_smoke, tmp_path):
    """Z-order files must cover RECTANGLES of (user bucket, day) space,
    not full-range stripes — that narrowness is what lets parquet
    row-group stats prune on either filter column."""
    import glob
    import os

    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark.queries.scale import ZORDER_BITS, zorder_write

    events = load_table(spark, sf_smoke, "events")
    out = str(tmp_path / "zorder")
    zorder_write(events, out, n_files=16)

    side = 2**ZORDER_BITS
    areas, xs, ys = [], [], []
    for f in glob.glob(os.path.join(out, "*.parquet")):
        t = pq.read_table(f, columns=["user_id", "ts"])
        x = [u % side for u in t.column("user_id").to_pylist()]
        y = [(ts.day - 1) % side for ts in t.column("ts").to_pylist()]
        if not x:
            continue
        xr, yr = max(x) - min(x) + 1, max(y) - min(y) + 1
        xs.append(xr)
        ys.append(yr)
        areas.append(xr * yr)

    global_area = side * 31  # user buckets x days in the one-month corpus
    assert len(areas) >= 8
    # every file covers a fraction of the 2-D space, and on average a
    # small one; a linear sort on one column would give full-range
    # stripes in the other (area ratio ~1 for most files)
    assert max(areas) / global_area < 0.6
    assert sum(areas) / len(areas) / global_area < 0.25
    # neither dimension degenerates to always-full-range
    assert sum(x < side for x in xs) > len(xs) // 2
    assert sum(y < 31 for y in ys) > len(ys) // 2


def test_distinct_bucket_keys_get_distinct_layouts(spark, sf_smoke):
    """Two callers bucketing one table by different keys (or counts)
    must coexist as separate catalog tables/locations — ADVICE r5: a
    shared identity silently rebuilt the full layout on every
    alternation."""
    from google_cloud_ecommerce_spark.io import ensure_bucketed_table

    by_cust = ensure_bucketed_table(spark, sf_smoke, "orders", "o_custkey", 4)
    by_key = ensure_bucketed_table(spark, sf_smoke, "orders", "o_orderkey", 4)
    tables = {t.name for t in spark.catalog.listTables() if t.name.startswith("bk_orders_")}
    assert len({n for n in tables if "o_custkey_4" in n or "o_orderkey_4" in n}) == 2
    # alternating back is a pure catalog hit — same row counts, no rebuild
    again = ensure_bucketed_table(spark, sf_smoke, "orders", "o_custkey", 4)
    assert again.count() == by_cust.count() == by_key.count()


def test_old_scheme_bucket_layouts_are_garbage_collected(spark, sf_smoke):
    """ADVICE r6: layouts cached under an earlier naming scheme are
    orphaned by the rename — recognized by a _SOURCE marker directly
    under bucketed/<table>/ — and removed on the next build.
    Current-scheme siblings (other keys/counts) survive."""
    from google_cloud_ecommerce_spark.io import WAREHOUSE, ensure_bucketed_table

    table_root = WAREHOUSE / "bucketed" / "orders"
    table_root.mkdir(parents=True, exist_ok=True)
    stale = table_root / "sf0_001_deadbeef"
    stale.mkdir(exist_ok=True)
    (stale / "_SOURCE").write_text("12345:678")  # old-format marker
    current = ensure_bucketed_table(spark, sf_smoke, "orders", "o_custkey", 4)
    assert current.count() > 0
    assert not stale.exists(), "old-scheme layout not garbage-collected"
    # the current-scheme location for this call still exists
    assert any("o_custkey_4" in p.name for p in table_root.iterdir())


def test_bucket_gc_tolerates_concurrently_vanishing_marker(
    spark, sf_smoke, monkeypatch
):
    """ADVICE r7: a concurrent ensure_bucketed_table in another process
    can GC the same stale dir between the is_file() check and the
    read_text() — the marker read must not fail the build."""
    from pathlib import Path

    from google_cloud_ecommerce_spark.io import WAREHOUSE, ensure_bucketed_table

    table_root = WAREHOUSE / "bucketed" / "orders"
    table_root.mkdir(parents=True, exist_ok=True)
    racy = table_root / "sf0_001_raceme"
    racy.mkdir(exist_ok=True)
    (racy / "_SOURCE").write_text("12345:678")  # old-format marker

    real_read_text = Path.read_text

    def racing_read_text(self, *a, **kw):
        if self == racy / "_SOURCE":  # the other process got there first
            raise FileNotFoundError(str(self))
        return real_read_text(self, *a, **kw)

    monkeypatch.setattr(Path, "read_text", racing_read_text)
    current = ensure_bucketed_table(spark, sf_smoke, "orders", "o_custkey", 4)
    assert current.count() > 0
