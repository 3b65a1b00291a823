"""Global rank primitives (operators/ranking.py) against the window
forms they replace: ``row_number() OVER (ORDER BY ...) - 1`` and
``ntile(t) OVER (ORDER BY ...)``, including the edges where range
partitions come out empty or the leading key repeats."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.operators.ranking import (
    _ranked,
    range_partition_ntile,
    range_partition_prefix_sum,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, id long, v long")


def _window_rank(df, order):
    w = Window.orderBy(*order)
    return {r.id: r.rn for r in df.select("id", (F.row_number().over(w) - 1).alias("rn")).collect()}


@pytest.mark.parametrize(
    "rows",
    [
        # n < n_parts: most range partitions are empty
        [(3, 0, 1), (1, 1, 2), (2, 2, 3)],
        # duplicate leading keys: the tie-breaker decides
        [(k % 3, i, i) for i, k in enumerate([5, 1, 1, 4, 1, 5, 2, 2, 9, 1, 0, 4])],
    ],
    ids=["fewer_rows_than_parts", "duplicate_leading_keys"],
)
def test_ranked_equals_row_number(spark, rows):
    df = _frame(spark, rows)
    ranked, n = _ranked(df, ["k", "id"], n_parts=8)
    assert n == len(rows)
    assert {r.id: r["__r"] for r in ranked.collect()} == _window_rank(df, ["k", "id"])


def test_ranked_descending_keys(spark):
    rows = [(i % 4, i, i) for i in range(40)]
    df = _frame(spark, rows)
    order = [F.desc("k"), F.asc("id")]
    ranked, n = _ranked(df, order, n_parts=3)
    assert n == 40
    assert {r.id: r["__r"] for r in ranked.collect()} == _window_rank(df, order)


def test_ranked_empty_input(spark):
    ranked, n = _ranked(_frame(spark, []), ["k", "id"], n_parts=4)
    assert n == 0
    assert ranked.collect() == []


@pytest.mark.parametrize("n_rows", [3, 10, 23])
def test_ntile_equals_window_ntile(spark, n_rows):
    df = _frame(spark, [(i % 5, i, i) for i in range(n_rows)])
    got = {
        r.id: r.tile
        for r in range_partition_ntile(df, ["k", "id"], 4, n_parts=3).collect()
    }
    w = Window.orderBy("k", "id")
    want = {r.id: r.t for r in df.select("id", F.ntile(4).over(w).alias("t")).collect()}
    assert got == want


def test_prefix_sum_equals_running_window(spark):
    df = _frame(spark, [(i % 7, i, (i * 37) % 11) for i in range(50)])
    got = {
        r.id: r.before
        for r in range_partition_prefix_sum(df, ["k", "id"], "v", "before", n_parts=4).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.id: r.b
        for r in df.select("id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("b")).collect()
    }
    assert got == want


def test_prefix_sum_rejects_non_integral_values(spark):
    df = _frame(spark, [(1, 1, 1)]).withColumn("v", F.col("v").cast("double"))
    with pytest.raises(TypeError, match="not integral"):
        range_partition_prefix_sum(df, ["k", "id"], "v")
