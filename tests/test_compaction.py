"""Small-file compaction + runtime bloom-filter join injection.

Both are scale-posture checks: compaction is the maintenance op every
append sink needs at 100 TB, and the bloom-filter runtime filter is
Spark's row-level semi-join pushdown for selective fact⋈dim joins —
worth pinning that our plans remain eligible for it.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from google_cloud_ecommerce_spark import io as gio
from google_cloud_ecommerce_spark.catalog import load_table


def _parquet_files(d: str) -> list[str]:
    return [f for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)]


def test_compact_parquet_dir_merges_small_files(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)  # 64 tiny files
    assert len(_parquet_files(src)) == 64

    n_out = gio.compact_parquet_dir(spark, src, dst, target_file_bytes=1 << 30)
    assert n_out == 1
    assert len(_parquet_files(dst)) == 1
    # content preserved exactly
    a = spark.read.parquet(src).agg(F.count("*"), F.sum("id"), F.sum("v")).collect()
    b = spark.read.parquet(dst).agg(F.count("*"), F.sum("id"), F.sum("v")).collect()
    assert a == b


def test_compact_respects_target_size(spark, tmp_path):
    src, dst = str(tmp_path / "s2"), str(tmp_path / "d2")
    spark.range(0, 50_000).withColumn("payload", F.md5(F.col("id").cast("string"))) \
        .repartition(32).write.parquet(src)
    total = sum(os.path.getsize(f) for f in _parquet_files(src))
    target = max(1, total // 4)
    n_out = gio.compact_parquet_dir(spark, src, dst, target_file_bytes=target)
    assert 2 <= n_out <= 8
    assert len(_parquet_files(dst)) == n_out


def test_runtime_bloom_filter_injected_on_selective_dim_join(spark, sf_smoke):
    """With the runtime bloom filter enabled and thresholds floored, a
    selective dim filter joined to a big fact injects a
    BloomFilterMightContain probe on the fact scan side."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # disable broadcast so the join is shuffle-based (bloom filters
        # target exactly the case where broadcast pruning is unavailable)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        lineitem = load_table(spark, sf_smoke, "lineitem")
        orders = load_table(spark, sf_smoke, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "mightcontain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scan_compaction_mirrors_single_row_group_tables(spark, tmp_path, monkeypatch):
    """A big single-row-group source is mirrored through a DISTRIBUTED
    Spark rewrite (round-10: repartitionByRange + write — the same job
    an ingest cluster would run) into a multi-file directory with
    bit-identical rows; dims below the row threshold are not."""
    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", str(tmp_path / "cache"))
    sf_dir = "/root/testdata/sf0.1"
    src = os.path.join(sf_dir, "lineitem.parquet")
    assert pq.ParquetFile(src).metadata.num_row_groups == 1

    mirrored = catalog._compacted_source(spark, src)
    assert mirrored != src
    cores = spark.sparkContext.defaultParallelism
    files = _parquet_files(mirrored)
    n_rows = pq.ParquetFile(src).metadata.num_rows
    assert len(files) >= min(cores, max(2, n_rows // 8192))
    # bit-identical contents and schema (row ORDER changes under the
    # range shuffle, so compare canonically sorted on all columns)
    a = pq.read_table(mirrored)
    b = pq.read_table(src)
    assert a.schema.equals(b.schema), f"{a.schema}\nvs\n{b.schema}"
    keys = [(c, "ascending") for c in b.column_names]
    assert a.sort_by(keys).equals(b.sort_by(keys))
    # range partitioning keeps leading-key clustering: per-file key
    # ranges must not all be the full span (min/max stats stay useful)
    lead = b.column_names[0]
    spans = []
    for f in sorted(files):
        t = pq.read_table(f, columns=[lead])
        col = t.column(lead)
        spans.append((col[0].as_py(), col[-1].as_py()))
    assert len({s[0] for s in spans}) > 1, spans

    # small dims pass through untouched
    dim = os.path.join(sf_dir, "nation.parquet")
    assert catalog._compacted_source(spark, dim) == dim

    # cloud URIs pass through: compaction there is the ingest-time
    # distributed rewrite, never a driver-side mirror
    for uri in ("hdfs://nn/warehouse/t.parquet", "s3a://bucket/t.parquet"):
        assert catalog._compacted_source(spark, uri) == uri

    # fingerprint stability: second call reuses the mirror
    assert catalog._compacted_source(spark, src) == mirrored


def test_scan_compaction_parallelizes_the_scan(spark, tmp_path, monkeypatch):
    """load_table on the compacted mirror plans a multi-partition scan
    (the single-row-group original decodes in exactly one task)."""
    from google_cloud_ecommerce_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", str(tmp_path / "cache"))
    catalog._PLAN_CACHE.clear()
    try:
        df = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        # The single-row-group original decodes in exactly 1 task; the
        # mirror splits at max(1 MB openCostInBytes, bytes /
        # defaultParallelism) — ~15 splits for sf0.1 lineitem on a
        # many-core machine, about one per core on a small one. Genuine
        # fan-out is at least one split per core, up to 8.
        parallelism = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= min(8, parallelism)
    finally:
        catalog._PLAN_CACHE.clear()  # don't leak tmp-cache plans to other tests


def test_scan_compaction_low_cardinality_leading_column_falls_back(
    spark, tmp_path, monkeypatch
):
    """Range partitioning samples the LEADING column's values, so a
    low-cardinality leading key would collapse the mirror to 1-2 files
    — exactly the serial-scan problem compaction exists to fix. The
    rewrite must detect the collapse and fall back to round-robin
    (clustering lost, parallelism kept)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", str(tmp_path / "cache"))
    src = str(tmp_path / "flag_led.parquet")
    n = 60_000
    pq.write_table(
        pa.table(
            {
                "flag": pa.array([i % 2 for i in range(n)], type=pa.int64()),
                "v": pa.array([float(i) for i in range(n)]),
            }
        ),
        src,
        row_group_size=n,  # one row group: the pathological layout
    )
    mirrored = catalog._compacted_source(spark, src)
    assert mirrored != src
    files = _parquet_files(mirrored)
    assert len(files) >= max(2, min(spark.sparkContext.defaultParallelism, n // 8192) // 2)
    a = pq.read_table(mirrored)
    b = pq.read_table(src)
    keys = [(c, "ascending") for c in b.column_names]
    assert a.sort_by(keys).equals(b.sort_by(keys))


def test_scan_compaction_map_leading_column_uses_round_robin(
    spark, tmp_path, monkeypatch
):
    """A table whose LEADING column is a map cannot key
    repartitionByRange (maps are not orderable — AnalysisException,
    ADVICE r10): the mirror must detect it up front and round-robin
    instead of failing the whole load."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark import catalog

    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", str(tmp_path / "cache"))
    src = str(tmp_path / "map_led.parquet")
    n = 60_000
    pq.write_table(
        pa.table(
            {
                "props": pa.array(
                    [{"k": str(i % 7)} for i in range(n)],
                    type=pa.map_(pa.string(), pa.string()),
                ),
                "v": pa.array([float(i) for i in range(n)]),
            }
        ),
        src,
        row_group_size=n,
    )
    mirrored = catalog._compacted_source(spark, src)
    assert mirrored != src
    files = _parquet_files(mirrored)
    assert len(files) >= 2
    # values survive the round-robin rewrite exactly
    a = pq.read_table(mirrored).sort_by([("v", "ascending")])
    b = pq.read_table(src).sort_by([("v", "ascending")])
    assert a.column("v").equals(b.column("v"))
