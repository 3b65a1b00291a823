"""Typed sources and sinks (SURVEY.md §2.1-§2.2).

The reference's I/O surface, Spark-first:

  #1/#2 chunked CSV scan   -> declared-schema CSV reader (a partitioned
        (pd.read_csv chunksize)  scan replaces manual chunking; never
                                 inferSchema in production paths)
  #3 cloud-storage paths   -> Spark reads gs://, s3a://, file:// URIs
                              natively through Hadoop FS; nothing to do
  #5 pandas ingestion      -> Arrow-backed createDataFrame
  #6 DDL create table      -> spark.sql CREATE TABLE ... USING parquet
  #7 batch insert sink     -> append writes (saveAsTable / parquet dir)
  #8 streaming append sink -> foreachBatch parquet epochs (exactly-once
                              per epoch vs the reference's bare
                              WRITE_APPEND at-least-once)
  #10 Spark->pandas egress -> Arrow toPandas, at the boundary only

The reference stringly-typed everything (``write_session_batch.py:29``
``astype(str)``); every reader here takes an explicit DDL schema, which
is what keeps predicate pushdown and type-aware encodings alive at
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_CSV_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def read_csv(spark: SparkSession, path: str, schema_ddl: str, header: bool = True) -> DataFrame:
    """Typed CSV scan — the fix for the reference's all-string ingestion."""
    return (
        spark.read.schema(schema_ddl)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema_ddl: str) -> DataFrame:
    """Typed JSON-lines scan (schema declared, no inference pass)."""
    return spark.read.schema(schema_ddl).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Day-partitioned layout (SURVEY.md §4: partition the events table
    by event date, mirroring the day/hour/weekday query axes) — at scale
    this is what turns Q1-style filters into partition pruning."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def create_table_ddl(spark: SparkSession, name: str, location: str, schema_ddl: str) -> None:
    """#6 — the Spanner CREATE TABLE (write_session_batch.py:61-88) as a
    metastore-registered parquet table."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({schema_ddl}) USING parquet LOCATION '{location}'"
    )


def append_to_table(df: DataFrame, name: str) -> None:
    """#7 — batched append replacing row-list Spanner inserts."""
    df.write.mode("append").insertInto(name)


def foreach_batch_parquet_sink(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """#8 — streaming append sink with per-epoch exactly-once semantics.

    ``foreachBatch`` hands each micro-batch a batch DataFrame + epoch id;
    writing each epoch to its own subdirectory makes replays idempotent
    (an epoch re-delivered after failure overwrites the same path instead
    of double-appending — the upgrade over the reference's WRITE_APPEND).
    """

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a directory of small parquet files into ~target-sized ones.

    The small-files problem is the operational failure mode of every
    long-running append sink (the reference's per-chunk Spanner inserts
    and per-epoch streaming appends both produce it): a 100 TB table
    made of 100 KB files spends more time in open/footer-read than in
    scan. Sizing from the ACTUAL on-disk bytes (not a row-count guess)
    keeps output files near the parquet sweet spot; coalesce() avoids a
    shuffle when only merging (narrow dependency), which is the common
    case.

    Returns the number of parquet files written: ``coalesce`` can only
    merge, so a scan planned into fewer partitions than requested writes
    fewer files.
    """
    total_bytes, n_files = 0, 0
    for st in _parquet_statuses(spark, src_dir):
        total_bytes += st.getLen()
        n_files += 1
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil division
    df = spark.read.parquet(src_dir)
    if n_out < max(n_files, 1):
        df = df.coalesce(int(n_out))  # merge-only: no shuffle
    else:
        df = df.repartition(int(n_out))  # splitting needs a shuffle
    df.write.mode("overwrite").parquet(dst_dir)
    return sum(1 for _ in _parquet_statuses(spark, dst_dir))


def _parquet_statuses(spark: SparkSession, path: str):
    """FileStatus of every ``.parquet`` file under ``path``. Hadoop FS
    listing works for any scheme (file://, s3a://, gs://), unlike a
    local glob."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    it = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            yield st


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files have EVOLVED schemas
    (columns added over time — the normal state of a long-lived append
    sink). mergeSchema reconciles footers; rows from files that predate
    a column read it as NULL. Off by default in Spark because footer
    merging costs a pass over file metadata — turn it on per-read, not
    globally, at 100 TB."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def jdbc_options(
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Options for the JDBC sink/source, as a pure inspectable dict.

    ``batchsize`` is the JDBC statement batch (the analogue of the
    reference's 100-row Spanner mutation batches,
    ``batch_pipeline/write_session_batch.py:91-103``); ``numPartitions``
    caps concurrent connections — at scale an unbounded writer is a
    database-side connection storm, so size it to what the target can
    absorb, not to the cluster's core count.
    """
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    if driver is not None:
        opts["driver"] = driver
    if num_partitions is not None:
        opts["numPartitions"] = str(num_partitions)
    return opts


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **kwargs
) -> None:
    """External-database sink — the Spark-native form of the reference's
    Spanner batch insert (``write_session_batch.py:91-103``) and BigQuery
    append (``write_session_stream.py:107-112``): executors write
    partition-parallel batched INSERTs instead of a driver-side row
    loop. Config-gated: needs the target's JDBC driver jar on the
    classpath (none ships in this container; tests cover the option
    surface)."""
    df.write.mode(mode).format("jdbc").options(**jdbc_options(url, table, **kwargs)).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **kwargs,
) -> DataFrame:
    """JDBC source. Without a partition column the whole table arrives
    through ONE connection — always pass (partitionColumn, lowerBound,
    upperBound, numPartitions) for anything bigger than a dim table."""
    opts = jdbc_options(url, table, num_partitions=num_partitions, **kwargs)
    if partition_column is not None:
        opts["partitionColumn"] = partition_column
        opts["lowerBound"] = str(lower_bound)
        opts["upperBound"] = str(upper_bound)
    return spark.read.format("jdbc").options(**opts).load()


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (built-in columnar alternative; same pushdown/pruning
    surface as parquet)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw media ingestion via the built-in ``binaryFile`` source: one
    row per blob with (path, modificationTime, length, content binary).
    This is the ingest edge for operators/multimodal.py — images/audio
    land as opaque payload columns with typed metadata, content stays
    in executors (never driver-collected). ``pathGlobFilter`` prunes by
    extension at LISTING time; a length filter here is driver-side file
    pruning, not a scan."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_json_permissive(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """Ingest JSON lines tolerantly: malformed rows land in
    ``_corrupt_record`` instead of failing the job (the quarantine-and-
    continue posture a crawl-scale ingest needs — at 100 TB a single
    bad record must never kill the batch). Callers split on
    ``_corrupt_record IS NULL`` into clean/quarantine sinks."""
    full_schema = f"{schema_ddl}, _corrupt_record string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


# ---------------------------------------------------------------------------
# Bucketed (co-located) table layout — the ingest-time partitioning
# that removes the join shuffle entirely: both sides written with
# bucketBy(N, key) + sortBy(key) scan straight into a SortMergeJoin
# with NO Exchange on either side (one task per bucket). This is the
# 100 TB answer for a join both of whose sides are fact-sized (too big
# to broadcast): pay the shuffle once at ingest, never per query.
# The layout persists under spark-warehouse/bucketed/<table>/<sf>/ with
# the same fingerprint-marker discipline as the ANN index layouts
# (operators/similarity.py): stale or missing layouts rebuild; a fresh
# session re-registers the catalog entry over the existing files via
# CREATE TABLE ... CLUSTERED BY ... LOCATION.
# ---------------------------------------------------------------------------

N_BUCKETS = 8
_BUCKET_ROOT = None  # resolved lazily so import carries no path cost


def _bucket_root():
    global _BUCKET_ROOT
    if _BUCKET_ROOT is None:
        from pathlib import Path

        _BUCKET_ROOT = Path(__file__).resolve().parents[1] / "spark-warehouse" / "bucketed"
    return _BUCKET_ROOT


def _bucket_fingerprint(sf_dir: str, table: str) -> str:
    import os
    from pathlib import Path

    src = Path(sf_dir) / f"{table}.parquet"
    if src.is_dir():
        stats = sorted(
            (p.name, p.stat().st_mtime_ns, p.stat().st_size)
            for p in src.rglob("*")
            if p.is_file()
        )
        return repr(stats)
    st = os.stat(src)
    return f"{st.st_mtime_ns}:{st.st_size}"


def ensure_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Return ``table`` as a catalog-registered bucketed table (bucketed
    AND sorted by ``key`` into ``n_buckets``), building the layout on
    first use per source fingerprint."""
    import hashlib
    import os
    import re

    from google_cloud_ecommerce_spark.catalog import load_table

    sf_tag = re.sub(r"[^a-zA-Z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    loc_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    # key + bucket count are part of the identity (ADVICE r5): two callers
    # bucketing the same table by different keys must get distinct
    # layouts, not alternate full rebuilds of one shared location
    key_tag = re.sub(r"[^a-zA-Z0-9]", "_", key)
    name = f"bk_{table}_{key_tag}_{n_buckets}_{sf_tag}_{loc_tag}"
    loc = _bucket_root() / table / f"{key_tag}_{n_buckets}_{sf_tag}_{loc_tag}"
    marker = loc / "_SOURCE"
    content = f"{_bucket_fingerprint(sf_dir, table)}|b{n_buckets}:{key}:v1"

    # Opportunistic GC (ADVICE r6): layouts cached under the pre-(key,
    # n_buckets) naming are orphaned by the rename and would waste disk
    # forever — their _SOURCE marker predates the "|b<n>:<key>:v1"
    # suffix, which is exactly how we recognize them. Never touches
    # current-scheme siblings (other keys/bucket counts coexist).
    table_root = loc.parent
    if table_root.is_dir():
        import shutil

        for old in table_root.iterdir():
            old_marker = old / "_SOURCE"
            # a concurrent builder in another process can GC the same
            # stale dir between is_file() and read_text() (ADVICE r7) —
            # treat a vanished/unreadable marker as "someone else is
            # handling it" and move on rather than failing the build
            try:
                stale = (
                    old.is_dir()
                    and old_marker.is_file()
                    and "|b" not in old_marker.read_text()
                )
            except OSError:
                continue
            if stale:
                shutil.rmtree(old, ignore_errors=True)

    fresh = marker.exists() and marker.read_text() == content
    if spark.catalog.tableExists(name):
        if fresh:
            return spark.table(name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    if fresh:
        # files are current from a prior session — re-register over them
        src = load_table(spark, sf_dir, table)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src.schema)
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
            f"LOCATION '{loc}'"
        )
        return spark.table(name)
    # a fingerprint change means the source files were replaced
    # out-of-band — drop the cached plan + stale file listings first
    from google_cloud_ecommerce_spark.catalog import invalidate_table

    invalidate_table(spark, sf_dir, table)
    src = load_table(spark, sf_dir, table)
    (
        src.write.format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", str(loc))
        .mode("overwrite")
        .saveAsTable(name)
    )
    marker.write_text(content)
    return spark.table(name)


# ---------------------------------------------------------------------------
# Day-partitioned event layout — the canonical time-partitioned
# lakehouse table: events written once partitioned by event day, so
# every time-bounded query prunes to the days it touches at the FILE
# LISTING level (PartitionFilters in the scan, zero data read outside
# the window). At 100 TB this is the difference between scanning one
# day (~3 TB) and scanning three years. Same fingerprint-marker
# discipline as the bucketed layout above.
# ---------------------------------------------------------------------------


def ensure_day_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Return the path of a day-partitioned copy of the events table,
    building it on first use per source fingerprint."""
    import hashlib
    import os
    import re

    from google_cloud_ecommerce_spark.catalog import load_table

    sf_tag = re.sub(r"[^a-zA-Z0-9]", "_", os.path.basename(os.path.normpath(sf_dir)))
    loc_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    loc = _bucket_root().parent / "events_by_day" / f"{sf_tag}_{loc_tag}"
    marker = loc / "_SOURCE"
    content = f"{_bucket_fingerprint(sf_dir, 'events')}|day:v1"
    if not (marker.exists() and marker.read_text() == content):
        # day AND hour are materialized at build time under the UTC pin
        # load_table applies, so reads in any session timezone see the
        # same wall-clock buckets (raw ts stays out of downstream
        # outputs for the same reason).
        ev = (
            load_table(spark, sf_dir, "events")
            .withColumn("day", F.to_date(F.col("ts")))
            .withColumn("hour", F.hour(F.col("ts")).cast("int"))
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(str(loc))
        marker.write_text(content)
    return str(loc)
