"""File-source replays of the events and documents tables — the
Structured Streaming stand-in for the reference's two Pub/Sub producers
(``streaming_pipeline/send_session_stream.py:141-148`` chunked replay,
``simulate_session_stream.py:80-107`` real-gap replay).

Every chunk file — a rank-cut replay, an event-time replay, a document
replay, a flush sentinel a job appends — lands through
``land_chunks``: one partitioned write, one move per chunk id, and
explicit mtimes in commit order (the order the file source replays).

The producers' pacing knobs map to source options, not code:
``maxFilesPerTrigger`` ≈ speedFactor, trigger interval ≈ the 5 s sleep.
``overlap_every`` injects duplicate deliveries across chunk boundaries,
modeling the reference's at-least-once publish (SURVEY.md §2.9 T3:
"per-message publish, no dedup") so the exactly-once upgrade
(dropDuplicates on the stream) has something real to remove.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.operators.ranking import _ranked

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)
DOCUMENTS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def land_chunks(frame: DataFrame, out: str, n: int) -> int:
    """Land ``frame`` as flat ``chunk-NNNN.parquet`` files in ``out``, one
    per ``file_id`` in 0..n-1 in id order, numbered after any chunks
    already there; return how many landed (an id with no rows lands
    nothing). Every replay, document replay and flush sentinel lands
    here.

    One partitioned write, hash-clustered on file_id so each
    ``file_id=i/`` dir holds exactly one part file, then one move per
    id to a flat file in the dir the stream reads (its schema has no
    file_id partition column). FileStreamSource paces batches in
    (mtime, path) order and one write gives every part the same mtime,
    so the commit order is explicit: chunk k gets mtime base + k, where
    base is chunk 0's mtime, or now - n - 1 in an empty dir — backdated
    so the chunks a later call appends (a flush sentinel) still sort
    last and no mtime lies in the future."""
    stage = os.path.join(out, "_stage")
    (
        frame.repartition(n, "file_id")
        .write.partitionBy("file_id")
        .mode("overwrite")
        .parquet(stage)
    )
    first = seq = len(glob.glob(os.path.join(out, "chunk-*.parquet")))
    base = (
        os.path.getmtime(os.path.join(out, "chunk-0000.parquet"))
        if seq
        else time.time() - n - 1
    )
    for i in range(n):
        parts = glob.glob(os.path.join(stage, f"file_id={i}", "part-*.parquet"))
        if not parts:  # no rows for this id (a quiet span, a tiny corpus)
            continue
        if len(parts) != 1:
            raise RuntimeError(f"chunk {i}: expected 1 part file, got {len(parts)}")
        dst = os.path.join(out, f"chunk-{seq:04d}.parquet")
        shutil.move(parts[0], dst)
        os.utime(dst, (base + seq, base + seq))
        seq += 1
    shutil.rmtree(stage)
    return seq - first


def write_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 8,
    overlap_every: int = 0,
    *,
    out: str | None = None,
    table: str = "events",
    order: tuple[str, ...] = ("ts", "event_id"),
) -> str:
    """Split ``table`` in ``order`` (a total order) into n_files parquet
    chunks in ``out`` (a new temp dir by default) and return the dir.
    With ``overlap_every=k``, every k-th row is also delivered in the
    next chunk (duplicate delivery).

    Scale shape (VERDICT r5 "what's wrong" #2): the global order comes
    from the window-free ``_ranked`` (range shuffle, one ``pins.pin``,
    per-partition counts collected as offsets), never
    ``row_number() OVER ()`` on an unpartitioned window; all chunks
    land in ONE partitioned write (``land_chunks``) instead of an
    n_files-iteration driver loop that re-plans the sort per chunk. The
    rank also yields the row count, and every numbering is a
    deterministic projection of the one pinned frame, so the chunk and
    overlap-duplicate branches of the union read the same blocks: 6
    Spark jobs in all (range sample and shuffle 2, offsets 2, which
    also write the pinned blocks, write 2). ``file_id =
    rn * n_files / n`` gives every chunk an exact row share — never a
    sampled range partition per chunk, whose sizes would change from
    call to call — and chunks by rank, not by key value, so sparse or
    offset keys lose no row."""
    out = out or tempfile.mkdtemp(prefix="spark_graft_replay_")
    ranked, n = _ranked(load_table(spark, sf_dir, table), list(order), n_files)
    if n == 0:
        raise ValueError(f"{table} table under {sf_dir!r} is empty: nothing to replay")
    # tiny inputs: never demand more chunks than rows (an empty file_id
    # partition is not a pacing signal, it's a missing part file)
    n_files = min(n_files, n)
    numbered = ranked.withColumnRenamed("__r", "rn").withColumn(
        "file_id", (F.col("rn") * n_files / F.lit(n)).cast("int")
    )
    chunks = numbered
    if overlap_every:
        dup = numbered.filter(
            (F.col("rn") % overlap_every == 0) & (F.col("file_id") < n_files - 1)
        ).withColumn("file_id", F.col("file_id") + 1)
        chunks = chunks.unionByName(dup)
    landed = land_chunks(chunks.drop("rn"), out, n_files)
    if landed != n_files:  # every chunk must exist exactly once
        raise RuntimeError(f"expected {n_files} chunks, landed {landed}")
    return out


def write_gap_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 12,
    *,
    out: str | None = None,
) -> str:
    """Event-TIME-sliced replay chunks — the deterministic stand-in for
    the reference's real-gap producer
    (``streaming_pipeline/simulate_session_stream.py:86-95`` sleeps the
    real inter-event delta / speedFactor between publishes). Each chunk
    covers an equal span of the ACCELERATED timeline, so when the files
    drip one per trigger the batch SIZES carry the corpus's burst/gap
    structure — dense spans arrive as big batches, quiet spans as small
    or absent ones — without any wall-clock sleeping (speedFactor is
    total span / (n_slices x trigger interval)). Contrast
    ``write_replay_dir``, whose row-sliced chunks model the
    constant-rate ``send_session_stream.py`` producer.

    No rank, no checkpoint: the slice id is a pure function of ts, so
    one evaluation per row suffices and re-evaluation is stable."""
    out = out or tempfile.mkdtemp(prefix="spark_graft_gap_replay_")
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    if lo is None or hi is None:  # min/max of zero rows — int(None) below
        raise ValueError(f"events table under {sf_dir!r} is empty: nothing to replay")
    width = max(1, (int(hi) - int(lo)) // n_slices + 1)
    sliced = events.withColumn(
        "file_id",
        F.least(
            ((F.unix_micros("ts") - F.lit(int(lo))) / F.lit(width)).cast("int"),
            F.lit(n_slices - 1),
        ),
    )
    # a genuinely quiet span of the timeline lands no chunk: no batch
    land_chunks(sliced, out, n_slices)
    return out


def read_replay_stream(
    spark: SparkSession,
    replay_dir: str,
    max_files_per_trigger: int = 1,
    ddl: str = EVENTS_DDL,
) -> DataFrame:
    """The streaming scan: schema declared (no inference on a stream),
    files drip in commit order like paced publishes."""
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )


def read_rate_stream(
    spark: SparkSession, rows_per_second: int = 100, num_partitions: int = 4
) -> DataFrame:
    """Built-in synthetic load generator (``rate`` source) shaped like
    the events stream — the standard way to soak-test a streaming job's
    throughput without a broker. Columns are derived deterministically
    from the rate source's (timestamp, value) so any job written
    against the events schema runs unmodified."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
    )
    types = ["view", "cart", "purchase", "click", "scroll"]
    type_case = "CASE CAST(value % 5 AS INT) " + " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(types)
    ) + " END"
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 1000).alias("user_id"),
        F.expr(type_case).alias("event_type"),
        (F.col("value") % 500).cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
