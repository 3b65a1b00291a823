"""Streaming semantics beyond the oracle: the replay source really
drips files, dropDuplicates really removes injected at-least-once
duplicates, and append-mode watermarking really holds back open
windows (the part complete-mode oracles can't see)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from google_cloud_ecommerce_spark import pins
from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.queries.reference import daily_events
from google_cloud_ecommerce_spark.streaming import jobs
from google_cloud_ecommerce_spark.streaming.replay import (
    land_chunks,
    read_replay_stream,
    write_replay_dir,
)

# (table, total order, key) of every replay the entries cut by rank
REPLAYS = [
    ("events", ("ts", "event_id"), "event_id"),
    ("documents", ("doc_id",), "doc_id"),
]


def test_replay_dir_partitions_all_rows(spark, sf_smoke):
    d = write_replay_dir(spark, sf_smoke, n_files=4)
    try:
        files = glob.glob(f"{d}/chunk-*.parquet")
        assert len(files) == 4
        n = spark.read.parquet(d).count()
        assert n == load_table(spark, sf_smoke, "events").count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_overlap_injects_duplicates(spark, sf_smoke):
    for table, order, key in REPLAYS:
        base = load_table(spark, sf_smoke, table).count()
        d = write_replay_dir(
            spark, sf_smoke, n_files=4, overlap_every=5, table=table, order=order
        )
        try:
            raw = spark.read.parquet(d)
            assert raw.count() > base  # duplicates present on the wire
            assert raw.select(key).distinct().count() == base
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_stream_equals_batch_daily_events(spark, sf_smoke):
    result = jobs.streaming_daily_events(spark, sf_smoke)
    # the memory-sink view is dropped on return; the frame stays valid
    assert not [t for t in spark.catalog.listTables() if t.name.startswith("stream_")]
    stream_rows = {(r.day, r.event_type): r.n_events for r in result.collect()}
    batch_rows = {
        (r.day, r.event_type): r.n_events
        for r in daily_events(spark, sf_smoke).collect()
    }
    assert stream_rows == batch_rows


def test_append_mode_watermark_holds_back_open_windows(spark, sf_smoke):
    """With append output + watermark, windows newer than
    (max_ts - delay) stay in state and are never emitted by the final
    availableNow batch — the late-data contract."""
    d = write_replay_dir(spark, sf_smoke, n_files=4)
    name = f"append_{uuid.uuid4().hex[:8]}"
    try:
        stream = read_replay_stream(spark, d, max_files_per_trigger=1)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.table(name)
        events = load_table(spark, sf_smoke, "events")
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        emitted_max = emitted.agg(F.max("ws")).collect()[0][0]
        batch_max = (
            events.groupBy(F.date_trunc("hour", "ts").alias("ws"))
            .count()
            .agg(F.max("ws"))
            .collect()[0][0]
        )
        # the newest (still-open) window must be withheld
        assert emitted_max < batch_max
        # everything emitted is a closed window w.r.t. the final watermark
        assert emitted.count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dedup_counts_match_distinct(spark, sf_smoke):
    rows = {
        r.event_type: r.n_events
        for r in jobs.streaming_dedup_counts(spark, sf_smoke).collect()
    }
    batch = {
        r.event_type: r["count"]
        for r in load_table(spark, sf_smoke, "events").groupBy("event_type").count().collect()
    }
    assert rows == batch


def test_session_state_conserves_events(spark, sf_smoke):
    """Custom applyInPandasWithState sessionizer: every real event lands
    in exactly one emitted session (the flush sentinel closes them all)."""
    sessions = jobs.streaming_session_state(spark, sf_smoke)
    total = sessions.agg(F.sum("n_events")).collect()[0][0]
    n_events = load_table(spark, sf_smoke, "events").count()
    assert total == n_events
    assert sessions.filter(F.col("span_seconds") < 0).count() == 0


def test_rate_stream_feeds_event_shaped_jobs(spark):
    from google_cloud_ecommerce_spark.streaming.replay import read_rate_stream

    stream = read_rate_stream(spark, rows_per_second=500)
    agg = stream.groupBy("event_type").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_soak")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.table("rate_soak").collect()
            if sum(r["count"] for r in rows) >= 100 and len(rows) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert rows and sum(r["count"] for r in rows) >= 100
    assert {r.event_type for r in rows} <= {"view", "cart", "purchase", "click", "scroll"}


def test_gap_replay_slices_by_event_time(spark, tmp_path):
    """Chunks cover equal spans of the accelerated TIMELINE, so a bursty
    corpus produces unequal batch sizes (the gap structure), unlike the
    row-sliced write_replay_dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    from google_cloud_ecommerce_spark.streaming.replay import write_gap_replay_dir

    # 90 events in minute 0, 10 events spread over minutes 1..39
    ts = [datetime(2024, 1, 1, 0, 0, i % 60) for i in range(90)] + [
        datetime(2024, 1, 1, 0, 1 + 4 * i, 0) for i in range(10)
    ]
    n = len(ts)
    pq.write_table(
        pa.table(
            {
                "event_id": list(range(n)),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "user_id": [i % 7 for i in range(n)],
                "event_type": ["view"] * n,
                "value": [float(i) for i in range(n)],
                "props": [None] * n,
            }
        ),
        tmp_path / "events.parquet",
    )
    d = write_gap_replay_dir(spark, str(tmp_path), n_slices=4)
    try:
        sizes = [
            spark.read.parquet(f).count()
            for f in sorted(glob.glob(f"{d}/chunk-*.parquet"))
        ]
        assert sum(sizes) == n  # nothing lost, nothing duplicated
        assert max(sizes) >= 90  # the burst lands in one slice
        assert min(sizes) < 10  # quiet spans produce small batches
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_gap_replay_stream_equals_batch(spark, sf_smoke):
    from google_cloud_ecommerce_spark.streaming import jobs

    rows = {
        (r.day, r.n_events, r.max_user, r.sum_value)
        for r in jobs.streaming_gap_replay(spark, sf_smoke).collect()
    }
    batch = {
        (r.day, r.n_events, r.max_user, r.sum_value)
        for r in load_table(spark, sf_smoke, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.max("user_id").alias("max_user"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert rows == batch


def _write_tiny_events(spark, tmp_path, n):
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": list(range(n)),
                "ts": pa.array(
                    [datetime(2024, 1, 1, 0, 0, i) for i in range(n)],
                    type=pa.timestamp("us"),
                ),
                "user_id": [i % 3 for i in range(n)],
                "event_type": ["view"] * n,
                "value": [float(i) for i in range(n)],
                "props": [None] * n,
            }
        ),
        tmp_path / "events.parquet",
    )
    return str(tmp_path)


def test_replay_dir_clamps_chunks_to_tiny_inputs(spark, tmp_path):
    """ADVICE r6: n_events < n_files used to raise (empty file_id
    partitions); now n_files clamps to the row count and every row
    still replays exactly once."""
    from google_cloud_ecommerce_spark.streaming.replay import write_replay_dir

    sf = _write_tiny_events(spark, tmp_path, 3)
    d = write_replay_dir(spark, sf, n_files=8)
    try:
        chunks = sorted(glob.glob(f"{d}/chunk-*.parquet"))
        assert len(chunks) == 3
        assert sum(spark.read.parquet(f).count() for f in chunks) == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_replay_dirs_raise_clearly_on_empty_events(spark, tmp_path):
    """ADVICE r6: an empty events table used to surface as int(None)
    TypeError (gap replay) or an opaque chunk-count RuntimeError."""
    import pytest

    from google_cloud_ecommerce_spark.streaming.replay import (
        write_gap_replay_dir,
        write_replay_dir,
    )

    sf = _write_tiny_events(spark, tmp_path, 0)
    with pytest.raises(ValueError, match="empty"):
        write_replay_dir(spark, sf, n_files=4)
    with pytest.raises(ValueError, match="empty"):
        write_gap_replay_dir(spark, sf, n_slices=4)


def _chunks(d):
    return sorted(glob.glob(f"{d}/chunk-*.parquet"))


def _chunk_ids(d, key):
    import pyarrow.parquet as pq

    return [
        sorted(pq.read_table(f, columns=[key]).column(0).to_pylist())
        for f in _chunks(d)
    ]


def test_replay_chunks_match_window_reference(spark, sf_smoke):
    """Row for row, every chunk holds what the window form deals it:
    rn = row_number() OVER (ORDER BY <order>) - 1, file_id =
    rn * n_files / n, plus the overlap duplicates moved one chunk on.
    The file source replays in mtime order, so the chunk mtimes rise
    in chunk order, and a chunk landed later (a flush sentinel) is
    numbered and timed after all of them."""
    from pyspark.sql import Window

    n_files = 4
    for table, order, key in REPLAYS:
        rows_in = load_table(spark, sf_smoke, table)
        n = rows_in.count()
        numbered = rows_in.select(
            key,
            (F.row_number().over(Window.orderBy(*order)) - 1).alias("rn"),
        ).withColumn("file_id", (F.col("rn") * n_files / F.lit(n)).cast("int"))
        rows = numbered.collect()
        for overlap_every in (0, 5):
            want = [[] for _ in range(n_files)]
            for r in rows:
                want[r.file_id].append(r[key])
                if overlap_every and r.rn % overlap_every == 0 and r.file_id < n_files - 1:
                    want[r.file_id + 1].append(r[key])
            d = write_replay_dir(
                spark, sf_smoke, n_files, overlap_every, table=table, order=order
            )
            try:
                assert _chunk_ids(d, key) == [sorted(w) for w in want]
                sentinel = rows_in.limit(1).withColumn("file_id", F.lit(0))
                assert land_chunks(sentinel, d, 1) == 1
                chunks = _chunks(d)
                assert [os.path.basename(f) for f in chunks] == [
                    f"chunk-{i:04d}.parquet" for i in range(n_files + 1)
                ]
                mtimes = [os.path.getmtime(f) for f in chunks]
                assert mtimes == sorted(set(mtimes))
            finally:
                shutil.rmtree(d, ignore_errors=True)


def test_replay_dir_runs_at_most_six_jobs(spark, sf_smoke):
    """Range sample and shuffle (2 jobs), collected partition offsets
    (2, which also write the lazily pinned blocks) and the one
    partitioned write (2): no separate count, no offsets join, no eager
    pin pass — for every table a replay is cut from."""
    sc = spark.sparkContext
    for table, order, _key in REPLAYS:
        load_table(spark, sf_smoke, table)  # any first-touch mirror work
        group = f"replay_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "write_replay_dir job count")
        try:
            d = write_replay_dir(
                spark, sf_smoke, n_files=4, overlap_every=5, table=table, order=order
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(d, ignore_errors=True)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6, table


def test_pin_result_leaves_no_result_dir(spark, sf_smoke):
    import os
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_stream_result_*")
    before = set(glob.glob(pattern))
    src = load_table(spark, sf_smoke, "events").groupBy("event_type").count()
    pinned = pins.pin_result(src)
    assert set(glob.glob(pattern)) == before
    assert sorted(pinned.collect()) == sorted(src.collect())


@pytest.mark.parametrize(
    "name",
    [
        "streaming_daily_events",
        "streaming_lakehouse_ingest",
        "streaming_incremental_mv",
        "streaming_two_level_window",
        "streaming_corpus_prep",
    ],
)
def test_entry_removes_its_scratch_dirs_and_result_outlives_them(spark, sf_smoke, name):
    """The replay, checkpoint, state and sink dirs an entry makes are
    gone when it returns, and its result reads none of them."""
    root = tempfile.gettempdir()

    def dirs():
        return {e for e in os.listdir(root) if os.path.isdir(os.path.join(root, e))}

    # dirs that live as long as the JVM or the table (the artifact root
    # made by the first stream, table mirrors) are not the call's
    for table in ("events", "documents"):
        load_table(spark, sf_smoke, table)
    jobs.streaming_daily_events(spark, sf_smoke)
    before = dirs()
    result = getattr(jobs, name)(spark, sf_smoke)
    assert dirs() - before == set()
    assert result.collect()


def test_corpus_prep_keeps_offset_doc_ids(spark, sf_smoke, tmp_path):
    """Replay chunks are cut by doc_id rank, not by id range: documents
    whose ids do not start at 0 all reach the stream, so the result
    still matches the batch prep SQL."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from google_cloud_ecommerce_spark.operators.pipeline import (
        PRETRAINING_CORPUS_PREP_SQL,
    )
    from tests.oracle_parity import compare, duckdb_connect

    docs = pq.read_table(os.path.join(sf_smoke, "documents.parquet"))
    i = docs.schema.get_field_index("doc_id")
    docs = docs.set_column(i, "doc_id", pc.add(docs.column(i), 10**6))
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb_connect(str(tmp_path))
    try:
        result = jobs.streaming_corpus_prep(spark, str(tmp_path))
        problems = compare(result, con, PRETRAINING_CORPUS_PREP_SQL)
    finally:
        con.close()
    assert not problems, problems


def test_jdbc_sink_drops_its_database_when_the_stream_fails(spark, sf_smoke, monkeypatch):
    """A failed stream is stopped and still drops its in-memory Derby
    database, which would otherwise live as long as the JVM."""
    from google_cloud_ecommerce_spark import io
    from google_cloud_ecommerce_spark.queries import scale

    dropped = []
    monkeypatch.setattr(scale, "_derby_drop", lambda _spark, db: dropped.append(db))

    def failing_write(*args, **kwargs):
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(io, "write_jdbc", failing_write)
    with pytest.raises(Exception, match="sink unavailable"):
        jobs.streaming_jdbc_sink(spark, sf_smoke)
    assert len(dropped) == 1
    assert not spark.streams.active
