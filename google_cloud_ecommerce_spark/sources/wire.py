"""Wire-format message source/sink as a pluggable PySpark 4 Python
Data Source (``spark.dataSource.register``).

The reference's transport is one comma-joined UTF-8 byte string per
event, published to / consumed from Pub/Sub
(`/root/reference/streaming_pipeline/send_session_stream.py:30-33,52-56`,
`write_session_stream.py:51-59`). Here that wire format becomes a real
Spark source with the three faces a message system needs:

  batch reader    one InputPartition per message file; parses the
                  positional CSV line back into typed rows. Supports
                  source-level EqualTo(event_type) filter pushdown —
                  pruned at parse time, before rows reach the JVM.
  stream reader   SimpleDataSourceStreamReader whose offset is the
                  count of consumed files — the Pub/Sub subscription
                  stand-in, with replayable readBetweenOffsets for
                  exactly-once micro-batch recovery.
  batch writer    per-partition message files (the publish sink,
                  SURVEY §2.2 #9) with WriterCommitMessage plumbing.

Format: ``event_id,ts,user_id,event_type,value,props`` with ts as
``yyyy-MM-dd HH:mm:ss.ffffff``; props is LAST and parsed with
``split(',', 5)`` so its embedded commas survive (the reference's
whitespace re-join corrupts such fields — SURVEY §3.2). ``ts`` is
TIMESTAMP_NTZ end to end: naive wall-clock text parses to a naive
datetime, so no session/process timezone can shift values.

Scale posture: a Python source is the integration/edge path, not the
bulk-scan path — per-file partitions parallelize across executors and
rows cross to the JVM via Arrow batches, but a 100 TB corpus belongs in
parquet (catalog.py). This is the adapter for the message-shaped edge
of the pipeline, exactly where the reference used Pub/Sub.
"""

from __future__ import annotations

import datetime as dt
import errno
import glob
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.pins import pin_result

WIRE_FORMAT = "csvwire"
WIRE_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)
_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
N_FIELDS = 6


def _parse_line(line: str):
    # '' is the wire encoding of NULL for EVERY column (the writer side
    # — write_wire_dir and WireBatchWriter — emits '' for None in every
    # position, so a null can never shift later fields)
    parts = line.split(",", N_FIELDS - 1)
    event_id, ts, user_id, event_type, value, props = parts
    return (
        int(event_id) if event_id else None,
        dt.datetime.strptime(ts, _TS_FMT) if ts else None,
        int(user_id) if user_id else None,
        event_type if event_type else None,
        float(value) if value else None,
        props if props != "" else None,
    )


def _wire_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".wire")
    )


class WireBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        # committed_only: read ONLY files listed in _commit-<batchId>
        # manifests (the streaming writer's exactly-once discipline) —
        # orphan files from failed/retried epochs are invisible.
        self.committed_only = options.get("committed_only", "false") == "true"
        self.event_type_eq: str | None = None

    def pushFilters(self, filters):
        # Source-level pushdown: an equality on event_type is applied at
        # parse time; everything else is returned for Spark to evaluate.
        # Eager (not a generator) so the side effect happens even if the
        # engine never drains the returned iterable.
        unsupported = []
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and tuple(f.attribute) == ("event_type",)
                and self.event_type_eq is None
                and isinstance(f.value, str)
            ):
                self.event_type_eq = f.value
            else:
                unsupported.append(f)
        return unsupported

    def partitions(self):
        if self.committed_only:
            files: list[str] = []
            for m in sorted(
                f for f in os.listdir(self.path) if f.startswith("_commit-")
            ):
                with open(os.path.join(self.path, m), encoding="utf-8") as fh:
                    files.extend(line.strip() for line in fh if line.strip())
            return [InputPartition(f) for f in sorted(files)]
        return [InputPartition(f) for f in _wire_files(self.path)]

    def read(self, partition: InputPartition):
        want = self.event_type_eq
        with open(partition.value, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                row = _parse_line(line)
                if want is None or row[3] == want:
                    yield row


class WireStreamReader(SimpleDataSourceStreamReader):
    """Offset = number of files consumed, in sorted-name order (files
    are the micro-batch unit, like the replay dir's paced chunks)."""

    def __init__(self, options):
        self.path = options["path"]

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def read(self, start: dict):
        files = _wire_files(self.path)
        rows = self._rows(files[start["n_files"] :])
        return rows, {"n_files": len(files)}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _wire_files(self.path)
        return self._rows(files[start["n_files"] : end["n_files"]])

    def _rows(self, files):
        # Materialized list, not a generator: the engine's prefetch cache
        # copy.copy()s these row iterables between offset commits.
        rows = []
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    if line:
                        rows.append(_parse_line(line))
        return rows

    def commit(self, end: dict) -> None:
        pass


@dataclass
class WireCommit(WriterCommitMessage):
    file: str
    n_messages: int


def _write_wire_file(path: str, iterator) -> WireCommit:
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, f"part-{uuid.uuid4().hex}.wire")
    n = 0
    with open(out, "w", encoding="utf-8") as fh:
        for row in iterator:
            fields = []
            for v in row:
                if v is None:
                    fields.append("")
                elif isinstance(v, dt.datetime):
                    fields.append(v.strftime(_TS_FMT))
                elif isinstance(v, float):
                    fields.append(repr(v))
                else:
                    fields.append(str(v))
            fh.write(",".join(fields) + "\n")
            n += 1
    return WireCommit(out, n)


class WireBatchWriter(DataSourceWriter):
    """The publish sink: one message file per task (micro-batch epoch ≈
    one publish burst, replacing the reference's RPC per event)."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator) -> WireCommit:
        return _write_wire_file(self.path, iterator)

    def commit(self, messages) -> None:
        pass

    def abort(self, messages) -> None:  # pragma: no cover - error path
        for m in messages:
            if m is not None and os.path.exists(m.file):
                os.remove(m.file)


# link() errnos that mean "hard links unsupported here" (NFS/FUSE/
# overlay) — anything else is a real failure and must propagate.
_LINK_UNSUPPORTED_ERRNOS = {
    errno.EPERM, errno.EOPNOTSUPP, errno.ENOTSUP, errno.EXDEV, errno.ENOSYS
}

# How long an idempotent re-committer waits for a concurrent winner's
# manifest content to stabilize on the O_CREAT|O_EXCL fallback path
# (the only path where the manifest is visible before its content
# lands). Overridable per-writer via the ``manifest_poll_deadline_s``
# option: on slow NFS/FUSE, or across a GC pause, the winner's copy can
# legitimately stall past any fixed default (ADVICE r9).
MANIFEST_POLL_DEADLINE_S = 2.0


class WireStreamWriter(DataSourceStreamWriter):
    """The STREAMING publish sink — the fourth quadrant of the Python
    Data Source API (batch/stream x read/write). Tasks write message
    files; ``commit(messages, batchId)`` publishes the epoch by writing
    an atomic ``_commit-<batchId>`` manifest listing exactly the files
    that belong to it. A failed/retried epoch leaves orphan files that
    no manifest references, so a ``committed_only`` read sees each
    message exactly once — the file-based analogue of a transactional
    producer."""

    def __init__(self, options):
        self.path = options["path"]
        self._poll_deadline_s = float(
            options.get("manifest_poll_deadline_s", MANIFEST_POLL_DEADLINE_S)
        )

    def write(self, iterator) -> WireCommit:
        return _write_wire_file(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        manifest = os.path.join(self.path, f"_commit-{batchId}")
        tmp = f"{manifest}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for m in messages:
                if m is not None:
                    fh.write(m.file + "\n")
        # A second query (or a restart with a fresh checkpoint) reusing
        # this batchId would silently clobber the earlier manifest and
        # drop its files from committed_only reads — fail loudly instead;
        # a restart resuming the SAME checkpoint re-delivers the same
        # files, so an identical manifest is idempotent and fine.
        # link() is create-if-absent at the filesystem level, so two
        # concurrent committers can't interleave a read-check-replace;
        # only when the manifest already exists do we fall back to the
        # equality check (idempotent re-commit) before giving up.
        try:
            os.link(tmp, manifest)
        except FileExistsError:
            self._check_idempotent_recommit(tmp, manifest, self._poll_deadline_s)
        except OSError as exc:
            if exc.errno not in _LINK_UNSUPPORTED_ERRNOS:
                os.remove(tmp)  # a real failure (EACCES, EMLINK, ...)
                raise           # must surface, not reroute protocols
            # hard links are unsupported on some filesystems (NFS/FUSE/
            # overlay raise EPERM/EOPNOTSUPP/EXDEV — ADVICE r7):
            # O_CREAT|O_EXCL gives the SAME create-if-absent guarantee
            # without link(), and the loser falls through to the
            # idempotence check against the winner's content (an
            # exists()+replace fallback would let the loser silently
            # clobber a DIFFERENT manifest). Unlike link(), though, the
            # manifest becomes visible BEFORE its content lands — the
            # loser's check tolerates that window by polling until the
            # content is stable (ADVICE r8).
            try:
                fd = os.open(manifest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                self._check_idempotent_recommit(
                    tmp, manifest, self._poll_deadline_s
                )
            else:
                try:
                    with os.fdopen(fd, "w", encoding="utf-8") as out:
                        with open(tmp, encoding="utf-8") as src:
                            out.write(src.read())
                except Exception:
                    os.unlink(manifest)  # no partial manifest on a failed copy
                    os.remove(tmp)  # and no orphaned .tmp (ADVICE r8)
                    raise
        os.remove(tmp)

    @staticmethod
    def _check_idempotent_recommit(
        tmp: str, manifest: str, deadline_s: float = MANIFEST_POLL_DEADLINE_S
    ) -> None:
        with open(tmp, encoding="utf-8") as fh:
            mine = fh.read()
        # The O_CREAT|O_EXCL fallback publishes the manifest before its
        # content lands (os.link has no such window), so a loser racing
        # an identical re-committer can read an empty/partial manifest
        # here. Poll until two consecutive reads agree nonempty before
        # declaring a mismatch; an equal read returns immediately
        # (ADVICE r8). A vanished manifest means the winner's copy
        # failed and it unlinked — its own exception surfaces the
        # failure; this committer reports the torn race.
        prior: str | None = None
        stable = False
        deadline = time.monotonic() + deadline_s
        while True:
            try:
                with open(manifest, encoding="utf-8") as fh:
                    cur = fh.read()
            except FileNotFoundError:
                cur = None
            if cur == mine:
                return  # idempotent re-commit of the same epoch
            stable = cur is not None and cur == prior
            # Stable NON-prefix content is a definite divergent commit
            # — no need to wait out the deadline. Stable PREFIX content
            # could still be a stalled winner's split write of
            # identical content, so keep polling until the deadline.
            if stable and cur and not mine.startswith(cur):
                break
            if time.monotonic() >= deadline:
                break
            prior = cur
            time.sleep(0.05)
        os.remove(tmp)
        if cur is None:
            raise RuntimeError(
                f"epoch manifest {manifest} vanished mid-commit: a "
                "concurrent committer created it and failed before its "
                "content landed; retry the epoch"
            )
        # Past the deadline, STABLE nonempty content that differs from
        # ours is a committed divergent manifest even when it is a
        # prefix of ours (the winner legitimately listed fewer files
        # for the epoch): report the clobber — a retry can never
        # succeed, so the 'still partial ... retry' diagnosis would be
        # a lie (ADVICE r9). 'Still partial' is reserved for content
        # that changed between the last two reads or stayed empty — a
        # copy genuinely in flight.
        if stable and cur:
            raise RuntimeError(
                f"epoch manifest {manifest} already committed with "
                "different files; refusing to clobber (two writers on "
                "one path, or a restart with a fresh checkpoint)"
            )
        raise RuntimeError(
            f"epoch manifest {manifest} still partial after wait "
            "(a concurrent committer's copy stalled); retry the epoch"
        )

    def abort(self, messages, batchId: int) -> None:  # pragma: no cover
        for m in messages:
            if m is not None and os.path.exists(m.file):
                os.remove(m.file)


class WireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return WIRE_FORMAT

    def schema(self) -> str:
        return WIRE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return WireBatchReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> WireStreamReader:
        return WireStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return WireBatchWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> WireStreamWriter:
        return WireStreamWriter(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(WireDataSource)


def write_wire_dir(
    spark: SparkSession, sf_dir: str, n_files: int = 4, out: str | None = None
) -> str:
    """Serialize events to wire message files with JVM-side expressions
    (concat_ws — the codegen'd form of SURVEY §2.3 #19)."""
    out = out or tempfile.mkdtemp(prefix="spark_graft_wire_")
    events = load_table(spark, sf_dir, "events")
    # every field NULL-coalesced BEFORE concat_ws: concat_ws silently
    # drops null args, which would shift all later positions and leave a
    # short line the parser can't decode
    lines = events.select(
        F.concat_ws(
            ",",
            F.coalesce(F.col("event_id").cast("string"), F.lit("")),
            F.coalesce(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"), F.lit("")),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
            F.coalesce(F.col("event_type"), F.lit("")),
            F.coalesce(F.col("value").cast("string"), F.lit("")),
            F.coalesce(F.col("props"), F.lit("")),
        ).alias("value")
    )
    tmp = os.path.join(out, "_stage")
    lines.repartition(n_files).write.mode("overwrite").text(tmp)
    for i, part in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*")))):
        if not part.endswith(".crc"):
            shutil.move(part, os.path.join(out, f"messages-{i:04d}.wire"))
    shutil.rmtree(tmp)
    return out


# ---------------------------------------------------------------------------
# queries() entries — the wire source driven end to end. Both serialize
# events to message files, run the query through the pluggable source,
# and materialize before the message dir is deleted (the source exists
# to be consumed; the result is what outlives it).
# ---------------------------------------------------------------------------


def _safe_register(spark: SparkSession) -> None:
    # pushFilters is rejected outright unless the (runtime-settable)
    # python filter-pushdown flag is on. Re-registration is safe: the
    # DataSourceManager replaces the prior entry (with a warning), so a
    # genuine registration failure propagates instead of being
    # swallowed and resurfacing later as DATA_SOURCE_NOT_FOUND.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)


def wire_format_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face: equality filter pushed INTO the Python reader (rows
    pruned at parse time), then a typed aggregate per day. The result is
    pinned executor-side (``pins.pin_result``, never a driver collect)
    before the temp wire dir is deleted, as the streaming entries do."""
    _safe_register(spark)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as wire_dir:
        write_wire_dir(spark, sf_dir, n_files=4, out=wire_dir)
        df = spark.read.format(WIRE_FORMAT).load(wire_dir)
        res = (
            df.filter(F.col("event_type") == "purchase")
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("sum_value"),
            )
        )
        return pin_result(res)


def wire_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face: the same message files consumed as micro-batches
    through the SimpleDataSourceStreamReader offsets."""
    from google_cloud_ecommerce_spark.streaming.jobs import _run_to_memory

    _safe_register(spark)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as wire_dir:
        write_wire_dir(spark, sf_dir, n_files=4, out=wire_dir)
        stream = spark.readStream.format(WIRE_FORMAT).load(wire_dir)
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        return _run_to_memory(agg, "complete")


QUERIES = {
    "wire_format_source": wire_format_source,
    "wire_stream_counts": wire_stream_counts,
}

ORACLE = {
    "wire_format_source": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    """,
    "wire_stream_counts": """
        SELECT event_type, count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1
    """,
}


def wire_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish sink face: a replayed event stream PUBLISHES through the
    Python Data Source streaming writer (per-epoch manifest commit),
    and the verification read consumes committed_only — so a message
    only counts if its epoch's manifest landed. The batch oracle over
    the source events must match exactly."""
    from google_cloud_ecommerce_spark.streaming.jobs import _drain
    from google_cloud_ecommerce_spark.streaming.replay import (
        read_replay_stream,
        write_replay_dir,
    )

    _safe_register(spark)
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as tmp:
        out = os.path.join(tmp, "messages")
        stream = read_replay_stream(
            spark, write_replay_dir(spark, sf_dir, out=os.path.join(tmp, "replay"))
        ).select("event_id", "ts", "user_id", "event_type", "value", "props")
        _drain(stream.writeStream.format(WIRE_FORMAT).option("path", out))
        back = (
            spark.read.format(WIRE_FORMAT)
            .option("committed_only", "true")
            .load(out)
        )
        final = back.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        return pin_result(final)


QUERIES["wire_stream_sink"] = wire_stream_sink
ORACLE["wire_stream_sink"] = """
    SELECT event_type, count(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
"""
