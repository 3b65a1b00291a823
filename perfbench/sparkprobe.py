"""Readers for Spark's own instrumentation, used from the client process.

* ``StreamRecorder`` is a StreamingQueryListener: query start times,
  per-trigger progress (phase durations, input rows, state size).
* ``StatusReader`` reads the status tracker and the application/SQL
  status stores (both are populated with the UI disabled): jobs and
  stages of a job group, and the SQL metrics of new executions
  (PythonSQLMetrics, file-write statistics).
* ``JvmMemory`` reads the driver JVM's memory beans after full GCs:
  the memory the program still holds after the workload.
"""

from __future__ import annotations

import datetime as dt
import gc
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# SQL plan metric name -> key in the per-call counters
SQL_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_returned_b",
    "number of written files": "files_written",
    "written output": "written_b",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SEP = "\u0001"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")


def iso_to_epoch(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,000', '346 ms', '90.4 KiB', or
    'total (min, med, max ...)\\n346 ms (41 ms, ...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    if text.startswith("("):  # '(min, med, max ...)' carries no total
        return 0.0
    head = text.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _TIME_UNITS:
        return float(parts[0]) * _TIME_UNITS[parts[1]]
    if len(parts) == 2 and parts[1] in _SIZE_UNITS:
        return float(parts[0]) * _SIZE_UNITS[parts[1]]
    return float(head) if head else 0.0


class StreamRecorder(StreamingQueryListener):
    """Collects listener events; callbacks arrive on a py4j thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[tuple[str, float]] = []  # (runId, start epoch s)
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append((str(event.runId), iso_to_epoch(event.timestamp)))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": iso_to_epoch(p.timestamp),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[list[tuple[str, float]], list[dict]]:
        """Return and clear everything recorded so far."""
        with self._lock:
            started, progress = self.started, self.progress
            self.started, self.progress = [], []
        return started, progress


class JvmMemory:
    def __init__(self, spark) -> None:
        self._jvm = spark.sparkContext._jvm
        self._bean = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def after_gc(self, settle_s: float = 1.0) -> dict[str, float]:
        """Collect Python garbage (it releases the JVM objects that dead
        DataFrames still pin through py4j), run a full GC, give Spark's
        ContextCleaner ``settle_s`` to drop the blocks and shuffles of
        what it collected, run another, then return the heap still in
        use, the non-heap in use (metaspace, generated code, compressed
        class space) and the first GC's seconds. Heap after a full GC is
        the live data; heap before it follows when the collector last
        ran."""
        gc.collect()
        a = time.perf_counter()
        self._jvm.java.lang.System.gc()
        gc_s = time.perf_counter() - a
        time.sleep(settle_s)
        self._jvm.java.lang.System.gc()
        return {
            "heap_live_b": self._bean.getHeapMemoryUsage().getUsed(),
            "nonheap_b": self._bean.getNonHeapMemoryUsage().getUsed(),
            "gc_s": gc_s,
        }


class StatusReader:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0

    def drain(self) -> None:
        """Block until every posted event reached the status stores and
        listeners, so what follows reads a complete call."""
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            stages = []
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED" or st.submissionTime().isEmpty():
                    continue
                stages.append(
                    {
                        "id": sid,
                        "start": st.submissionTime().get().getTime() / 1e3,
                        "end": st.completionTime().get().getTime() / 1e3,
                        "tasks": st.numTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "executor_run_s": st.executorRunTime() / 1e3,
                        "shuffle_write_b": st.shuffleWriteBytes(),
                        "shuffle_read_b": st.shuffleReadBytes(),
                        "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
            out.append(
                {
                    "id": jid,
                    "start": job.submissionTime().get().getTime() / 1e3,
                    "end": job.completionTime().get().getTime() / 1e3,
                    "stages": stages,
                }
            )
        return out

    def new_sql_metrics(self) -> dict[str, float]:
        """Sum the SQL_METRICS of every execution since the last call."""
        sums = dict.fromkeys(SQL_METRICS.values(), 0.0)
        misses = 0
        eid = self._next_exec
        # execution ids are dense; stop after a short run of absent ids
        while misses < 3:
            found = self._sql.execution(eid)
            if found.isEmpty():
                misses += 1
            else:
                misses = 0
                self._next_exec = eid + 1
                self._add_execution(eid, found.get(), sums)
            eid += 1
        return sums

    def _add_execution(self, eid: int, ui, sums: dict[str, float]) -> None:
        wanted = {}
        for item in ui.metrics().mkString(_SEP).split(_SEP):
            found = _PLAN_METRIC.match(item)
            if found and found[1] in SQL_METRICS:
                wanted[found[2]] = SQL_METRICS[found[1]]
        if not wanted:
            return
        for item in self._sql.executionMetrics(eid).mkString(_SEP).split(_SEP):
            acc, _, text = item.partition(" -> ")
            if acc in wanted:
                sums[wanted[acc]] += parse_metric(text)
