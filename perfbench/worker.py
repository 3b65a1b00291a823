"""Benchmark client: one process, one Spark session, a closed loop over
one workload's registry entries. Started by run.py, which owns the
environment, the clock around set-up and the memory sampling.

Phases, in order:
  set-up   get_spark, then the first load_table of every table the
           workload reads (catalog mirrors are written here); prints
           "@@setup_done" so the parent can stop the set-up clock.
  warm-up  every entry once, in seeded order, compared with its DuckDB
           oracle (for batch workloads this is the run's correctness
           check). A process's first call of an entry is slower than
           later ones, so none of this is timed.
  window   round(--seconds / cycle_s) complete cycles of the entries,
           each cycle in a seeded order; cycle_s is the workload's
           measured cycle time, so the window lasts about --seconds of
           call time (checks between calls are off the clock). A call is
           build (the registry function) plus execution (noop sink).
           Streaming results are checked after each call, off the clock.
           With --trace 1 every entry is called twice in a row, once
           traced and once not, the order alternating from pair to
           pair, so the tracing overhead is measured in the same
           process on the same calls; a traced run times at least two
           cycles.
  after    Python garbage collection and two full GCs, then the JVM's
           memory beans are read: the memory the program still holds
           after the workload. (A full GC between timed calls would slow
           the next calls by about half.)

Writes every call record and the environment as JSON to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

# stop starting cycles once the process has run this long: a run must
# end within 180 s
WALL_CAP_S = 140.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    born = time.perf_counter()
    wl = WORKLOADS[args.workload]

    from google_cloud_ecommerce_spark.catalog import load_table
    from google_cloud_ecommerce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    for table in wl.tables:
        load_table(spark, args.data, table)
    t2 = time.perf_counter()
    cache = os.environ["SPARK_GRAFT_TABLE_CACHE"]
    mirrors = len(os.listdir(cache)) if os.path.isdir(cache) else 0
    print("@@setup_done", flush=True)

    client = Client(spark, args, wl)
    phases, memory = {}, {}
    try:
        t3 = time.perf_counter()
        client.warm_up()
        t4 = time.perf_counter()
        client.window(born)
        phases = {"warm_up_s": t4 - t3, "window_s": time.perf_counter() - t4}
        memory = client.memory.after_gc()
    finally:
        result = {
            "setup": {
                "session_start_s": t1 - t0,
                "first_touch_s": t2 - t1,
                "mirrors_written": mirrors,
            },
            "env": {
                "spark": spark.version,
                "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
                "python": sys.version.split()[0],
                "master": spark.sparkContext.master,
                "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
            },
            "phases": phases,
            "memory": memory,
            "checks": client.checks,
            "first_calls": client.first_calls,
            "calls": client.calls,
        }
        with open(args.out, "w") as fh:
            json.dump(result, fh)
        spark.stop()


class Client:
    def __init__(self, spark, args, wl) -> None:
        # the comparator is imported from the tests, not copied
        from google_cloud_ecommerce_spark.queries import all_oracles, all_queries

        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tests"))
        from oracle_parity import compare, duckdb_connect

        from sparkprobe import JvmMemory, StatusReader, StreamRecorder

        self.spark, self.sc, self.wl = spark, spark.sparkContext, wl
        self.data, self.seconds, self.trace = args.data, args.seconds, args.trace == 1
        self.registry, self.oracles = all_queries(), all_oracles()
        self.compare, self.con = compare, duckdb_connect(args.data)
        self.rng = random.Random(args.seed)
        self.status = StatusReader(spark)
        self.memory = JvmMemory(spark)
        # trigger metrics need the listener, so every streaming run has it
        self.recorder = StreamRecorder() if wl.streaming else None
        if self.recorder:
            spark.streams.addListener(self.recorder)
        self.checks: dict[str, list[str]] = {}
        # the warm-up's seconds per entry, to compare with timed calls
        self.first_calls: dict[str, dict[str, float]] = {}
        self.calls: list[dict] = []
        self._n = 0

    def check(self, entry: str, df) -> list[str]:
        try:
            problems = self.compare(df, self.con, self.oracles[entry])
        except Exception as exc:  # a failing entry is reported, not fatal
            problems = [_describe(exc)]
        if self.trace:  # the check's executions belong to no call
            self.status.new_sql_metrics()
        return problems

    def warm_up(self) -> None:
        for entry in self.rng.sample(self.wl.entries, len(self.wl.entries)):
            a = time.perf_counter()
            if self.wl.streaming:
                rec = self.call(entry, traced=False)
                self.checks[entry] = rec["problems"]
                self.first_calls[entry] = {"call_s": rec["wall_s"], "check_s": time.perf_counter() - a - rec["wall_s"]}
                continue
            try:
                df = self.registry[entry](self.spark, self.data)
            except Exception as exc:
                self.checks[entry] = [_describe(exc)]
                continue
            self.checks[entry] = self.check(entry, df)
            self.first_calls[entry] = {"check_s": time.perf_counter() - a}

    def window(self, born: float) -> None:
        """round(--seconds / cycle_s) complete cycles, at least one; at
        least two in a traced run, so its overhead is a median over
        several pairs."""
        pairs = 0
        for _ in range(max(2 if self.trace else 1, round(self.seconds / self.wl.cycle_s))):
            cycle_start = time.perf_counter()
            for entry in self.rng.sample(self.wl.entries, len(self.wl.entries)):
                if self.trace:
                    first = pairs % 2 == 0
                    pair = [self.call(entry, traced=first), self.call(entry, traced=not first)]
                    for rec in pair:
                        rec["pair"] = pairs
                    pairs += 1
                else:
                    pair = [self.call(entry, traced=False)]
                for rec in pair:
                    rec["timed"] = True
                    self.calls.append(rec)
            now = time.perf_counter()
            if (now - born) + (now - cycle_start) > WALL_CAP_S:
                return

    def call(self, entry: str, traced: bool) -> dict:
        """One closed-loop call: build, then materialize into noop."""
        self._n += 1
        cid = f"c{self._n}"
        rec = {"id": cid, "entry": entry, "module": self.registry[entry].__module__, "ok": False, "traced": traced}
        df = None
        if traced:
            self.sc.setJobGroup(f"{cid}/build", entry)
        start_epoch = time.time()
        a = time.perf_counter()
        try:
            df = self.registry[entry](self.spark, self.data)
            b = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"{cid}/exec", entry)
            df.write.format("noop").mode("overwrite").save()
            c = time.perf_counter()
            rec.update(ok=True, build_s=b - a, exec_s=c - b)
        except Exception as exc:  # counted as a failed call
            c = time.perf_counter()
            rec["error"] = _describe(exc)
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(start=start_epoch, wall_s=c - a)
        if self.trace or self.recorder:
            self.status.drain()
        if self.recorder:
            started, progress = self.recorder.take()
            rec["queries"] = [{"run_id": r, "start": s} for r, s in started]
            rec["triggers"] = progress
        if traced:
            groups = [f"{cid}/build", f"{cid}/exec"] + [q["run_id"] for q in rec.get("queries", [])]
            rec["jobs"] = {g: self.status.jobs(g) for g in groups}
            rec["sql"] = self.status.new_sql_metrics()
        elif self.trace:  # an untraced call's executions belong to no traced call
            self.status.new_sql_metrics()
        if self.wl.streaming:
            rec["problems"] = self.check(entry, df) if rec["ok"] else [rec["error"]]
        return rec


def _describe(exc: Exception) -> str:
    return f"{type(exc).__name__}: {str(exc)[:300]}"


if __name__ == "__main__":
    main()
