"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Generates the workload's tables from --seed, starts a fresh client
process (worker.py) in its own working, temp, Spark-local and
table-cache directories, samples the memory of the client's process
tree, and prints a report followed by one JSON result line. With
--trace 1 it also writes the spans of every traced call to
perfbench/_out/spans-<workload>-s<seed>.jsonl, states the tracing
overhead measured on paired traced and untraced calls of the same run,
and prints the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# a run must end within 180 s, data generation included
CHILD_TIMEOUT_S = 165.0
# a driver heap cap: session.py asks for 16g, more than a 15 GiB box
# has; 2g holds these data sizes. The JVM starts small and grows the
# heap up to the cap as the program needs.
DRIVER_MEMORY = "2g"
RSS_SAMPLE_S = 0.5
OUT_DIR = os.path.join(HERE, "_out")
WORK_DIR = os.path.join(HERE, "_work")
MB = 1e6


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None, help="override the workload's data scale")
    args = ap.parse_args()
    # a terminated run still stops its client and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [
        p
        for p in ("google_cloud_ecommerce_spark/catalog.py", "tests/oracle_parity.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program not found next to {HERE}: missing {missing}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    scale = wl.scale if args.scale is None else args.scale
    load_before = os.getloadavg()
    work = os.path.join(WORK_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}")
    warehouse = os.path.join(ROOT, "spark-warehouse")
    layouts_before = _layout_dirs(warehouse)
    try:
        return _run(args, wl, scale, work, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # layouts a registry entry persisted for this run's data
        for path in _layout_dirs(warehouse) - layouts_before:
            shutil.rmtree(path, ignore_errors=True)


def _run(args, wl, scale, work, load_before) -> int:
    import datagen

    data = os.path.join(work, "data")
    g0 = time.perf_counter()
    rows = datagen.write_tables(data, args.seed, scale)
    gen_s = time.perf_counter() - g0

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    dirs = {name: os.path.join(work, name) for name in ("cwd", "tmp", "local", "table_cache")}
    for d in dirs.values():
        os.makedirs(d)
    launch = {
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_TABLE_CACHE": dirs["table_cache"],
        # every JVM (spark-submit's launcher too) ignores TMPDIR, putting
        # streaming temp checkpoints in java.io.tmpdir, and writes perf
        # data to /tmp unless told not to
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    env.update(launch)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "client.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", out,
    ]  # fmt: skip
    with open(log, "w") as errf:
        spawned = time.perf_counter()
        child = subprocess.Popen(
            cmd, cwd=dirs["cwd"], env=env, stdout=subprocess.PIPE, stderr=errf,
            text=True, start_new_session=True,
        )  # fmt: skip
        setup_done: list[float] = []
        reader = threading.Thread(target=_watch_stdout, args=(child.stdout, setup_done), daemon=True)
        reader.start()
        peak = _supervise(child, spawned + CHILD_TIMEOUT_S - gen_s)
        reader.join(timeout=5)
        client_s = time.perf_counter() - spawned
    if child.returncode != 0 or not setup_done or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: client exited with {child.returncode}", file=sys.stderr)
        return 1
    with open(out) as fh:
        result = json.load(fh)

    summary = summarize(result, wl)
    summary["e2e"]["setup_s"] = (setup_done[0] - spawned, "s")
    summary["e2e"]["retained_mb"] = (summary["jvm_retained_mb"] + peak["workers"] / MB, "MB")
    summary["layers"].update(
        {
            "memory.jvm_peak_rss_mb": (peak["java"] / MB, "MB"),
            "memory.workers_pss_mb": (peak["workers"] / MB, "MB"),
        }
    )
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "data_scale": scale, "data_rows": rows, "datagen_s": gen_s,
        "launch_env": {k: v.replace(ROOT, ".") for k, v in launch.items()},
        **result["env"],
        "client_phases_s": result["phases"],
        "peak_memory_mb": {kind: round(b / MB, 1) for kind, b in peak.items()},
        "client_total_s": client_s,
    }  # fmt: skip
    os.makedirs(OUT_DIR, exist_ok=True)
    shutil.copy(out, os.path.join(OUT_DIR, f"client-{args.workload}-s{args.seed}-t{args.trace}.json"))
    if args.trace:
        spans = os.path.join(OUT_DIR, f"spans-{args.workload}-s{args.seed}.jsonl")
        write_spans(spans, result["calls"])
        info["spans"] = os.path.relpath(spans, ROOT)
        info["tracing_overhead"] = overhead(result["calls"])
    report(info, summary, result)
    metrics = summary["layers"] if args.trace else summary["e2e"]
    print(
        json.dumps(
            {
                "correct": summary["correct"],
                "attempted": summary["attempted"],
                "failed": summary["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _layout_dirs(warehouse: str) -> set[str]:
    """Second-level entries of the repo's spark-warehouse (one per layout)."""
    if not os.path.isdir(warehouse):
        return set()
    return {
        os.path.join(warehouse, kind, name)
        for kind in os.listdir(warehouse)
        if os.path.isdir(os.path.join(warehouse, kind))
        for name in os.listdir(os.path.join(warehouse, kind))
    }


def _watch_stdout(stream, setup_done: list[float]) -> None:
    for line in stream:
        if line.startswith("@@setup_done") and not setup_done:
            setup_done.append(time.perf_counter())


def _supervise(child: subprocess.Popen, deadline: float) -> dict[str, int]:
    """Wait for the client, sampling the memory of its process tree; kill
    the whole process group on timeout and after exit. Returns the peaks
    of tree_memory's three parts, in bytes."""
    peak = {"java": 0, "workers": 0, "client": 0}
    try:
        while child.poll() is None:
            for kind, size in tree_memory(child.pid).items():
                peak[kind] = max(peak[kind], size)
            if time.perf_counter() > deadline:
                print("perfbench: client timed out", file=sys.stderr)
                break
            time.sleep(RSS_SAMPLE_S)
    finally:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    return peak


def tree_memory(root: int) -> dict[str, int]:
    """Memory of the client process ``root`` and of its descendants:
    "java", the driver JVM's kernel-kept peak RSS (VmHWM), read without
    walking its page tables; "workers", the current total PSS of the
    Python processes below the client (PySpark's worker daemon and its
    forked workers; PSS splits the pages they share, so each page counts
    once); "client", the client's own PSS, which also holds the
    benchmark's DuckDB oracle and the results it collects for checks.
    Other descendants are short-lived helpers (shell scripts, and JVM
    forks for file-system commands that briefly share the JVM's pages
    before exec), left out."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, frontier = {root}, [root]
    while frontier:
        for child in children.get(frontier.pop(), []):
            tree.add(child)
            frontier.append(child)
    out = {"java": 0, "workers": 0, "client": 0}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm == "java":
                with open(f"/proc/{pid}/status") as fh:
                    field = next(line for line in fh if line.startswith("VmHWM:"))
                out["java"] += int(field.split()[1]) * 1024
            elif comm.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    field = next(line for line in fh if line.startswith("Pss:"))
                out["client" if pid == root else "workers"] += int(field.split()[1]) * 1024
        except (OSError, StopIteration):  # exited while being read
            continue
    return out


def summarize(result: dict, wl) -> dict:
    """End-to-end and per-layer metrics from the client's call records:
    end-to-end from the untraced calls, per-layer from the traced ones;
    every call and check counts in attempted and failed."""
    timed_all = [c for c in result["calls"] if c.get("timed")]
    traced = [c for c in timed_all if c["traced"]]
    timed = [c for c in timed_all if not c["traced"]]
    ok = [c for c in timed if c["ok"]]
    busy = sum(c["wall_s"] for c in timed)
    if wl.streaming:
        checks = {c["id"]: c["problems"] for c in timed_all if c["ok"]}
        checks.update(result["checks"])
    else:
        checks = result["checks"]
    bad_checks = {k: v for k, v in checks.items() if v}
    attempted = len(timed_all) + len(checks)
    failed = len([c for c in timed_all if not c["ok"]]) + len(bad_checks)
    latencies = [c["wall_s"] for c in ok]
    e2e = {
        "ops_per_s": (len(ok) / busy, "1/s"),
        "latency_p50_s": (stats.percentile(latencies, 50) if latencies else busy, "s"),
    }
    setup = result["setup"]
    memory = result["memory"]
    layers = {
        "session.start_s": (setup["session_start_s"], "s"),
        "catalog.first_touch_s": (setup["first_touch_s"], "s"),
        "catalog.mirrors_written": (setup["mirrors_written"], "count"),
        "memory.jvm_heap_live_mb": (memory["heap_live_b"] / MB, "MB"),
        "memory.jvm_nonheap_mb": (memory["nonheap_b"] / MB, "MB"),
    }
    if traced:
        layers.update(
            _layer_metrics(traced, [c for c in traced if c["ok"]], sum(c["wall_s"] for c in traced), os.cpu_count())
        )
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "jvm_retained_mb": (memory["heap_live_b"] + memory["nonheap_b"]) / MB,
        "failed_op_share": stats.failed_share(attempted, failed),
        "bad_checks": bad_checks,
        "latency_tail": stats.tail(latencies),
        "latencies": latencies,
        "busy_s": busy,
        "n_timed": len(timed_all),
        "triggers": [t for c in timed for t in c.get("triggers", [])],
    }


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _layer_metrics(timed: list[dict], ok: list[dict], busy: float, cores: int) -> dict:
    def jobs_of(c, build_only=False):
        return [
            j
            for g, js in c["jobs"].items()
            if not (build_only and g.endswith("/exec"))
            for j in js
        ]

    def stages_of(c):
        return [s for j in jobs_of(c) for s in j["stages"]]

    def stage_sum(c, key):
        return sum(s[key] for s in stages_of(c))

    run_s = sum(stage_sum(c, "executor_run_s") for c in timed)
    out = {
        "registry.build_s": (_mean(c["build_s"] for c in ok), "s"),
        "registry.build_jobs": (_mean(len(jobs_of(c, True)) for c in timed), "count"),
        "registry.exec_s": (_mean(c["exec_s"] for c in ok), "s"),
        "spark.jobs": (_mean(len(jobs_of(c)) for c in timed), "count"),
        "spark.stages": (_mean(len(stages_of(c)) for c in timed), "count"),
        "spark.tasks": (_mean(stage_sum(c, "tasks") for c in timed), "count"),
        "spark.executor_run_s": (run_s / len(timed), "s"),
        "spark.core_util": (run_s / (busy * cores), "ratio"),
        "spark.shuffle_write_mb": (_mean(stage_sum(c, "shuffle_write_b") for c in timed) / MB, "MB"),
        "spark.shuffle_read_mb": (_mean(stage_sum(c, "shuffle_read_b") for c in timed) / MB, "MB"),
        "spark.spill_mb": (_mean(stage_sum(c, "spill_b") for c in timed) / MB, "MB"),
        "spark.failed_tasks": (sum(stage_sum(c, "failed_tasks") for c in timed), "count"),
        "python.boot_s": (_mean(c["sql"]["python_boot_s"] for c in timed), "s"),
        "python.init_s": (_mean(c["sql"]["python_init_s"] for c in timed), "s"),
        "python.run_s": (_mean(c["sql"]["python_run_s"] for c in timed), "s"),
        "python.sent_mb": (_mean(c["sql"]["python_sent_b"] for c in timed) / MB, "MB"),
        "python.returned_mb": (_mean(c["sql"]["python_returned_b"] for c in timed) / MB, "MB"),
        "io.files_written": (_mean(c["sql"]["files_written"] for c in timed), "count"),
        "io.written_mb": (_mean(c["sql"]["written_b"] for c in timed) / MB, "MB"),
    }
    out.update(_stream_metrics(timed, busy))
    return out


# trigger phases, in the order the engine runs them
PHASE_METRICS = {
    "latestOffset": "streaming.latest_offset_ms",
    "walCommit": "streaming.wal_commit_ms",
    "getBatch": "streaming.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}
PHASES = tuple(PHASE_METRICS)


def stream_split(c: dict) -> tuple[float, float, float]:
    """(replay, run, pin) seconds of a streaming call: before the first
    query started, until its last trigger ended, and after."""
    if not c.get("queries") or not c.get("triggers"):
        return 0.0, 0.0, 0.0
    first = min(q["start"] for q in c["queries"])
    last = max(t["start"] + t["ms"].get("triggerExecution", 0) / 1e3 for t in c["triggers"])
    end = c["start"] + c.get("build_s", c["wall_s"])
    return first - c["start"], last - first, max(0.0, end - last)


def _stream_metrics(timed: list[dict], busy: float) -> dict:
    streaming = [c for c in timed if c.get("queries")]
    triggers = [t for c in streaming for t in c["triggers"]]
    splits = [stream_split(c) for c in streaming]
    trig_ms = [t["ms"].get("triggerExecution", 0) for t in triggers]
    tail = stats.tail(trig_ms) if trig_ms else None
    out = {
        "streaming.replay_s": (_mean(s[0] for s in splits), "s"),
        "streaming.run_s": (_mean(s[1] for s in splits), "s"),
        "streaming.pin_s": (_mean(s[2] for s in splits), "s"),
        "streaming.triggers": (_mean(len(c["triggers"]) for c in streaming), "count"),
        "streaming.rows_per_s": (sum(t["rows"] for t in triggers) / busy, "1/s"),
        "streaming.trigger_p50_ms": (stats.percentile(trig_ms, 50) if trig_ms else 0.0, "ms"),
        "streaming.trigger_tail_ms": (tail[1] if tail else (max(trig_ms) if trig_ms else 0.0), "ms"),
        "streaming.state_rows": (_mean(max(t["state_rows"] for t in c["triggers"]) for c in streaming), "count"),
        "streaming.state_memory_mb": (
            _mean(max(t["state_bytes"] for t in c["triggers"]) for c in streaming) / MB,
            "MB",
        ),
    }
    for phase, name in PHASE_METRICS.items():
        out[name] = (_mean(t["ms"].get(phase, 0) for t in triggers), "ms")
    return out


def write_spans(path: str, calls: list[dict]) -> None:
    """One JSON line per span. Spans of a call share its trace id; they
    nest call > build/exec > job > stage, and for streaming calls
    call > replay/run/pin > trigger > phase (phase starts are laid out
    in the engine's order from the trigger start, durations measured)."""
    lines = []

    def span(trace, sid, parent, name, start, end, **attrs):
        lines.append({"trace": trace, "span": sid, "parent": parent, "name": name,
                      "start": start, "end": end, **attrs})  # fmt: skip

    for c in calls:
        if not (c.get("timed") and c["traced"]):
            continue
        cid, start = c["id"], c["start"]
        end = start + c["wall_s"]
        span(cid, cid, None, "call", start, end, entry=c["entry"], module=c["module"], ok=c["ok"])
        if c["ok"]:
            span(cid, f"{cid}/build", cid, "build", start, start + c["build_s"])
            span(cid, f"{cid}/exec", cid, "exec", start + c["build_s"], end)
        if c.get("queries"):
            replay, run, _pin = stream_split(c)
            run_start = start + replay
            span(cid, f"{cid}/replay", cid, "replay", start, run_start)
            span(cid, f"{cid}/run", cid, "run", run_start, run_start + run)
            span(cid, f"{cid}/pin", cid, "pin", run_start + run, start + c.get("build_s", c["wall_s"]))
            for t in c["triggers"]:
                tid = f"{cid}/trigger/{t['run_id'][:8]}/{t['batch']}"
                t0 = t["start"]
                span(cid, tid, f"{cid}/run", "trigger", t0, t0 + t["ms"].get("triggerExecution", 0) / 1e3,
                     rows=t["rows"], state_rows=t["state_rows"])  # fmt: skip
                for phase in PHASES:
                    d = t["ms"].get(phase, 0) / 1e3
                    span(cid, f"{tid}/{phase}", tid, phase, t0, t0 + d)
                    t0 += d
        for group, jobs in c.get("jobs", {}).items():
            parent = f"{cid}/{group.rsplit('/', 1)[1]}" if group.startswith(cid + "/") else f"{cid}/run"
            for j in jobs:
                jid = f"{cid}/job/{j['id']}"
                span(cid, jid, parent, "job", j["start"], j["end"], job_id=j["id"])
                for s in j["stages"]:
                    span(cid, f"{jid}/stage/{s['id']}", jid, "stage", s["start"], s["end"],
                         tasks=s["tasks"], executor_run_s=s["executor_run_s"])  # fmt: skip
        if c.get("sql"):
            lines.append({"trace": cid, "counters": c["sql"]})
    with open(path, "w") as fh:
        for line in lines:
            fh.write(json.dumps(line) + "\n")


def overhead(calls: list[dict]) -> str:
    """Tracing overhead from the window's (traced, untraced) pairs of calls
    of one entry: the median over pairs of traced / untraced call time,
    and the two sides' calls per second."""
    pairs: dict[int, dict[bool, float]] = {}
    for c in calls:
        if c.get("timed") and c["ok"] and "pair" in c:
            pairs.setdefault(c["pair"], {})[c["traced"]] = c["wall_s"]
    both = [p for p in pairs.values() if len(p) == 2]
    if not both:
        return "unknown: no traced/untraced pair completed"
    ratio = stats.percentile([p[True] / p[False] - 1 for p in both], 50)
    rate = {side: len(both) / sum(p[side] for p in both) for side in (True, False)}
    return (
        f"median over {len(both)} paired calls {ratio * 100:+.1f}% call time; "
        f"ops_per_s {rate[True]:.4f} traced vs {rate[False]:.4f} untraced"
    )


def report(info: dict, summary: dict, result: dict) -> None:
    print(f"perfbench {' '.join(f'{k}={info[k]}' for k in ('workload', 'seed', 'seconds', 'trace'))}")
    for key, value in info.items():
        if key not in ("workload", "seed", "seconds", "trace"):
            print(f"  {key}: {value}")
    checks = result["checks"]
    print(f"  oracle check: {len(checks) - len([1 for v in checks.values() if v])}/{len(checks)} entries match")
    for name, problems in summary["bad_checks"].items():
        print(f"  FAILING {name}: {problems}")
    for c in result["calls"]:
        if c.get("timed") and not c["ok"]:
            print(f"  FAILED CALL {c['entry']}: {c['error']}")
    for entry, secs in result["first_calls"].items():
        print(f"  warm-up {entry}: " + ", ".join(f"{k} {v:.3f}" for k, v in secs.items()))
    print(f"  window: {summary['n_timed']} calls; untraced call time {summary['busy_s']:.3f} s")
    by_module: dict[str, list[float]] = {}
    for c in result["calls"]:
        if c.get("timed") and not c["traced"] and c["ok"]:
            by_module.setdefault(c["module"], []).append(c["wall_s"])
    for module, walls in sorted(by_module.items()):
        print(f"  module {module}: {len(walls)} calls, mean {_mean(walls):.4f} s")
    tail = summary["latency_tail"]
    n = len(summary["latencies"])
    print(
        f"  latency tail: p{tail[0]:g} = {tail[1]:.4f} s over {n} calls"
        if tail
        else f"  latency tail: none supported ({n} calls; a tail needs {stats.MIN_BEYOND} beyond it)"
    )
    trig = [t["ms"].get("triggerExecution", 0) for t in summary["triggers"]]
    if trig:
        ttail = stats.tail(trig)
        print(
            f"  triggers: {len(trig)}, p50 {stats.percentile(trig, 50):.1f} ms"
            + (f", tail p{ttail[0]:g} {ttail[1]:.1f} ms" if ttail else ", no tail supported")
            + f", rows/s {sum(t['rows'] for t in summary['triggers']) / summary['busy_s']:.1f}"
        )
    print(
        f"  failed_op_share: {summary['failed_op_share']:.4f} "
        f"({summary['failed']} of {summary['attempted']} calls and checks)"
    )
    for section in ("e2e", "layers"):
        for name, (value, unit) in summary[section].items():
            print(f"  {name} = {value:.6g} {unit}")


if __name__ == "__main__":
    sys.exit(main())
