"""Run one workload over several seeds and report each metric's median
and run-to-run spread, (Q3 - Q1) / median, against its bound.

    python3 perfbench/spread.py --workload curation --seeds 1-10 [--seconds N] [--trace 0]

Runs are sequential, one process each. Per-run results are appended as JSON lines to
perfbench/_out/spread-<workload>-t<trace>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    if "-" in args.seeds:
        lo, hi = map(int, args.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
    log = os.path.join(HERE, "_out", f"spread-{args.workload}-t{args.trace}.jsonl")
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=300,
        )  # fmt: skip
        wall = time.perf_counter() - t0
        walls.append(wall)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, "_out", f"report-{args.workload}-s{seed}-t{args.trace}.txt"), "w") as fh:
            fh.write(proc.stdout)
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **result}) + "\n")
        print(f"seed {seed}: {wall:.1f} s correct={result['correct']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)  # fmt: skip
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"runs: {len(seeds)}, wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for name, vals in values.items():
        med = statistics.median(vals)
        spread = stats.quartile_spread(vals) if len(vals) >= 2 and med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound}  {'OK' if spread <= bound / 3 else 'WIDE'}"
        print(f"  {name}: median {med:.6g}  spread {spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
