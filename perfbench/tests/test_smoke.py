"""End-to-end smoke runs of the benchmark on sf0.001-sized data.

Each run starts Spark, so this module takes a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(cwd, workload, trace, *extra):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_benchmark_json_names_every_workload():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
    assert "setup_s" in {m["name"] for m in BENCH["end_to_end"]}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_run(workload):
    proc = _run(ROOT, workload, 0, "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_smoke_run_writes_spans():
    proc = _run(ROOT, "stream_ingest", 1, "--scale", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    with open(os.path.join(HERE, "_out", "spans-stream_ingest-s7.jsonl")) as fh:
        spans = [json.loads(line) for line in fh]
    names = {s.get("name") for s in spans}
    assert {"call", "build", "exec", "replay", "run", "pin", "trigger", "addBatch", "job", "stage"} <= names
    assert "tracing_overhead: median over 4 paired calls" in proc.stdout


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    proc = _run(tmp_path, BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
