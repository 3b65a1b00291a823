"""Self-tests of the benchmark's arithmetic on synthetic timings."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402
from sparkprobe import SQL_METRICS, parse_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)  # fmt: skip
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, expected):
    values = [float(i) for i in range(n)]
    got = stats.tail(values)
    if expected is None:
        assert got is None
    else:
        assert got == (expected, stats.percentile(values, expected))
        assert n * (100 - got[0]) / 100 >= stats.MIN_BEYOND - 1e-9


def test_failed_share():
    assert stats.failed_share(30, 0) == 0.0
    assert stats.failed_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_share(0, 0)
    with pytest.raises(ValueError):
        stats.failed_share(3, 4)


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx((11.5 - 8.5) / 10.0)


def _call(cid, wall, ok=True, problems=None, traced=False, pair=None):
    rec = {"id": cid, "entry": "e", "module": "m", "ok": ok, "wall_s": wall, "start": 0.0, "timed": True,
           "traced": traced}  # fmt: skip
    if pair is not None:
        rec["pair"] = pair
    if ok:
        rec.update(build_s=wall / 2, exec_s=wall / 2)
    else:
        rec["error"] = "boom"
    if problems is not None:
        rec["problems"] = problems
    return rec


def _result(calls, checks):
    setup = {"session_start_s": 1.0, "first_touch_s": 2.0, "mirrors_written": 1}
    memory = {"heap_live_b": 100e6, "nonheap_b": 200e6, "gc_s": 0.1}
    return {"calls": calls, "checks": checks, "setup": setup, "memory": memory}


def test_summarize_counts_failed_calls_and_checks():
    calls = [_call("c1", 1.0), _call("c2", 3.0), _call("c3", 2.0, ok=False), _call("c4", 2.0)]
    checks = {"a": [], "b": ["values differ"], "c": []}
    s = run.summarize(_result(calls, checks), WORKLOADS["curation"])
    assert (s["attempted"], s["failed"]) == (7, 2)
    assert s["failed_op_share"] == pytest.approx(2 / 7)
    assert not s["correct"]
    assert s["e2e"]["ops_per_s"][0] == pytest.approx(3 / 8.0)  # failed time still counts
    assert s["e2e"]["latency_p50_s"][0] == 2.0  # over successful calls only
    assert s["jvm_retained_mb"] == pytest.approx(300.0)


def test_summarize_checks_every_streaming_call():
    calls = [_call("c1", 5.0, problems=[]), _call("c2", 6.0, problems=["row count differs"])]
    s = run.summarize(_result(calls, {"warm": []}), WORKLOADS["stream_ingest"])
    assert (s["attempted"], s["failed"], s["correct"]) == (5, 1, False)


def test_traced_calls_feed_layers_and_untraced_calls_end_to_end():
    calls = [_call("c1", 1.0), _call("c2", 4.0, traced=True), _call("c3", 3.0), _call("c4", 8.0, traced=True)]
    for c in calls:
        if c["traced"]:
            c["jobs"] = {f"{c['id']}/build": [], f"{c['id']}/exec": []}
            c["sql"] = dict.fromkeys(SQL_METRICS.values(), 0.0)
    s = run.summarize(_result(calls, {}), WORKLOADS["curation"])
    assert s["attempted"] == 4
    assert s["e2e"]["ops_per_s"][0] == pytest.approx(2 / 4.0)
    assert s["e2e"]["latency_p50_s"][0] == 2.0
    assert s["layers"]["registry.build_s"][0] == pytest.approx(3.0)  # (2 + 4) / 2


def test_overhead_is_the_median_over_pairs():
    calls = [
        _call("c1", 1.1, traced=True, pair=0), _call("c2", 1.0, pair=0),
        _call("c3", 2.0, pair=1), _call("c4", 2.4, traced=True, pair=1),
        _call("c5", 1.0, traced=True, pair=2), _call("c6", 1.0, pair=2),
        _call("c7", 5.0, traced=True, ok=False, pair=3), _call("c8", 1.0, pair=3),
    ]  # fmt: skip
    text = run.overhead(calls)
    assert text.startswith("median over 3 paired calls +10.0% call time")
    assert "ops_per_s 0.6667 traced vs 0.7500 untraced" in text
    assert run.overhead([_call("c1", 1.0)]).startswith("unknown")


def test_parse_metric_formats():
    assert parse_metric("1,000") == 1000.0
    assert parse_metric("346 ms") == pytest.approx(0.346)
    assert parse_metric("1.2 s") == pytest.approx(1.2)
    assert parse_metric("90.4 KiB") == pytest.approx(90.4 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n479 ms (96 ms, 136 ms, 138 ms (stage 23.0: task 62))") == pytest.approx(0.479)
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 27.0: task 75))") == 0.0


def test_stream_split_partitions_the_call():
    call = {"start": 100.0, "wall_s": 10.0, "build_s": 9.5,
            "queries": [{"run_id": "r", "start": 102.0}],
            "triggers": [{"start": 102.1, "ms": {"triggerExecution": 900}},
                         {"start": 103.0, "ms": {"triggerExecution": 4000}}]}  # fmt: skip
    replay, run_s, pin = run.stream_split(call)
    assert (replay, run_s, pin) == pytest.approx((2.0, 5.0, 2.5))
