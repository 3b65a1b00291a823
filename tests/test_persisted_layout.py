"""The persisted-layout rule (io.persisted_layout): where a layout lives,
what its _SOURCE marker holds, and when it is rebuilt."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "google_cloud_ecommerce_spark"


def test_persisted_layout_rebuilds_only_on_source_or_recipe_change(tmp_path, tmp_warehouse):
    from google_cloud_ecommerce_spark.io import persisted_layout

    sf = tmp_path / "sf_fixture"
    sf.mkdir()
    src = sf / "events.parquet"
    src.write_bytes(b"rows")
    calls = []

    def build(loc: str) -> None:
        calls.append(loc)
        os.makedirs(loc, exist_ok=True)
        Path(loc, "part-0.parquet").write_bytes(b"layout")

    loc = persisted_layout(str(sf), "cube", "events", "r:v1", build)
    assert loc == str(tmp_warehouse / "cube" / "sf_fixture")
    assert calls == [loc]
    marker = Path(loc, "_SOURCE")
    assert marker.read_text().endswith("|r:v1")
    before = marker.stat().st_mtime_ns

    # same source, same recipe: no build, marker untouched
    assert persisted_layout(str(sf), "cube", "events", "r:v1", build) == loc
    assert len(calls) == 1
    assert marker.stat().st_mtime_ns == before

    # touched source: rebuild
    st = src.stat()
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    persisted_layout(str(sf), "cube", "events", "r:v1", build)
    assert len(calls) == 2

    # changed recipe over the same source: rebuild
    persisted_layout(str(sf), "cube", "events", "r:v2", build)
    assert len(calls) == 3
    assert marker.read_text().endswith("|r:v2")
    persisted_layout(str(sf), "cube", "events", "r:v2", build)
    assert len(calls) == 3


def test_layout_location_marker_and_warehouse_live_in_io():
    """Only io.py may name the warehouse or the marker file: every other
    module goes through io.persisted_layout, so there is one location
    rule and one marker check."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "io.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                parts = set(re.split(r"[/\\]", node.value))
                if parts & {"_SOURCE", "spark-warehouse"}:
                    offenders.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not offenders, f"layout location or marker named outside io.py: {offenders}"


def test_ann_probe_builds_only_its_own_layout(spark, sf_smoke, tmp_warehouse):
    from google_cloud_ecommerce_spark.operators.similarity import similarity_index_topk

    assert similarity_index_topk(spark, sf_smoke).count() > 0
    sf = os.path.basename(sf_smoke)
    built = sorted(
        os.path.relpath(d, tmp_warehouse)
        for d, _, files in os.walk(tmp_warehouse)
        if "_SOURCE" in files
    )
    assert built == [f"ann_index/lsh/{sf}"]
    assert sorted(os.listdir(tmp_warehouse / "ann_index")) == ["lsh"]
