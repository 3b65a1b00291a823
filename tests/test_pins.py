"""The one pin rule, checked on the source with no Spark: every
``localCheckpoint`` in the package is ``pins.pin`` or ``pins.pin_result``,
and the retired ``iterative`` template stays gone."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "google_cloud_ecommerce_spark"


def _checkpoint_calls(tree: ast.AST) -> list[int]:
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]


def _imports_iterative(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [f"{node.module}.{a.name}" for a in node.names] + [node.module or ""]
        else:
            continue
        if any(n.split(".")[-1] == "iterative" for n in names):
            return True
    return False


def test_pins_module_holds_the_only_local_checkpoints():
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(PACKAGE))
        lines = _checkpoint_calls(tree)
        if rel == "pins.py":
            assert len(lines) == 2, f"pins.py holds {len(lines)} localCheckpoint calls"
        elif lines or _imports_iterative(tree):
            offenders[rel] = lines
    assert not offenders, f"pin outside pins.py (or an iterative import): {offenders}"
    assert not (PACKAGE / "iterative.py").exists()
