"""Tooling: every top-level function of `modelardb_spark/operators/` is
referenced somewhere besides its own definition — by another file of
the repository (product, `__spark_entry__.py`, `bench*.py`,
`perfbench/`, `tests/`, `scripts/`) or by its own module. An
unreferenced helper is dead code and fails here."""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _sources() -> dict[pathlib.Path, str]:
    files = [
        *ROOT.glob("modelardb_spark/**/*.py"),
        ROOT / "__spark_entry__.py",
        *ROOT.glob("bench*.py"),
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("tests/*.py"),
        *ROOT.glob("scripts/*.py"),
    ]
    return {p: p.read_text() for p in files if p.exists()}


def test_operator_functions_are_referenced():
    srcs = _sources()
    dead = []
    for path in sorted(ROOT.glob("modelardb_spark/operators/*.py")):
        for node in ast.parse(srcs[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            used_here = len(word.findall(srcs[path])) > 1  # beyond the def
            used_elsewhere = any(
                word.search(text) for p, text in srcs.items() if p != path
            )
            if not (used_here or used_elsewhere):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced operator functions:\n" + "\n".join(dead)
