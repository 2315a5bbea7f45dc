"""Source-scan guard: ``catalog.TABLES`` is the only list of the ten
tables. A re-declared copy under tools/ or tests/ silently drifts when
a table is added, and a tier or sweep built from it skips that table."""

from __future__ import annotations

import ast
from pathlib import Path

from etl_file_sync_spark.catalog import TABLES

REPO = Path(__file__).resolve().parent.parent


def _is_table_list(node: ast.AST) -> bool:
    if not isinstance(node, (ast.List, ast.Tuple)):
        return False
    names = [e.value for e in node.elts if isinstance(e, ast.Constant)]
    return len(names) == len(node.elts) and sorted(map(str, names)) == sorted(TABLES)


def test_no_redeclared_table_list():
    offenders = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for d in ("tools", "tests")
        for path in sorted((REPO / d).rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if _is_table_list(node)
    ]
    assert not offenders, f"use etl_file_sync_spark.catalog.TABLES instead: {offenders}"
