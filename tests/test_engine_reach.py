"""Every engine definition is reached from an entry point.

The engine has three entry points: the query registry, the pipeline
CLI/streaming service (``pipeline/run.py``) and the benchmark
(``bench.py``, ``__spark_entry__.py``, ``perfbench/``). A top-level def,
class or constant of the package that none of them reaches exists only
for tests or tools, and belongs in ``tests/`` or nowhere.

The scan is by name, over code only: an undecorated top-level definition
is reached when its name is used as an identifier in one of the entry
point files, or in the package source outside its own lines and outside
every definition that is itself unreached. A use is a ``Name``, an
``Attribute``, an imported name or alias, or a string constant that is
exactly an identifier (a ``getattr`` or registry key); a word in a
comment, a docstring or an error message is not a use, and package
``__init__`` re-exports do not count. Decorated definitions (registered
queries, UDFs) are reached through their decorator. No Spark session is
needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

pytestmark = pytest.mark.unit

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "etl_file_sync_spark"
ENTRY_FILES = [ROOT / "bench.py", ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").rglob("*.py"))]

# name -> why it stays although no entry point reaches it.
ALLOWED = {
    "py_num_str_int": "pure-Python reference model of the numeric-string grammar that the "
    "property tests compare num_str_int/num_int_sql against; shares TRIM_RE/NUM_RE with the engine",
    "DEFAULT_SF_DIR": "deployment path setting: the default data directory of the catalog",
    "jaro_winkler_py": "pure-Python reference model of Jaro-Winkler that the bit-level "
    "tests compare the engine's JW kernels against",
}


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each undecorated top-level def,
    class or constant."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and not (t.id.startswith("__") and t.id.endswith("__")):
                    yield t.id, node.lineno, node.end_lineno


def _identifier_uses(nodes):
    """(identifier, line) of each use in code under ``nodes``: names,
    attributes, imported names and their aliases, and string constants
    that are exactly an identifier."""
    stack = list(nodes)
    while stack:
        node = stack.pop()
        stack.extend(ast.iter_child_nodes(node))
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.end_lineno
        elif isinstance(node, ast.alias):
            for name in filter(None, (node.name, node.asname)):
                for part in name.split("."):
                    yield part, node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                yield node.value, node.lineno


def unreached() -> list[str]:
    """``module::name`` of each definition no entry point reaches.

    A use inside a definition that is itself unreached does not count,
    so the scan repeats until the unreached set stops growing."""
    entry_words = {w for p in ENTRY_FILES for w, _ in _identifier_uses([ast.parse(p.read_text())])}
    defs = []  # (path, name, lo, hi)
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs += [(path, *d) for d in _definitions(tree)]
        # an __init__'s re-export imports are no use
        code = [n for n in tree.body if path.name != "__init__.py" or not isinstance(n, ast.ImportFrom)]
        for w, i in _identifier_uses(code):
            uses.setdefault(w, []).append((path, i))
    dead: set[tuple] = set()
    while True:
        # a definition's own lines, and the lines of definitions already
        # found unreached, are no use of it
        blind = [(p, lo, hi) for p, _, lo, hi in dead]

        def used(path: Path, name: str, lo: int, hi: int) -> bool:
            return any(
                not (p == path and lo <= i <= hi)
                and not any(p == q and a <= i <= b for q, a, b in blind)
                for p, i in uses.get(name, ())
            )

        now = {d for d in defs if d[1] not in entry_words and not used(*d)}
        if now == dead:
            return sorted(f"{p.relative_to(ROOT)}::{n}" for p, n, _, _ in dead)
        dead = now

@pytest.fixture(scope="module")
def unreached_names():
    return unreached()


def test_every_engine_definition_is_reached(unreached_names):
    missing = [n for n in unreached_names if n.split("::")[1] not in ALLOWED]
    assert not missing, f"{len(missing)} engine definitions only tests or tools reach:\n" + "\n".join(missing)


def test_allowed_entries_are_still_needed(unreached_names):
    names = {n.split("::")[1] for n in unreached_names}
    assert set(ALLOWED) <= names, f"ALLOWED lists reached names: {sorted(set(ALLOWED) - names)}"
