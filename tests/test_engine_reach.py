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
import functools
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


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


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
    entry_words = {w for p in ENTRY_FILES for w, _ in _identifier_uses([_tree(p)])}
    defs = []  # (path, name, lo, hi)
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = _tree(path)
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


# Defaulted parameters. Each one is a setting; a setting no caller sets
# is a literal under another name, and a branch that only it selects is
# a code path only tests run.
#
# ``module.function(parameter)`` -> why it keeps its default although no
# package or entry-point call passes it. Three kinds only: a guard that
# raises (tests set a small value to trigger it), a physical-layout value
# that tests sweep to prove the result does not depend on it, and a
# deployment setting or test-substitution seam.
ALLOWED_DEFAULTS = {
    "similarity.cosine_topk(max_queries)": "guard that raises: the broadcast query side is bounded",
    "bpe.bpe_train(max_vocab)": "guard that raises: the driver-side merge loop is bounded",
    "rankstats.grouped_bucketed_cumsum(n_buckets)": "physical layout: tests sweep it, the sums do not change",
    "rankstats.bucketed_cummax(n_buckets)": "physical layout: tests sweep it, the maxima do not change",
    "rankstats.bucketed_row_number(n_buckets)": "physical layout: tests sweep it, the row numbers do not change",
    "rankstats.avg_ranks(n_buckets)": "physical layout: tests sweep it, the ranks do not change",
    "dedup.embedding_dup_pairs(blocks)": "physical layout: tests sweep it, the pairs do not change",
    "text.pack_sequences(bucket_width)": "physical layout: tests sweep it, the packing does not change",
    "pool.FTPConnectionPool(pool_size)": "deployment setting: connections per server",
    "pool.FTPConnectionPool(max_wait)": "deployment setting: borrow timeout",
    "pool.FTPConnectionPool(connect_timeout)": "deployment setting: FTP connect timeout",
    "pool.FTPConnectionPool(factory)": "test seam: a fake FTP client in place of ftplib",
    "config.servers_dataframe(env)": "test seam: an environment dict in place of os.environ",
    "run.kafka_reader_options(env)": "test seam: an environment dict in place of os.environ",
    "config.get_dlq_topic(suffix)": "deployment setting: the DLQ topic suffix",
    "sink.foreach_batch_factory(staging_dir)": "deployment setting: where a batch's transfer staging lives",
    "run.main(argv)": "test seam: the CLI arguments in place of sys.argv",
}


def _functions(tree: ast.Module):
    """(call name, label, def, is method) of each top-level function and
    each method of a top-level class, and the remaining top-level code;
    a constructor is called by its class name."""
    rest = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node.name, node, False
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    init = m.name == "__init__"
                    yield (node.name if init else m.name), f"{node.name}{'' if init else '.' + m.name}", m, True
                else:
                    rest.append(m)
        else:
            rest.append(node)
    yield None, None, ast.Module(body=rest, type_ignores=[]), False


def _defaulted(fn, method: bool):
    """(parameter, position or None) of each parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if method and pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    out = [(p.arg, i) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    return out + [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _passes(call: ast.Call, caller, p: str, i, dead) -> bool:
    """Whether ``call`` (made inside ``caller``) passes parameter ``p`` at
    position ``i``: by keyword, by position or through ``*args`` or
    ``**kwargs``, except as a forward of the caller's own parameter of
    that name while it is in ``dead``."""
    if any(k.arg is None for k in call.keywords) or (
        i is not None and any(isinstance(a, ast.Starred) for a in call.args)
    ):
        return True
    vals = [k.value for k in call.keywords if k.arg == p]
    if i is not None and len(call.args) > i:
        vals.append(call.args[i])
    return any(not (isinstance(v, ast.Name) and caller and (*caller, v.id) in dead) for v in vals)


def unpassed_defaults() -> tuple[list[str], list[str]]:
    """(unpassed, allowed): ``module.function(parameter)`` of each
    defaulted parameter that no call in package code or an entry file
    passes, outside and inside ALLOWED_DEFAULTS.

    Calls match by name. Forwarding the caller's own parameter does not
    count while that parameter is itself unpassed and not allowed, so
    the scan repeats until the unpassed set stops growing."""
    params = {}  # (path, def line, parameter) -> (call name, label, position)
    calls: dict[str, list[tuple[ast.Call, tuple | None]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")) + ENTRY_FILES:
        for name, label, fn, method in _functions(_tree(path)):
            caller = None
            if name is not None and path not in ENTRY_FILES:
                caller = (path, fn.lineno)
                for p, i in _defaulted(fn, method):
                    params[(*caller, p)] = (name, f"{path.stem}.{label}({p})", i)
            for n in ast.walk(fn):
                if isinstance(n, ast.Call):
                    f = n.func
                    called = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    if called:
                        calls.setdefault(called, []).append((n, caller))

    def unpassed(key, dead) -> bool:
        name, _, i = params[key]
        return not any(_passes(c, caller, key[2], i, dead) for c, caller in calls.get(name, ()))

    dead: set[tuple] = set()
    while True:
        now = {k for k in params if params[k][1] not in ALLOWED_DEFAULTS and unpassed(k, dead)}
        if now == dead:
            break
        dead = now
    allowed = [params[k][1] for k in params if params[k][1] in ALLOWED_DEFAULTS and unpassed(k, dead)]
    return sorted(params[k][1] for k in dead), sorted(allowed)


@pytest.fixture(scope="module")
def defaults_scan():
    return unpassed_defaults()


def test_every_default_is_passed_or_allowed(defaults_scan):
    unpassed, _ = defaults_scan
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters that no package or entry-point call passes; "
        "make each a literal or a module constant at its use:\n" + "\n".join(unpassed)
    )


def test_allowed_defaults_are_still_unpassed(defaults_scan):
    _, allowed = defaults_scan
    assert set(allowed) == set(ALLOWED_DEFAULTS), (
        f"ALLOWED_DEFAULTS lists parameters that are passed or gone: {sorted(set(ALLOWED_DEFAULTS) - set(allowed))}"
    )
