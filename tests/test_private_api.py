"""Source-scan guard: the private ``DataFrame._jdf`` handle is read only
in ``plans/inspect.py``, the one module whose job is plan inspection.
Operators that read it tie their behavior to JVM internals that change
between Spark versions and do not exist on Spark Connect."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_file_sync_spark"
ALLOWED = {PKG / "plans" / "inspect.py"}


def test_private_jdf_only_in_plan_inspection():
    offenders = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path not in ALLOWED
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "._jdf" in line
    ]
    assert not offenders, f"private ._jdf read outside plans/inspect.py: {offenders}"
