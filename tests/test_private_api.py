"""Source-scan guard for private PySpark handles.

- ``DataFrame._jdf`` is read nowhere in the package. The plan-shape
  helpers that read it live in ``tests/plan_util.py``.
- ``SparkContext._jsc`` is read nowhere in the package either. The
  iterative graph operators (``cluster.py``, ``graph.py``) must not
  free their checkpoints through it.

Operators that read these handles tie their behavior to JVM internals
that change between Spark versions and do not exist on Spark Connect."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "etl_file_sync_spark"


def _offenders(handle: str) -> list[str]:
    return [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if handle in line
    ]


def test_no_private_jdf_in_package():
    offenders = _offenders("._jdf")
    assert not offenders, f"private ._jdf read in the package: {offenders}"


def test_no_private_jsc_in_package():
    offenders = _offenders("._jsc")
    assert not offenders, f"private ._jsc read in the package: {offenders}"
