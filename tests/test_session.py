"""Session lifetime: the package zip that ``prep`` ships to executors
is staged where Spark deletes it when the context stops."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

pytestmark = pytest.mark.integration

ROOT = Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent(
    """
    import glob, os, sys
    sys.path.insert(0, sys.argv[1])
    from etl_file_sync_spark.session import get_spark, prep

    def staged():
        return len(glob.glob(os.path.join(sys.argv[2], "**", "etl_pkg_*"), recursive=True))

    spark = prep(get_spark("ship-check", cpus=1))

    def imports_package(it):
        import etl_file_sync_spark.session  # noqa: F401  (resolves through the shipped zip)

        yield from it

    rows = spark.range(3).mapInPandas(imports_package, "id long").count()
    print("rows", rows, "staged", staged())
    spark.stop()
    print("after_stop", staged())
    """
)


def test_shipped_package_stage_is_removed_at_stop(tmp_path):
    env = {
        **os.environ,
        "TMPDIR": str(tmp_path),
        "SPARK_LOCAL_DIRS": str(tmp_path / "local"),
        "PYTHONPATH": "",
    }
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(ROOT), str(tmp_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 3 staged 1" in out.stdout, out.stdout
    assert "after_stop 0" in out.stdout, out.stdout
    assert not list(tmp_path.rglob("etl_pkg_*"))
