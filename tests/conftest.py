"""Shared fixtures: one local SparkSession per test session, DuckDB oracle
connection with the testdata views pre-registered (mirrors the driver's
harness), one synthesis per poked tier per session, and the
result-comparison helpers."""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_file_sync_spark.catalog import TABLES  # noqa: E402
from etl_file_sync_spark.session import get_spark  # noqa: E402
from tools.tiers import TIERS, check, connect, synthesize  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("etl-file-sync-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tier_dir(tmp_path_factory):
    """``tier_dir(name, src=None)``: the directory of tier ``name``
    (tools/tiers.py), synthesized and sanity-checked once per session."""
    made: dict[tuple[str, str | None], str] = {}

    def get(name: str, src: str | None = None) -> str:
        if (name, src) not in made:
            d = synthesize(name, str(tmp_path_factory.mktemp(name)), src)
            failed = check(name, d)
            assert not failed, failed
            made[name, src] = d
        return made[name, src]

    return get


@pytest.fixture(scope="session")
def tier_duck(tier_dir):
    """``tier_duck(name)``: a DuckDB connection with the tier's oracle views."""
    cons: dict[str, duckdb.DuckDBPyConnection] = {}

    def get(name: str) -> duckdb.DuckDBPyConnection:
        if name not in cons:
            cons[name] = connect(tier_dir(name), TIERS[name].finite_oracle)
        return cons[name]

    yield get
    for con in cons.values():
        con.close()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def events_pd(sf_dir):
    """The events table as pandas, read once. Tests must not mutate it:
    take a ``.copy()`` before adding columns."""
    return pd.read_parquet(f"{sf_dir}/events.parquet")


def read_pq(sf_dir: str, name: str) -> pd.DataFrame:
    """Table ``name`` of ``sf_dir`` as pandas."""
    return pd.read_parquet(f"{sf_dir}/{name}.parquet")


def query_pd(spark, sf_dir: str, name: str) -> pd.DataFrame:
    """Registry query ``name`` built and collected to pandas; asserts it
    returned at least one row."""
    from etl_file_sync_spark.queries import REGISTRY

    pdf = REGISTRY[name].build(spark, sf_dir).toPandas()
    assert len(pdf) >= 1
    return pdf


def assert_close_dp(got, ref, dp, msg=""):
    """``got`` equals ``ref`` up to rounding at ``dp`` decimal places
    (plus a relative float slack)."""
    assert abs(float(got) - float(ref)) <= 0.51 * 10**-dp + 5e-9 * max(
        1.0, abs(float(ref))
    ), (msg, got, ref)


def assert_same_as(old, new) -> None:
    """DataFrame ``new`` holds the same rows as ``old``: the same columns
    in the same order and the same collected rows once both are sorted
    (the collect-both-and-compare pattern of SNIPPETS [1]). For proving a
    rewrite changes no output."""
    assert old.columns == new.columns, f"columns differ: {old.columns} vs {new.columns}"

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=lambda t: [(v is None, str(v)) for v in t])

    a, b = rows(old), rows(new)
    assert len(a) == len(b), f"row counts differ: {len(a)} vs {len(b)}"
    assert a == b, next(f"first differing row {i}: {x} vs {y}" for i, (x, y) in enumerate(zip(a, b)) if x != y)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame the way the driver compares: columns
    sorted by name, rows sorted by all columns, floats rounded."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: float(v) if isinstance(v, (int,)) and abs(v) > 2**53 else v)
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def _kind(series: pd.Series) -> str:
    """Coarse dtype kind of a result column, as the driver's value-hash
    would see it after .toPandas()/.df(). int-vs-float divergence here is
    exactly the DuckDB-HUGEINT class that broke sql_recursive_hierarchy /
    sql_lateral_topn in round 2 even though values were equal."""
    import datetime
    import decimal

    import numpy as np

    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "timestamp"
    v = next(
        (x for x in series if x is not None and not (isinstance(x, float) and math.isnan(x))),
        None,
    )
    if v is None:
        return "empty"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return "float"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, np.ndarray)):
        return "array"
    if isinstance(v, dict):
        return "map"
    return "other"


def assert_frames_match(spark_df, duck_rel, float_tol: float = 1e-9) -> None:
    """Compare a Spark DataFrame against a DuckDB relation result."""
    sp = canon(spark_df.toPandas())
    dk = canon(duck_rel.df())
    assert list(sp.columns) == list(dk.columns), f"columns differ: {list(sp.columns)} vs {list(dk.columns)}"
    for c in sp.columns:
        ka, kb = _kind(sp[c]), _kind(dk[c])
        if "empty" in (ka, kb):
            continue
        assert ka == kb, (
            f"dtype-kind mismatch on col {c}: spark={ka} vs oracle={kb} "
            f"(spark dtype {sp[c].dtype}, oracle dtype {dk[c].dtype}) — "
            "this diverges the driver's value hash; cast in the shared SQL"
        )
    assert len(sp) == len(dk), f"row counts differ: {len(sp)} vs {len(dk)}"
    for c in sp.columns:
        a, b = sp[c], dk[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce")
            b = pd.to_numeric(b, errors="coerce")
            for i, (x, y) in enumerate(zip(a, b)):
                both_nan = (x is None or (isinstance(x, float) and math.isnan(x))) and (
                    y is None or (isinstance(y, float) and math.isnan(y))
                )
                if both_nan:
                    continue
                assert x == pytest.approx(y, abs=float_tol, rel=1e-9), f"col {c} row {i}: {x} != {y}"
        else:
            a_n = a.where(pd.notna(a), None).tolist()
            b_n = b.where(pd.notna(b), None).tolist()
            assert a_n == b_n, f"col {c} differs; first mismatch: " + next(
                (f"row {i}: {x!r} != {y!r}" for i, (x, y) in enumerate(zip(a_n, b_n)) if x != y), ""
            )


def assert_frames_match_relaxed(spark_df, duck_rel, float_tol: float = 1e-9) -> None:
    """assert_frames_match for the degenerate, non-finite and element-NULL
    tiers, with ONE relaxation: a column entirely NULL on BOTH sides
    matches regardless of pandas dtype (an all-NULL BIGINT column
    round-trips as float64 NaN through .toPandas()/.df(), a
    representation artifact, not an engine difference). A column with
    values on either side is still compared strictly."""
    sp = canon(spark_df.toPandas())
    dk = canon(duck_rel.df())
    assert list(sp.columns) == list(dk.columns), (
        f"columns differ: {list(sp.columns)} vs {list(dk.columns)}"
    )
    assert len(sp) == len(dk), f"row counts differ: {len(sp)} vs {len(dk)}"
    for c in sp.columns:
        a, b = sp[c], dk[c]
        if bool(a.isna().all()) and bool(b.isna().all()):
            continue
        ka, kb = _kind(a), _kind(b)
        if "empty" not in (ka, kb):
            assert ka == kb, f"dtype-kind mismatch on col {c}: {ka} vs {kb}"
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            for i, (x, y) in enumerate(zip(a, b)):
                x_null = x is None or (isinstance(x, float) and math.isnan(x))
                y_null = y is None or (isinstance(y, float) and math.isnan(y))
                if x_null and y_null:
                    continue
                assert not (x_null or y_null), f"col {c} row {i}: {x!r} != {y!r}"
                assert x == pytest.approx(y, abs=float_tol, rel=1e-9), (
                    f"col {c} row {i}: {x} != {y}"
                )
        else:
            a_n = a.where(pd.notna(a), None).tolist()
            b_n = b.where(pd.notna(b), None).tolist()
            assert a_n == b_n, f"col {c} differs: {a_n[:5]} vs {b_n[:5]}"


# ---- test-priority cascade (reference parity) -------------------------
# Mirrors /root/reference/tests/conftest.py:183-213 + pytest.ini:7-14:
# e2e first, then integration, then unit — so a full-suite run surfaces
# whole-system breakage fastest. Explicit markers win; unmarked tests
# are classified by shape (driver-contract / pipeline modules are the
# e2e tier; anything touching the Spark or DuckDB fixtures is
# integration; pure-Python truth tests are unit).
MARKER_PRIORITY = {"e2e": 1, "integration": 2, "unit": 3}
DEFAULT_E2E_MODULES = {
    "test_pipeline_e2e",
    "test_cli",
    "test_kafka_live",
    "test_kafka_mode",
    "test_queries_oracle",  # the driver's own contract, engine vs oracle
}


def _priority(item) -> int:
    for name, pri in MARKER_PRIORITY.items():
        if name in item.keywords:
            return pri
    module = item.module.__name__.rsplit(".", 1)[-1] if item.module else ""
    if module in DEFAULT_E2E_MODULES:
        return MARKER_PRIORITY["e2e"]
    fixtures = set(getattr(item, "fixturenames", ()))
    if fixtures & {"spark", "duck"}:
        return MARKER_PRIORITY["integration"]
    return MARKER_PRIORITY["unit"]


def pytest_collection_modifyitems(session, config, items):
    items.sort(key=_priority)  # stable: preserves order within a tier
