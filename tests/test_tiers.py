"""One sweep over every (tier, query) of the poked tiers in tools/tiers.py.

Each tier re-runs registry queries against the DuckDB oracle on a
synthesized dataset that varies one thing the organic tiers hold
fixed (ties, skew, id space, text, magnitudes, layout, ...; the
TIERS comments say what each one hunts). The spec check is fast and
runs in the default selection; the sweeps are `slow`:
``pytest tests/test_tiers.py -m slow -k <tier>``.
"""

from __future__ import annotations

import math
import os

import pytest

from etl_file_sync_spark.catalog import TABLES
from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import assert_frames_match, assert_frames_match_relaxed
from tools.tiers import TIERS, check, synthesize

PARITY = [(t, q) for t, spec in TIERS.items() for q in spec.queries]
ROWS_ONLY = [(t, q) for t, spec in TIERS.items() for q in spec.rows_only]
SURVIVES = [(t, q) for t, spec in TIERS.items() if spec.survives for q in sorted(REGISTRY)]


@pytest.mark.parametrize("tier", sorted(TIERS))
def test_tier_spec(tier, tmp_path):
    d = synthesize(tier, str(tmp_path))
    assert sorted(os.listdir(d)) == sorted(f"{t}.parquet" for t in TABLES)
    assert not check(tier, d)


@pytest.mark.slow
@pytest.mark.parametrize("tier,name", PARITY)
def test_oracle_parity(spark, tier_dir, tier_duck, tier, name):
    spec = TIERS[tier]
    if name in spec.known_divergent:
        pytest.skip(spec.known_divergent[name])
    q = REGISTRY[name]
    match = assert_frames_match_relaxed if spec.relaxed else assert_frames_match
    match(q.build(spark, tier_dir(tier)), tier_duck(tier).sql(q.oracle))
    spark.catalog.clearCache()


@pytest.mark.slow
@pytest.mark.parametrize("tier,name", ROWS_ONLY)
def test_rows_only(spark, tier_dir, tier, name):
    out = REGISTRY[name].build(spark, tier_dir(tier)).toPandas()
    assert not out.isna().any().any(), f"{name} leaked NULLs: {out.head()}"
    spark.catalog.clearCache()


# column names each query produces on real data (computed once)
_expected_cols: dict[str, list[str]] = {}


def _bad_float(v) -> bool:
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return True
    if isinstance(v, (list, tuple)):
        return any(_bad_float(x) for x in v)
    if isinstance(v, dict):
        return any(_bad_float(x) for x in v.values())
    return False


@pytest.mark.slow
@pytest.mark.parametrize("tier,name", SURVIVES)
def test_survives_degenerate(spark, sf_dir, tier_dir, tier, name):
    q = REGISTRY[name]
    df = q.build(spark, tier_dir(tier))
    rows = df.collect()
    if name not in _expected_cols:
        _expected_cols[name] = q.build(spark, sf_dir).columns
    assert df.columns == _expected_cols[name], (
        f"{name} changes shape on {tier}: {df.columns} != {_expected_cols[name]}"
    )
    nan_cells = [
        (i, k, v)
        for i, r in enumerate(rows)
        for k, v in r.asDict(recursive=True).items()
        if _bad_float(v)
    ]
    assert not nan_cells, f"{name} on {tier} emits NaN/Inf: {nan_cells[:5]}"
    spark.catalog.clearCache()
