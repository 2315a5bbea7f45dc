"""Independent-definition truth tests for batch 9 (DAU/WAU stickiness,
time-to-convert, partial correlation)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_dau_stickiness_matches_pandas(spark, sf_dir):
    got = {pd.Timestamp(r["day"]): r for r in
           REGISTRY["behavior_dau_stickiness"].build(spark, sf_dir).collect()}
    e = read_pq(sf_dir, "events")
    du = (
        pd.DataFrame({"day": pd.to_datetime(e.ts).dt.normalize(), "u": e.user_id})
        .drop_duplicates()
    )
    days = sorted(du.day.unique())
    assert len(got) == len(days)
    for d in days:
        d = pd.Timestamp(d)
        dau = du[du.day == d].u.nunique()
        wau = du[(du.day >= d - pd.Timedelta(days=6)) & (du.day <= d)].u.nunique()
        r = got[d]
        assert r["dau"] == dau
        assert r["wau"] == wau
        assert r["stickiness"] == pytest.approx(dau / wau, abs=1e-6)
        assert 0 < r["stickiness"] <= 1 + 1e-9


def test_time_to_convert_matches_numpy(spark, sf_dir):
    got = REGISTRY["funnel_time_to_convert"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    ts_us = pd.to_datetime(e.ts).astype("datetime64[ns]").astype("int64") // 1000
    df = pd.DataFrame({"u": e.user_id, "t": e.event_type, "us": ts_us})
    fv = df[df.t == "view"].groupby("u").us.min()
    fp = df[df.t == "purchase"].groupby("u").us.min()
    both = pd.concat([fv.rename("v"), fp.rename("p")], axis=1).dropna()
    conv = both[both.p >= both.v]
    delta = (conv.p - conv.v).to_numpy(dtype=float)
    assert got["n_viewers"] == len(fv)
    assert got["n_converters"] == len(conv)
    assert got["conversion_rate"] == pytest.approx(len(conv) / len(fv), abs=1e-6)
    assert got["med_hours"] == pytest.approx(
        float(np.percentile(delta, 50)) / 3600e6, abs=1e-3
    )
    assert got["p90_hours"] == pytest.approx(
        float(np.percentile(delta, 90)) / 3600e6, abs=1e-3
    )
    assert got["med_hours"] <= got["p90_hours"]


def test_partial_correlation_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_partial_correlation"].build(spark, sf_dir).collect()[0]
    li = read_pq(sf_dir, "lineitem")
    x = (li.l_extendedprice * 100).round().to_numpy(dtype=float)
    y = li.l_quantity.to_numpy(dtype=float)
    z = (li.l_discount * 100).round().to_numpy(dtype=float)
    rxy = float(np.corrcoef(x, y)[0, 1])
    rxz = float(np.corrcoef(x, z)[0, 1])
    ryz = float(np.corrcoef(y, z)[0, 1])
    part = (rxy - rxz * ryz) / np.sqrt((1 - rxz**2) * (1 - ryz**2))
    assert got["n"] == len(x)
    assert got["r_price_qty"] == pytest.approx(rxy, abs=1e-6)
    assert got["r_price_disc"] == pytest.approx(rxz, abs=1e-6)
    assert got["r_qty_disc"] == pytest.approx(ryz, abs=1e-6)
    assert got["partial_r_price_qty_given_disc"] == pytest.approx(part, abs=1e-6)
