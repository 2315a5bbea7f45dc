"""Independent-definition truth tests for batch 12 (Pettitt
changepoint, log2 histogram)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_pettitt_matches_numpy(spark, sf_dir):
    got = REGISTRY["ts_pettitt_changepoint"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.normalize(), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
    )
    y = daily.to_numpy(dtype=float)
    n = len(y)
    rk = pd.Series(y).rank(method="average").to_numpy()
    s = np.cumsum(rk)
    t = np.arange(1, n + 1)
    u = 2 * s - t * (n + 1)
    interior = np.abs(u[: n - 1])
    k = float(interior.max())
    t_star = int(np.argmax(interior))  # earliest argmax, 0-based
    p = min(1.0, 2 * math.exp(-6 * k * k / (n**3 + n**2)))
    assert got["n_days"] == n
    assert got["k_stat"] == pytest.approx(k, abs=0.01)
    assert pd.Timestamp(got["change_day"]) == daily.index[t_star]
    assert got["p_value"] == pytest.approx(p, abs=1e-6)
    before = y[: t_star + 1]
    after = y[t_star + 1 :]
    assert got["mean_before_cents"] == pytest.approx(before.mean(), abs=1e-3)
    assert got["mean_after_cents"] == pytest.approx(after.mean(), abs=1e-3)


def test_log2_histogram_matches_python(spark, sf_dir):
    got = REGISTRY["agg_log2_histogram"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    p = e[(e.event_type == "purchase") & (e.value > 0)]
    c = (p.value * 100).round().astype("int64")
    buckets = c.apply(lambda x: int(x).bit_length())
    g = pd.DataFrame({"b": buckets, "c": c}).groupby("b").agg(
        n=("c", "size"), mn=("c", "min"), mx=("c", "max")
    )
    nt = int(g.n.sum())
    cum = 0
    assert len(got) == len(g)
    for r, (b, row) in zip(got, g.sort_index().iterrows()):
        cum += int(row.n)
        assert r["log2_bucket"] == b
        assert r["n"] == row.n
        assert (r["min_cents"], r["max_cents"]) == (row.mn, row.mx)
        # bit-length bucket bounds: 2^(b-1) <= v < 2^b
        assert 2 ** (b - 1) <= row.mn and row.mx < 2**b
        assert r["share"] == pytest.approx(row.n / nt, abs=1e-6)
        assert r["cum_share"] == pytest.approx(cum / nt, abs=1e-6)
    assert got[-1]["cum_share"] == pytest.approx(1.0, abs=1e-6)
