"""Independent-definition truth tests for the inference face
(stat_wasserstein_1d, eval_cohens_kappa, stat_eb_shrinkage,
stat_msprt_sequential): the DuckDB oracle proves cross-engine
agreement; these recompute each statistic from an INDEPENDENT numpy /
pandas definition over the same sf0.001 parquet, so a formula
mistranslated identically into both engines still fails here."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_wasserstein_matches_numpy_quantile_definition(spark, sf_dir):
    got = REGISTRY["stat_wasserstein_1d"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    a = np.sort(o.loc[o.o_custkey % 2 == 0, "o_totalprice"].to_numpy())
    b = np.sort(o.loc[o.o_custkey % 2 == 1, "o_totalprice"].to_numpy())
    # independent definition: W1 = integral over u in (0,1) of
    # |Qa(u) - Qb(u)| du, evaluated on the merged breakpoint grid
    grid = np.unique(np.concatenate([np.arange(1, len(a) + 1) / len(a),
                                     np.arange(1, len(b) + 1) / len(b)]))
    lo = np.concatenate([[0.0], grid[:-1]])
    # +1e-9 guards the floor against k/n breakpoints landing at
    # 224.99999... in float; the interval is open at lo so the index is
    # exactly floor(lo*n)
    qa = a[np.minimum((lo * len(a) + 1e-9).astype(int), len(a) - 1)]
    qb = b[np.minimum((lo * len(b) + 1e-9).astype(int), len(b) - 1)]
    w1 = float(np.sum((grid - lo) * np.abs(qa - qb)))
    assert got["w1_distance"] == pytest.approx(w1, rel=1e-6)
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    v = o["o_totalprice"]
    assert got["w1_normalized"] == pytest.approx(w1 / (v.max() - v.min()), rel=1e-5)


def test_cohens_kappa_matches_pandas_confusion(spark, sf_dir):
    got = REGISTRY["eval_cohens_kappa"].build(spark, sf_dir).collect()[0]
    d = read_pq(sf_dir, "documents")

    def band(x: int) -> str:
        return "short" if x < 250 else ("mid" if x < 360 else "long")

    def jitter(text: str) -> int:
        return int(hashlib.md5(text.encode()).hexdigest()[:4], 16) % 101 - 50

    ra = d.n_chars.map(band)
    rb = (d.n_chars + d.text.map(jitter)).map(band)
    n = len(d)
    po = float((ra == rb).mean())
    pe = sum(
        (ra == k).sum() * (rb == k).sum() for k in ("short", "mid", "long")
    ) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert got["n_items"] == n
    assert got["p_observed"] == pytest.approx(po, abs=1e-6)
    assert got["p_expected"] == pytest.approx(pe, abs=1e-6)
    assert got["kappa"] == pytest.approx(kappa, abs=1e-5)
    # the jitter must actually disagree somewhere, else kappa is trivially 1
    assert po < 1.0


def test_eb_shrinkage_matches_numpy_moments(spark, sf_dir):
    rows = REGISTRY["stat_eb_shrinkage"].build(spark, sf_dir).collect()
    li = read_pq(sf_dir, "lineitem")
    o = read_pq(sf_dir, "orders")
    j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
    g = j.groupby("o_custkey").agg(
        n=("l_returnflag", "size"), x=("l_returnflag", lambda s: (s == "R").sum())
    )
    rates = (g.x / g.n).to_numpy()
    m, v = rates.mean(), rates.var(ddof=1)
    s = m * (1 - m) / v - 1
    alpha, beta = m * s, (1 - m) * s
    assert alpha > 0 and beta > 0
    by_key = {r["custkey"]: r for r in rows}
    want = g[g.index % 97 == 0]
    assert set(by_key) == set(want.index)
    for ck, row in want.iterrows():
        got = by_key[ck]
        assert got["n"] == row.n and got["x"] == row.x
        assert got["shrunk_rate"] == pytest.approx(
            (row.x + alpha) / (row.n + alpha + beta), abs=1e-5
        )
        # shrinkage moves every estimate strictly toward the prior mean
        raw = row.x / row.n
        assert abs(got["shrunk_rate"] - m) <= abs(raw - m) + 1e-9


def test_msprt_matches_numpy_and_p_is_always_valid_shape(spark, sf_dir):
    rows = REGISTRY["stat_msprt_sequential"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    e["day"] = e.ts.dt.floor("d")
    e["variant"] = np.where(e.user_id % 2 == 0, "A", "B")
    e["success"] = (e.event_type == "purchase").astype(int)
    d = (
        e.groupby("day")
        .apply(
            lambda g: pd.Series(
                {
                    "na": (g.variant == "A").sum(),
                    "xa": g.loc[g.variant == "A", "success"].sum(),
                    "nb": (g.variant == "B").sum(),
                    "xb": g.loc[g.variant == "B", "success"].sum(),
                }
            ),
            include_groups=False,
        )
        .sort_index()
        .cumsum()
    )
    tau2 = 1e-4
    lam_max, prev_p = 0.0, 1.0 + 1e-12
    assert len(rows) == len(d)
    for row, (day, c) in zip(rows, d.iterrows()):
        delta = c.xa / c.na - c.xb / c.nb
        pbar = (c.xa + c.xb) / (c.na + c.nb)
        vn = pbar * (1 - pbar) * (1 / c.na + 1 / c.nb)
        lam = math.sqrt(vn / (vn + tau2)) * math.exp(
            delta * delta * tau2 / (2 * vn * (vn + tau2))
        )
        lam_max = max(lam_max, lam)
        p = min(1.0, 1.0 / lam_max)
        assert row["day"] == day
        assert row["n_a"] == c.na and row["n_b"] == c.nb
        assert row["delta"] == pytest.approx(delta, abs=1e-6)
        assert row["lambda_n"] == pytest.approx(lam, abs=1e-6)
        assert row["p_always_valid"] == pytest.approx(p, abs=1e-6)
        # always-valid p-values can only tighten as evidence accrues
        assert row["p_always_valid"] <= prev_p + 1e-9
        prev_p = row["p_always_valid"]


def test_ipw_ate_matches_pandas_definition(spark, sf_dir):
    got = REGISTRY["stat_ipw_ate"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    t_flag = (e.user_id % 2 == 0).astype(int)
    phat = t_flag.groupby(e.event_type).transform("mean")
    wy1 = t_flag * e.value / phat
    wy0 = (1 - t_flag) * e.value / (1 - phat)
    w1 = t_flag / phat
    w0 = (1 - t_flag) / (1 - phat)
    n = len(e)
    assert got["n"] == n
    assert got["ate_ipw"] == pytest.approx(wy1.sum() / n - wy0.sum() / n, abs=1e-5)
    assert got["ate_hajek"] == pytest.approx(
        wy1.sum() / w1.sum() - wy0.sum() / w0.sum(), abs=1e-5
    )
    naive = e.value[t_flag == 1].mean() - e.value[t_flag == 0].mean()
    assert got["naive_diff"] == pytest.approx(naive, abs=1e-5)
