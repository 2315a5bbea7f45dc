"""Independent-definition truth tests for the effects face (Cliff's
delta, Cramer-von Mises, energy distance, Mantel-Haenszel, Friedman,
Dunn): the DuckDB oracle proves cross-engine agreement; these recompute
each statistic from brute-force / numpy definitions over the same
sf0.001 parquet, so a formula mistranslated identically into both
engines still fails here."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_cliffs_delta_matches_bruteforce(spark, sf_dir):
    got = REGISTRY["stat_cliffs_delta"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    cents = (e.value * 100).round().astype("int64")
    x = cents[e.event_type == "purchase"].to_numpy()
    y = cents[e.event_type == "view"].to_numpy()
    # brute-force pairwise sign count (sf0.001 keeps this ~40k pairs)
    gt = (x[:, None] > y[None, :]).sum()
    lt = (x[:, None] < y[None, :]).sum()
    delta = (gt - lt) / (len(x) * len(y))
    assert got["n_purchase"] == len(x)
    assert got["n_view"] == len(y)
    assert got["cliffs_delta"] == pytest.approx(delta, abs=1e-6)
    # U relation: delta = 2U/(nm) - 1
    u = (got["cliffs_delta"] + 1) * len(x) * len(y) / 2
    assert got["u_stat"] == pytest.approx(u, abs=0.01)
    thresholds = [(0.147, "negligible"), (0.33, "small"), (0.474, "medium")]
    mag = next((m for th, m in thresholds if abs(delta) < th), "large")
    assert got["magnitude"] == mag


def test_cvm_two_sample_matches_ecdf(spark, sf_dir):
    got = REGISTRY["stat_cvm_two_sample"].build(spark, sf_dir).collect()[0]
    li = read_pq(sf_dir, "lineitem")
    x = li.l_extendedprice[li.l_returnflag == "R"].to_numpy()
    y = li.l_extendedprice[li.l_returnflag == "N"].to_numpy()
    n, m = len(x), len(y)
    grid = np.unique(np.concatenate([x, y]))
    fx = np.searchsorted(np.sort(x), grid, side="right") / n
    fy = np.searchsorted(np.sort(y), grid, side="right") / m
    w = np.searchsorted(np.sort(x), grid, side="right") + np.searchsorted(
        np.sort(y), grid, side="right"
    )
    w = np.diff(np.concatenate([[0], w]))  # combined multiplicity per value
    t_stat = n * m / (n + m) ** 2 * float((w * (fx - fy) ** 2).sum())
    assert got["n_r"] == n and got["n_n"] == m
    assert got["t_stat"] == pytest.approx(t_stat, abs=1e-6)
    assert got["t_stat"] >= 0


def test_energy_distance_matches_bruteforce(spark, sf_dir):
    got = REGISTRY["stat_energy_distance"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    x = o.o_totalprice[o.o_custkey % 2 == 0].to_numpy()
    y = o.o_totalprice[o.o_custkey % 2 == 1].to_numpy()
    exy = float(np.abs(x[:, None] - y[None, :]).mean())
    exx = float(np.abs(x[:, None] - x[None, :]).mean())
    eyy = float(np.abs(y[:, None] - y[None, :]).mean())
    energy = 2 * exy - exx - eyy
    n, m = len(x), len(y)
    assert got["n_a"] == n and got["n_b"] == m
    assert got["mean_cross_absdiff"] == pytest.approx(exy, abs=0.006)
    assert got["energy_distance"] == pytest.approx(energy, abs=1e-3)
    assert got["e_stat"] == pytest.approx(n * m / (n + m) * energy, rel=1e-6)
    assert got["energy_distance"] >= 0


def test_mantel_haenszel_matches_pandas(spark, sf_dir):
    got = REGISTRY["stat_mantel_haenszel"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    nn = read_pq(sf_dir, "nation")
    rr = read_pq(sf_dir, "region")
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nn, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rr, left_on="n_regionkey", right_on="r_regionkey")
    )
    df["exp"] = (df.o_custkey % 2 == 0).astype(int)
    df["suc"] = (df.o_totalprice > 250000).astype(int)
    sad = sbc = sa = se = sv = 0.0
    for _, g in df.groupby("r_name"):
        a = int(((g["exp"] == 1) & (g["suc"] == 1)).sum())
        b = int(((g["exp"] == 1) & (g["suc"] == 0)).sum())
        cc = int(((g["exp"] == 0) & (g["suc"] == 1)).sum())
        d = int(((g["exp"] == 0) & (g["suc"] == 0)).sum())
        n = a + b + cc + d
        sad += a * d / n
        sbc += b * cc / n
        sa += a
        se += (a + b) * (a + cc) / n
        sv += (a + b) * (cc + d) * (a + cc) * (b + d) / (n * n * (n - 1))
    assert got["n_strata"] == df.r_name.nunique()
    assert got["or_mh"] == pytest.approx(sad / sbc, abs=1e-6)
    assert got["log_or_mh"] == pytest.approx(math.log(sad / sbc), abs=1e-6)
    cmh = (sa - se) ** 2 / sv
    assert got["cmh_stat"] == pytest.approx(cmh, abs=1e-4)
    # p from the ROUNDED statistic, vs the exact erfc (A&S poly err 1.5e-7)
    p_ref = math.erfc(math.sqrt(got["cmh_stat"] / 2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_friedman_matches_pandas(spark, sf_dir):
    rows = {
        r["treatment"]: r
        for r in REGISTRY["stat_friedman_test"].build(spark, sf_dir).collect()
    }
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    cell = (
        pd.DataFrame(
            {
                "blk": pd.to_datetime(o.o_orderdate).dt.to_period("M"),
                "trt": o.o_orderpriority,
                "c": cents,
            }
        )
        .groupby(["blk", "trt"])
        .c.sum()
        .reset_index()
    )
    keep = cell.groupby("blk").trt.transform("size") == 5
    cell = cell[keep]
    cell["rk"] = cell.groupby("blk").c.rank(method="average")
    b = cell.blk.nunique()
    k = 5
    rsum = cell.groupby("trt").rk.sum()
    aa = float((cell.rk**2).sum())
    cc = b * k * (k + 1) ** 2 / 4
    q = (k - 1) * float(((rsum - b * (k + 1) / 2) ** 2).sum()) / (aa - cc)
    for trt, r in rows.items():
        assert r["n_blocks"] == b
        assert r["rank_sum"] == pytest.approx(rsum[trt], abs=0.01)
        assert r["mean_rank"] == pytest.approx(rsum[trt] / b, abs=1e-4)
        assert r["q_stat"] == pytest.approx(q, abs=1e-3)
        # df=4 closed form on the rounded Q
        p = math.exp(-r["q_stat"] / 2) * (1 + r["q_stat"] / 2)
        assert r["p_value"] == pytest.approx(p, abs=1e-6)
    # mean ranks average to (k+1)/2 across treatments
    assert sum(r["mean_rank"] for r in rows.values()) / 5 == pytest.approx(3, abs=1e-3)


def test_dunn_posthoc_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_dunn_posthoc"].build(spark, sf_dir).collect()
    assert len(got) == 10  # C(5,2) pairs
    o = read_pq(sf_dir, "orders")
    v = o.o_totalprice.to_numpy()
    grp = o.o_orderpriority.to_numpy()
    ranks = pd.Series(v).rank(method="average").to_numpy()
    n_tot = len(v)
    _, counts = np.unique(v, return_counts=True)
    tie_sum = float((counts**3 - counts).sum())
    sigma2 = n_tot * (n_tot + 1) / 12 - tie_sum / (12 * (n_tot - 1))
    for r in got:
        ia, ib = grp == r["grp_a"], grp == r["grp_b"]
        na, nb = int(ia.sum()), int(ib.sum())
        z = (ranks[ia].mean() - ranks[ib].mean()) / math.sqrt(
            sigma2 * (1 / na + 1 / nb)
        )
        assert r["z_stat"] == pytest.approx(z, abs=1e-3)
        p_ref = math.erfc(abs(r["z_stat"]) / math.sqrt(2))
        assert r["p_value"] == pytest.approx(p_ref, abs=5e-6)
        assert r["p_bonferroni"] == pytest.approx(min(1.0, p_ref * 10), abs=5e-5)
        assert r["grp_a"] < r["grp_b"]


def _write_orders(spark, d, rows):
    import os

    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).coalesce(1).write.parquet(os.path.join(d, "orders.parquet"))


def test_mood_median_missing_priority_gates_df4_tail(spark, tmp_path):
    """A tier whose orders carry only 3 of the 5 priorities folds k=3
    groups, where df = k-1 = 2 != 4 — the df=4 closed form must be
    NULL-gated on n_groups = 5 (Bowker/Ljung-Box convention); the
    chi-square statistic itself still folds the observed groups."""
    d = str(tmp_path)
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    _write_orders(
        spark,
        d,
        [
            (i, 1, "O", 100.0 + 13.0 * (i % 7), "1995-01-01", pris[i % 3])
            for i in range(30)
        ],
    )
    got = REGISTRY["stat_mood_median_test"].build(spark, d).collect()[0]
    assert got["n_groups"] == 3
    assert got["chi2_stat"] is not None
    assert got["p_value"] is None


def test_g_test_missing_region_gates_df4_tail(spark, tmp_path):
    """Customers concentrated in 2 of the 5 regions shrink the
    contingency table to 2x2 (df=1): the df=4 tail must be NULL while
    n_regions/n_arms report the observed margins and G still folds."""
    import os

    d = str(tmp_path)
    # region/nation slice: 2 regions, one nation each
    spark.createDataFrame(
        [(0, "AMERICA"), (1, "ASIA")], "r_regionkey bigint, r_name string"
    ).coalesce(1).write.parquet(os.path.join(d, "region.parquet"))
    spark.createDataFrame(
        [(0, "BRAZIL", 0), (1, "JAPAN", 1)],
        "n_nationkey bigint, n_name string, n_regionkey bigint",
    ).coalesce(1).write.parquet(os.path.join(d, "nation.parquet"))
    spark.createDataFrame(
        [(c, f"c{c}", c % 2) for c in range(8)],
        "c_custkey bigint, c_name string, c_nationkey bigint",
    ).coalesce(1).write.parquet(os.path.join(d, "customer.parquet"))
    _write_orders(
        spark,
        d,
        [
            (i, i % 8, "O", 50.0 + i, "1995-01-01", "1-URGENT")
            for i in range(40)
        ],
    )
    got = REGISTRY["stat_g_test_independence"].build(spark, d).collect()[0]
    assert (got["n_regions"], got["n_arms"]) == (2, 2)
    assert got["g_stat"] is not None
    assert got["p_value"] is None
