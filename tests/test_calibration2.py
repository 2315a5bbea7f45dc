"""Monte-Carlo calibration, batch 2 (see tests/test_calibration.py for
the method): Mann-Whitney U, Kruskal-Wallis H, two-sample KS, the
Lo-MacKinlay variance ratio, Pettitt's changepoint, the two-proportion
pooled z, the logrank test, Spearman's rho, Brown-Forsythe, and the
two-sample Cramer-von Mises T. Statistics without a published p column
are calibrated against their classical critical values (chi-square /
Kolmogorov / CvM limiting distributions)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import query_pd
from tests.test_calibration import (
    ALPHA,
    chi2_sf_even_df,
    norm_sf_two_sided,
    rate_band,
)

Z_SEED = 31337


# ================================================================ stats


def midrank(v: np.ndarray) -> np.ndarray:
    return pd.Series(v).rank(method="average").to_numpy()


def mannwhitney(va: np.ndarray, vb: np.ndarray) -> dict:
    """Mann-Whitney U via pooled midranks; normal z WITHOUT the tie
    correction in the variance (the query's convention — exact for the
    continuous prices it ranks)."""
    n, m = len(va), len(vb)
    rk = midrank(np.concatenate([va, vb]))
    ra = float(np.sum(rk[:n]))
    ntot = n + m
    z_a = (ra - n * (n + 1) / 2.0 - n * m / 2.0) / math.sqrt(n * m * (ntot + 1) / 12.0)
    return {"n_a": n, "rank_sum_a": ra, "u_a": ra - n * (n + 1) / 2.0, "z_a": z_a}


def kruskal_wallis(groups: list[np.ndarray]) -> dict:
    """Kruskal-Wallis H plus the tie-adjusted H (divide by
    1 - sum(t^3 - t)/(N^3 - N))."""
    allv = np.concatenate(groups)
    ntot = len(allv)
    rk = midrank(allv)
    h, i = -3.0 * (ntot + 1), 0
    s2 = 0.0
    for g in groups:
        r = float(np.sum(rk[i : i + len(g)]))
        s2 += r * r / len(g)
        i += len(g)
    h += 12.0 / (ntot * (ntot + 1.0)) * s2
    _, counts = np.unique(allv, return_counts=True)
    tsum = float(np.sum(counts.astype(float) ** 3 - counts))
    h_adj = h / (1 - tsum / (float(ntot) ** 3 - ntot))
    return {"n_total": ntot, "n_groups": len(groups), "h_stat": h, "h_tie_adj": h_adj}


def ks_two_sample(va: np.ndarray, vb: np.ndarray) -> dict:
    """Two-sample KS D via exact integer cross-multiplied ECDF deviation."""
    na, nb = len(va), len(vb)
    v = np.unique(np.concatenate([va, vb]))
    ca = np.searchsorted(np.sort(va), v, side="right")
    cb = np.searchsorted(np.sort(vb), v, side="right")
    dint = np.abs(ca.astype(object) * nb - cb.astype(object) * na)
    i = int(np.argmax(dint))
    return {
        "n_a": na,
        "n_b": nb,
        "ks_d": float(dint[i]) / (na * nb),
        "at_value": float(v[np.flatnonzero(dint == dint[i]).min()]),
    }


def kolmogorov_crit(na: int, nb: int, alpha: float = 0.05) -> float:
    return 1.3581 * math.sqrt((na + nb) / (na * nb))


def variance_ratio(cents: np.ndarray, q: int = 7) -> dict:
    """Lo-MacKinlay VR(q) on overlapping q-period increments with plain
    sample variances (the query's convention) and the homoskedastic
    asymptotic z = (VR-1)/sqrt(2(2q-1)(q-1)/(3 q n))."""
    d1 = np.diff(cents).astype(float)
    dq = (cents[q:] - cents[:-q]).astype(float)
    n1 = len(d1)
    vr = float(np.var(dq, ddof=1)) / (q * float(np.var(d1, ddof=1)))
    z = (vr - 1) / math.sqrt(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * n1))
    return {"n_diffs": n1, "variance_ratio": vr, "z_stat": z, "p_value": norm_sf_two_sided(z)}


def pettitt(x: np.ndarray) -> dict:
    """Pettitt's rank-based changepoint: U_t = 2 * cumsum(ranks) - t(n+1),
    K = max |U_t| (t < n), p ~= 2 exp(-6 K^2 / (n^3 + n^2))."""
    n = len(x)
    rk = midrank(x)
    t = np.arange(1, n + 1)
    u = 2.0 * np.cumsum(rk) - t * (n + 1)
    k = float(np.max(np.abs(u[:-1])))
    cp = int(np.flatnonzero(np.abs(u[:-1]) == k).min())  # 0-based index of change day
    p = min(2.0 * math.exp(-6.0 * k * k / (n**3 + n**2)), 1.0)
    return {"n_days": n, "k_stat": k, "cp_index": cp, "p_value": p}


def two_prop_z(n_a: int, s_a: int, n_b: int, s_b: int) -> dict:
    p = (s_a + s_b) / (n_a + n_b)
    z = (s_a / n_a - s_b / n_b) / math.sqrt(p * (1 - p) * (1.0 / n_a + 1.0 / n_b))
    return {"z": z, "p_value": norm_sf_two_sided(z)}


def logrank(dur_a, obs_a, dur_b, obs_b) -> dict:
    """Discrete-time logrank: hypergeometric mean/variance per distinct
    event time (Mantel 1966)."""
    times = np.unique(np.concatenate([dur_a[obs_a == 1], dur_b[obs_b == 1]]))
    o, e, v = 0.0, 0.0, 0.0
    for t in times:
        na = int(np.sum(dur_a >= t))
        nb = int(np.sum(dur_b >= t))
        da = int(np.sum((dur_a == t) & (obs_a == 1)))
        db = int(np.sum((dur_b == t) & (obs_b == 1)))
        d, n = da + db, na + nb
        o += da
        e += d * na / n
        if n > 1:
            v += na * nb * d * (n - d) / (n * n * (n - 1.0))
    z = (o - e) / math.sqrt(v)
    return {"o_a": o, "e_a": e, "var_lr": v, "z": z, "chi2": z * z}


def spearman_rho(x: np.ndarray, y: np.ndarray) -> dict:
    rx, ry = midrank(x), midrank(y)
    mx, my = float(np.mean(rx)), float(np.mean(ry))
    sxy = float(np.sum((rx - mx) * (ry - my)))
    sxx = float(np.sum((rx - mx) ** 2))
    syy = float(np.sum((ry - my) ** 2))
    return {"n": len(x), "spearman_rho": sxy / math.sqrt(sxx * syy)}


def brown_forsythe(groups: list[np.ndarray], med_fn=None) -> dict:
    """Brown-Forsythe: one-way ANOVA F on z = |x - group median|."""
    if med_fn is None:
        med_fn = lambda g: float(np.median(g))  # noqa: E731
    z = [np.abs(g - med_fn(g)) for g in groups]
    k = len(z)
    n = np.array([len(g) for g in z], dtype=float)
    mean = np.array([float(np.mean(g)) for g in z])
    grand = float(np.sum(n * mean)) / float(n.sum())
    between = float(np.sum(n * (mean - grand) ** 2))
    within = float(np.sum([np.sum((g - m) ** 2) for g, m in zip(z, mean)]))
    f = (float(n.sum()) - k) / (k - 1) * between / within
    return {"k_groups": k, "n_total": int(n.sum()), "f_stat": f}


def cvm_two_sample(va: np.ndarray, vb: np.ndarray) -> dict:
    """Two-sample Cramer-von Mises T (Anderson 1962): ECDF-squared
    deviation weighted by pooled multiplicity."""
    na, nb = len(va), len(vb)
    v = np.unique(np.concatenate([va, vb]))
    ca = np.searchsorted(np.sort(va), v, side="right")
    cb = np.searchsorted(np.sort(vb), v, side="right")
    w = np.diff(np.concatenate([[0], np.searchsorted(np.sort(np.concatenate([va, vb])), v, side="right")]))
    s2 = float(np.sum(w * (ca / na - cb / nb) ** 2))
    return {"n_a": na, "n_b": nb, "t_stat": na * nb / float(na + nb) ** 2 * s2}


# ===================================================== null calibration


class TestCalibration2:
    def test_mannwhitney(self):
        rng = np.random.default_rng(Z_SEED)
        rej = []
        for _ in range(2000):
            r = mannwhitney(rng.random(60), rng.random(60))
            rej.append(norm_sf_two_sided(r["z_a"]) < ALPHA)
        rate_band(np.array(rej))

    def test_kruskal_wallis(self):
        rng = np.random.default_rng(Z_SEED + 1)
        rej = []
        for _ in range(2000):
            h = kruskal_wallis([rng.random(50) for _ in range(5)])["h_tie_adj"]
            rej.append(chi2_sf_even_df(h, 4) < ALPHA)
        rate_band(np.array(rej))

    def test_ks_two_sample(self):
        rng = np.random.default_rng(Z_SEED + 2)
        crit = kolmogorov_crit(150, 150)
        rej = [
            ks_two_sample(rng.random(150), rng.random(150))["ks_d"] > crit
            for _ in range(2000)
        ]
        # asymptotic Kolmogorov critical value is mildly conservative at
        # finite n for the discrete D grid
        rate_band(np.array(rej), lo=0.02, hi=0.07)

    def test_variance_ratio(self):
        rng = np.random.default_rng(Z_SEED + 3)
        rej = []
        for _ in range(2000):
            walk = np.cumsum(rng.normal(size=301))  # random-walk null
            rej.append(variance_ratio(walk, q=7)["p_value"] < ALPHA)
        rate_band(np.array(rej), lo=0.02, hi=0.09)

    def test_pettitt(self):
        rng = np.random.default_rng(Z_SEED + 4)
        rej = [pettitt(rng.random(100))["p_value"] < ALPHA for _ in range(2000)]
        # Pettitt's closed-form tail is known conservative
        rate_band(np.array(rej), lo=0.01, hi=0.06)

    def test_two_prop_z(self):
        rng = np.random.default_rng(Z_SEED + 5)
        rej = []
        for _ in range(4000):
            s = rng.binomial(400, 0.3, size=2)
            rej.append(two_prop_z(400, int(s[0]), 400, int(s[1]))["p_value"] < ALPHA)
        rate_band(np.array(rej))

    def test_logrank(self):
        rng = np.random.default_rng(Z_SEED + 6)
        rej = []
        for _ in range(800):
            # same survival law both arms; independent 30% censoring;
            # integer-second durations (the query's floor) create ties
            da = np.floor(rng.exponential(1000, size=120)).astype(int)
            db = np.floor(rng.exponential(1000, size=120)).astype(int)
            oa = (rng.random(120) < 0.7).astype(int)
            ob = (rng.random(120) < 0.7).astype(int)
            r = logrank(da, oa, db, ob)
            rej.append(norm_sf_two_sided(r["z"]) < ALPHA)
        rate_band(np.array(rej), lo=0.025, hi=0.08)

    def test_spearman(self):
        rng = np.random.default_rng(Z_SEED + 7)
        rej = []
        for _ in range(2000):
            rho = spearman_rho(rng.random(80), rng.random(80))["spearman_rho"]
            rej.append(abs(rho) * math.sqrt(79) > 1.959964)
        rate_band(np.array(rej))

    def test_brown_forsythe(self):
        rng = np.random.default_rng(Z_SEED + 8)
        rej = []
        for _ in range(1500):
            # null = equal VARIANCE, deliberately non-normal (lognormal):
            # BF's whole point is robustness of the variance test
            f = brown_forsythe([rng.lognormal(0, 1, size=100) for _ in range(5)])["f_stat"]
            rej.append(chi2_sf_even_df(4 * f, 4) < ALPHA)  # df2=495 ~ inf
        rate_band(np.array(rej), lo=0.02, hi=0.08)

    def test_cvm(self):
        rng = np.random.default_rng(Z_SEED + 9)
        # limiting 5% critical value of the two-sample CvM T is 0.461
        rej = [
            cvm_two_sample(rng.random(150), rng.random(150))["t_stat"] > 0.461
            for _ in range(2000)
        ]
        rate_band(np.array(rej), lo=0.02, hi=0.08)


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def orders_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["day"] = o["o_orderdate"].dt.normalize()
    o["cents"] = np.round(o["o_totalprice"] * 100).astype("int64")
    return o


class TestTierAgreement2:
    def test_mannwhitney(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_mannwhitney_u")
        a = got[got["variant"] == "A"].iloc[0]
        va = orders_pd.loc[orders_pd["o_custkey"] % 2 == 0, "o_totalprice"].to_numpy()
        vb = orders_pd.loc[orders_pd["o_custkey"] % 2 == 1, "o_totalprice"].to_numpy()
        ref = mannwhitney(va, vb)
        assert a["n"] == ref["n_a"]
        assert abs(a["rank_sum"] - ref["rank_sum_a"]) < 5.1e-3
        assert abs(a["u_stat"] - ref["u_a"]) < 5.1e-3
        assert abs(a["z_score"] - ref["z_a"]) < 1.1e-6

    def test_kruskal_wallis(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_kruskal_wallis").iloc[0]
        groups = [
            g["o_totalprice"].to_numpy() for _, g in orders_pd.groupby("o_orderpriority")
        ]
        ref = kruskal_wallis(groups)
        assert got["n_total"] == ref["n_total"] and got["n_groups"] == ref["n_groups"]
        assert abs(got["h_stat"] - ref["h_stat"]) < 1.1e-6 * max(1.0, abs(ref["h_stat"]))
        assert abs(got["h_tie_adj"] - ref["h_tie_adj"]) < 1.1e-6 * max(1.0, abs(ref["h_tie_adj"]))

    def test_ks_two_sample(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_ks_two_sample").iloc[0]
        va = orders_pd.loc[orders_pd["o_custkey"] % 2 == 0, "o_totalprice"].to_numpy()
        vb = orders_pd.loc[orders_pd["o_custkey"] % 2 == 1, "o_totalprice"].to_numpy()
        ref = ks_two_sample(va, vb)
        assert got["n_a"] == ref["n_a"] and got["n_b"] == ref["n_b"]
        assert abs(got["ks_d"] - ref["ks_d"]) < 1.1e-6
        assert abs(got["at_value"] - ref["at_value"]) < 1e-9

    def test_variance_ratio(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "ts_variance_ratio").iloc[0]
        cents = orders_pd.groupby("day")["cents"].sum().sort_index().to_numpy()
        ref = variance_ratio(cents, q=7)
        assert got["n_diffs"] == ref["n_diffs"]
        assert abs(got["variance_ratio"] - ref["variance_ratio"]) < 1.1e-6
        assert abs(got["z_stat"] - ref["z_stat"]) < 5.1e-5
        assert abs(got["p_value"] - norm_sf_two_sided(round(ref["z_stat"], 4))) < 2e-6

    def test_pettitt(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "ts_pettitt_changepoint").iloc[0]
        daily = orders_pd.groupby("day")["cents"].sum().sort_index()
        ref = pettitt(daily.to_numpy())
        assert got["n_days"] == ref["n_days"]
        assert abs(got["k_stat"] - ref["k_stat"]) < 5.1e-3
        assert pd.Timestamp(got["change_day"]) == daily.index[ref["cp_index"]]
        assert abs(got["p_value"] - ref["p_value"]) < 2e-6
        before = daily.iloc[: ref["cp_index"] + 1]
        after = daily.iloc[ref["cp_index"] + 1 :]
        assert abs(got["mean_before_cents"] - before.mean()) < 5.1e-5 * abs(before.mean())
        assert abs(got["mean_after_cents"] - after.mean()) < 5.1e-5 * abs(after.mean())

    def test_two_prop_z(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_two_proportion_ztest").iloc[0]
        ev = events_pd
        conv = (
            pd.DataFrame(
                {
                    "user_id": ev["user_id"],
                    "c": (ev["event_type"] == "purchase") & (ev["value"] > 200),
                }
            )
            .groupby("user_id")["c"]
            .max()
        )
        grp = conv.index.to_numpy() % 2
        n_a, s_a = int(np.sum(grp == 0)), int(conv[grp == 0].sum())
        n_b, s_b = int(np.sum(grp == 1)), int(conv[grp == 1].sum())
        ref = two_prop_z(n_a, s_a, n_b, s_b)
        assert (got["n_a"], got["s_a"], got["n_b"], got["s_b"]) == (n_a, s_a, n_b, s_b)
        assert abs(got["z"] - ref["z"]) < 1.1e-6

    def test_logrank(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_logrank_test").iloc[0]
        ev = events_pd.copy()
        g = ev.groupby("user_id").agg(
            lo=("ts", "min"), hi=("ts", "max")
        )
        dur = ((g["hi"] - g["lo"]).dt.total_seconds()).astype("int64")
        obs = (
            ev.assign(err=(ev["event_type"] == "error").astype(int))
            .groupby("user_id")["err"]
            .max()
        )
        grp = g.index.to_numpy() % 2
        ref = logrank(
            dur[grp == 0].to_numpy(),
            obs[grp == 0].to_numpy(),
            dur[grp == 1].to_numpy(),
            obs[grp == 1].to_numpy(),
        )
        assert got["o_a"] == ref["o_a"]
        assert abs(got["e_a"] - ref["e_a"]) < 1.1e-6 * max(1.0, ref["e_a"])
        assert abs(got["var_lr"] - ref["var_lr"]) < 1.1e-6 * max(1.0, ref["var_lr"])
        assert abs(got["z"] - ref["z"]) < 1.1e-5
        assert abs(got["chi2"] - ref["chi2"]) < 1.1e-5

    def test_spearman(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_spearman_rank_corr").iloc[0]
        li = pd.read_parquet(
            f"{sf_dir}/lineitem.parquet", columns=["l_quantity", "l_extendedprice"]
        )
        ref = spearman_rho(li["l_quantity"].to_numpy(), li["l_extendedprice"].to_numpy())
        assert got["n"] == ref["n"]
        assert abs(got["spearman_rho"] - ref["spearman_rho"]) < 1.1e-6

    def test_brown_forsythe(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_brown_forsythe").iloc[0]

        def query_median(g: np.ndarray) -> float:
            # the query's percentile convention: smallest value whose
            # cumweight reaches ((n-1)*50)//100 + 1
            s = np.sort(g)
            return float(s[((len(s) - 1) * 50) // 100])

        groups = [
            g["cents"].to_numpy(float) for _, g in orders_pd.groupby("o_orderpriority")
        ]
        ref = brown_forsythe(groups, med_fn=query_median)
        assert got["k_groups"] == ref["k_groups"] and got["n_total"] == ref["n_total"]
        assert abs(got["f_stat"] - ref["f_stat"]) < 1.1e-6 * max(1.0, ref["f_stat"])

    def test_cvm(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_cvm_two_sample").iloc[0]
        li = pd.read_parquet(
            f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
        )
        va = li.loc[li["l_returnflag"] == "R", "l_extendedprice"].to_numpy()
        vb = li.loc[li["l_returnflag"] == "N", "l_extendedprice"].to_numpy()
        ref = cvm_two_sample(va, vb)
        assert got["n_r"] == ref["n_a"] and got["n_n"] == ref["n_b"]
        assert abs(got["t_stat"] - ref["t_stat"]) < 1.1e-6 * max(1.0, ref["t_stat"])
