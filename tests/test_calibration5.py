"""Monte-Carlo calibration, batch 5 (method in tests/test_calibration.py):
Kaplan-Meier under random censoring, empirical-Bayes Beta-Binomial
shrinkage, partial correlation in a known Gaussian graph, propensity-
stratified ATT under confounding, 1-D Wasserstein and energy distance
(each cross-checked against a brute-force formulation that shares NO
algebra with the engine's summation-by-parts CDF integrals), Cliff's
delta, Cramer's V, the Theil inequality decomposition identity, JS
divergence bounds, Benford chi-square calibration, and expected
calibration error of a perfectly calibrated scorer."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import query_pd
from tests.test_calibration import chi2_sf_even_df, rate_band

Z_SEED = 99001


# ================================================================ stats


def kaplan_meier(dur: np.ndarray, obs: np.ndarray) -> pd.DataFrame:
    """KM on grouped integer durations; after any time where every
    at-risk subject dies (d == n_risk) survival is exactly 0 (the
    engine's zeros-propagation convention)."""
    df = pd.DataFrame({"dur_s": dur, "obs": obs})
    g = df.groupby("dur_s").agg(c=("obs", "size"), d=("obs", "sum")).reset_index()
    g = g.sort_values("dur_s").reset_index(drop=True)
    n = int(g["c"].sum())
    g["n_at_risk"] = n - g["c"].cumsum().shift(1, fill_value=0)
    surv, s, dead = [], 1.0, False
    for _, row in g.iterrows():
        if row["d"] == row["n_at_risk"]:
            dead = True
        else:
            s *= (row["n_at_risk"] - row["d"]) / row["n_at_risk"]
        surv.append(0.0 if dead else s)
    g["survival"] = surv
    return g


def eb_shrink(n: np.ndarray, x: np.ndarray) -> dict:
    """Beta-Binomial method-of-moments shrinkage on raw rates."""
    rates = x / n
    m = float(np.mean(rates))
    v = float(np.var(rates, ddof=1))
    k = m * (1 - m) / v - 1
    alpha, beta = m * k, (1 - m) * k
    return {"alpha": alpha, "beta": beta, "shrunk": (x + alpha) / (n + alpha + beta)}


def partial_corr(x, y, z) -> dict:
    def r(a, b):
        a = a - np.mean(a)
        b = b - np.mean(b)
        return float(np.sum(a * b) / math.sqrt(np.sum(a * a) * np.sum(b * b)))

    rxy, rxz, ryz = r(x, y), r(x, z), r(y, z)
    return {
        "rxy": rxy,
        "rxz": rxz,
        "ryz": ryz,
        "partial": (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2)),
    }


def stratified_att(x: np.ndarray, treat: np.ndarray, y: np.ndarray, uid: np.ndarray) -> dict:
    """Quintile-stratified ATT: strata are ((rank-1)*5)//n + 1 over the
    (x, uid) order; strata lacking either arm drop; treated-share
    weighted difference of arm means."""
    n = len(x)
    order = np.lexsort((uid, x))
    stratum = np.empty(n, dtype=int)
    stratum[order] = (np.arange(n) * 5) // n + 1
    df = pd.DataFrame({"s": stratum, "t": treat, "y": y})
    cells = df.groupby("s").apply(
        lambda g: pd.Series(
            {
                "nt": int((g["t"] == 1).sum()),
                "nc": int((g["t"] == 0).sum()),
                "yt": float(g.loc[g["t"] == 1, "y"].sum()),
                "yc": float(g.loc[g["t"] == 0, "y"].sum()),
            }
        ),
        include_groups=False,
    )
    ok = cells[(cells["nt"] > 0) & (cells["nc"] > 0)]
    nt_all = float(ok["nt"].sum())
    att = float(np.sum(ok["nt"] / nt_all * (ok["yt"] / ok["nt"] - ok["yc"] / ok["nc"])))
    return {"n_strata_used": len(ok), "n_treated": int(nt_all), "att": att}


def wasserstein_sorted(a: np.ndarray, b: np.ndarray) -> float:
    """Equal-size W1 = mean |sorted a - sorted b| — shares no algebra
    with the engine's CDF summation-by-parts."""
    assert len(a) == len(b)
    return float(np.mean(np.abs(np.sort(a) - np.sort(b))))


def wasserstein_cdf(a: np.ndarray, b: np.ndarray) -> float:
    """General W1 = integral |Fa - Fb| dx over the pooled support."""
    v = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), v, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), v, side="right") / len(b)
    return float(np.sum(np.abs(fa[:-1] - fb[:-1]) * np.diff(v)))


def energy_brute(a: np.ndarray, b: np.ndarray) -> float:
    """D^2 = 2 E|X-Y| - E|X-X'| - E|Y-Y'| with V-statistic means."""
    exy = float(np.mean(np.abs(a[:, None] - b[None, :])))
    exx = float(np.mean(np.abs(a[:, None] - a[None, :])))
    eyy = float(np.mean(np.abs(b[:, None] - b[None, :])))
    return 2 * exy - exx - eyy


def energy_cdf(a: np.ndarray, b: np.ndarray) -> float:
    """D^2 = 2 * integral (Fa - Fb)^2 dx (the 1-D identity)."""
    v = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), v, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), v, side="right") / len(b)
    return 2.0 * float(np.sum((fa[:-1] - fb[:-1]) ** 2 * np.diff(v)))


def cliffs_delta_brute(a: np.ndarray, b: np.ndarray) -> float:
    d = a[:, None] - b[None, :]
    return float((np.sum(d > 0) - np.sum(d < 0)) / (len(a) * len(b)))


def cramers_v(table: np.ndarray) -> dict:
    n = float(table.sum())
    rm = table.sum(axis=1, keepdims=True)
    cm = table.sum(axis=0, keepdims=True)
    e = rm * cm / n
    chi2 = float(np.sum((table - e) ** 2 / e))
    k = min(table.shape[0] - 1, table.shape[1] - 1)
    return {"chi2": chi2, "v": math.sqrt(chi2 / (n * k))}


def theil(cents: np.ndarray, region: np.ndarray) -> dict:
    n = len(cents)
    xt = float(np.sum(cents))
    total = float(np.sum(cents / xt * np.log(cents * n / xt)))
    df = pd.DataFrame({"c": cents, "r": region})
    g = df.groupby("r")["c"].agg(["size", "sum"])
    between = float(np.sum(g["sum"] / xt * np.log((g["sum"] / xt) * (n / g["size"]))))
    # independent WITHIN: Theil-T within is the income-share-weighted
    # sum of per-group Theil indices (not total - between)
    within = 0.0
    for r, grp in df.groupby("r"):
        c = grp["c"].to_numpy(float)
        tg = float(np.sum(c / c.sum() * np.log(c * len(c) / c.sum())))
        within += c.sum() / xt * tg
    return {"total": total, "between": between, "within": within}


def js_divergence(ca: np.ndarray, cb: np.ndarray) -> float:
    p = ca / ca.sum()
    q = cb / cb.sum()
    m = (p + q) / 2.0
    with np.errstate(divide="ignore", invalid="ignore"):
        t1 = np.where(p > 0, 0.5 * p * np.log(p / m), 0.0)
        t2 = np.where(q > 0, 0.5 * q * np.log(q / m), 0.0)
    return float(np.sum(t1) + np.sum(t2))


def benford_chi2(values: np.ndarray) -> float:
    digits = np.array([int(str(int(v))[0]) for v in values])
    n = len(digits)
    chi2 = 0.0
    for d in range(1, 10):
        p = math.log10(1 + 1.0 / d)
        o = int(np.sum(digits == d))
        chi2 += (o - n * p) ** 2 / (n * p)
    return chi2


def ece(scores: np.ndarray, labels: np.ndarray) -> dict:
    bucket = np.minimum(np.floor(scores * 10), 9).astype(int)
    df = pd.DataFrame({"b": bucket, "s": scores, "y": labels})
    cells = df.groupby("b").agg(n=("y", "size"), conf=("s", "mean"), acc=("y", "mean"))
    nn = float(cells["n"].sum())
    gaps = np.abs(cells["acc"] - cells["conf"])
    return {
        "n_bins": len(cells),
        "ece": float(np.sum(cells["n"] / nn * gaps)),
        "mce": float(np.max(gaps)),
    }


# ===================================================== null calibration


class TestCalibration5:
    def test_kaplan_meier_recovery(self):
        rng = np.random.default_rng(Z_SEED)
        lam = 1.0 / 500.0
        errs = []
        for _ in range(150):
            t = rng.exponential(1 / lam, size=600)
            c = rng.exponential(900.0, size=600)
            dur = np.floor(np.minimum(t, c)).astype(int)
            obs = (t <= c).astype(int)
            km = kaplan_meier(dur, obs)
            for q in (250.0, 500.0, 750.0):
                est = float(km.loc[km["dur_s"] <= q, "survival"].iloc[-1])
                errs.append(abs(est - math.exp(-lam * q)))
        assert float(np.mean(errs)) < 0.035, np.mean(errs)

    def test_eb_shrinkage_reduces_mse(self):
        rng = np.random.default_rng(Z_SEED + 1)
        mse_raw, mse_shrunk, alphas = [], [], []
        for _ in range(250):
            rates = rng.beta(4.0, 12.0, size=400)
            n = rng.integers(3, 40, size=400)
            x = rng.binomial(n, rates)
            r = eb_shrink(n.astype(float), x.astype(float))
            mse_raw.append(float(np.mean((x / n - rates) ** 2)))
            mse_shrunk.append(float(np.mean((r["shrunk"] - rates) ** 2)))
            alphas.append(r["alpha"])
        assert np.mean(mse_shrunk) < 0.7 * np.mean(mse_raw)
        # the rate-level MoM systematically UNDERSTATES the prior
        # strength (binomial sampling noise inflates var(raw rates), so
        # the fitted Beta looks more dispersed than the true Beta(4,12))
        # — a weaker prior means LESS shrinkage, which is conservative:
        # the MSE reduction above is the property that matters. Bound
        # alpha loosely below truth.
        assert 1.0 < np.mean(alphas) < 6.0, np.mean(alphas)

    def test_partial_correlation_removes_confounder(self):
        rng = np.random.default_rng(Z_SEED + 2)
        marg, part = [], []
        for _ in range(400):
            z = rng.normal(size=2000)
            x = 2 * z + rng.normal(size=2000)  # x ⊥ y GIVEN z
            y = -3 * z + rng.normal(size=2000)
            r = partial_corr(x, y, z)
            marg.append(r["rxy"])
            part.append(r["partial"])
        assert np.mean(np.abs(marg)) > 0.7  # strong spurious correlation
        assert np.mean(np.abs(part)) < 0.03  # gone once z is partialled out

    def test_stratified_att_recovers_effect(self):
        rng = np.random.default_rng(Z_SEED + 3)
        effect = 50.0
        att_err, naive_err = [], []
        for _ in range(200):
            n = 3000
            x = rng.gamma(2.0, 100.0, size=n)  # pre-period covariate
            p_treat = 1 / (1 + np.exp(-(x - 200.0) / 80.0))  # confounded
            t = (rng.random(n) < p_treat).astype(int)
            y = 0.8 * x + effect * t + rng.normal(0, 20, size=n)
            r = stratified_att(x, t, y, np.arange(n))
            att_err.append(abs(r["att"] - effect))
            naive = float(np.mean(y[t == 1]) - np.mean(y[t == 0]))
            naive_err.append(abs(naive - effect))
        # 5 coarse strata remove MOST of the confounding (Cochran 1968:
        # ~90% of the bias) — the residual must stay far below the naive gap
        assert np.mean(att_err) < 0.25 * np.mean(naive_err), (
            np.mean(att_err), np.mean(naive_err),
        )

    def test_wasserstein_shift_recovery_and_identity(self):
        rng = np.random.default_rng(Z_SEED + 4)
        a = rng.random(3000)
        b = rng.random(3000) + 0.25
        assert abs(wasserstein_sorted(a, b) - 0.25) < 0.02
        # the CDF-integral and sorted-sample formulations agree to fp
        assert abs(wasserstein_cdf(a, b) - wasserstein_sorted(a, b)) < 1e-9

    def test_energy_identity_and_zero(self):
        rng = np.random.default_rng(Z_SEED + 5)
        a, b = rng.random(300), rng.random(400) + 0.3
        assert abs(energy_brute(a, b) - energy_cdf(a, b)) < 1e-9
        same = energy_cdf(rng.random(2000), rng.random(2000))
        assert same < 0.01  # ~0 for identical distributions
        assert energy_cdf(a, b) > 0.1

    def test_cliffs_delta_identity(self):
        rng = np.random.default_rng(Z_SEED + 6)
        a = rng.integers(0, 50, size=300).astype(float)
        b = rng.integers(10, 60, size=400).astype(float)
        # rank-sum route (the engine's) == brute-force P(X>Y) - P(Y>X)
        rk = pd.Series(np.concatenate([a, b])).rank(method="average").to_numpy()
        u = float(np.sum(rk[: len(a)])) - len(a) * (len(a) + 1) / 2.0
        delta_rank = 2.0 * u / (len(a) * len(b)) - 1.0
        assert abs(delta_rank - cliffs_delta_brute(a, b)) < 1e-9

    def test_cramers_v_bounds(self):
        rng = np.random.default_rng(Z_SEED + 7)
        # independence -> V ~ 0
        vs = []
        for _ in range(300):
            t = rng.multinomial(5000, np.outer([0.3, 0.7], [0.2, 0.3, 0.5]).ravel()).reshape(2, 3)
            vs.append(cramers_v(t)["v"])
        assert float(np.mean(vs)) < 0.03
        # perfect association on a square table -> V = 1
        perfect = np.diag([100, 200, 300])
        assert abs(cramers_v(perfect)["v"] - 1.0) < 1e-12

    def test_theil_decomposition_identity(self):
        rng = np.random.default_rng(Z_SEED + 8)
        for _ in range(50):
            region = rng.integers(0, 5, size=1000)
            cents = np.round(rng.lognormal(5 + 0.3 * region, 0.8)).astype(float) + 1
            r = theil(cents, region)
            assert abs(r["total"] - (r["between"] + r["within"])) < 1e-9
            assert r["total"] >= max(0.0, r["between"]) - 1e-12
        # perfect equality -> 0
        r = theil(np.full(500, 100.0), rng.integers(0, 5, size=500))
        assert abs(r["total"]) < 1e-12

    def test_js_divergence_bounds(self):
        rng = np.random.default_rng(Z_SEED + 9)
        c = rng.integers(1, 100, size=500).astype(float)
        assert js_divergence(c, c) < 1e-12
        # disjoint supports -> exactly ln 2
        a = np.concatenate([c, np.zeros(500)])
        b = np.concatenate([np.zeros(500), c])
        assert abs(js_divergence(a, b) - math.log(2)) < 1e-12
        # random pairs stay within [0, ln 2]
        for _ in range(50):
            x = rng.integers(0, 50, size=300).astype(float)
            y = rng.integers(0, 50, size=300).astype(float)
            x[0] = max(x[0], 1)
            y[-1] = max(y[-1], 1)
            j = js_divergence(x, y)
            assert -1e-12 <= j <= math.log(2) + 1e-12

    def test_benford_chi2_calibrates(self):
        rng = np.random.default_rng(Z_SEED + 10)
        # exact Benford generator: first digits of 10^U, U ~ Uniform(0, k)
        rej = []
        for _ in range(600):
            v = np.floor(10 ** rng.uniform(2, 6, size=2000))
            rej.append(chi2_sf_even_df(benford_chi2(v), 8) < 0.05)
        rate_band(np.array(rej), lo=0.02, hi=0.08)
        # uniform first digits must blow up
        u = rng.integers(100, 1000, size=2000).astype(float)
        assert benford_chi2(u) > 100

    def test_ece_of_calibrated_scorer_is_small(self):
        rng = np.random.default_rng(Z_SEED + 11)
        eces = []
        for _ in range(200):
            s = rng.random(3000)
            y = (rng.random(3000) < s).astype(int)  # perfectly calibrated
            eces.append(ece(s, y)["ece"])
        assert float(np.mean(eces)) < 0.03
        # a badly miscalibrated scorer must show it
        s = rng.random(3000) * 0.2 + 0.8  # always confident
        y = (rng.random(3000) < 0.3).astype(int)  # rarely right
        assert ece(s, y)["ece"] > 0.4


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def orders_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = np.round(o["o_totalprice"] * 100).astype("int64")
    return o


class TestTierAgreement5:
    def test_kaplan_meier(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_kaplan_meier").sort_values("dur_s").reset_index(drop=True)
        g = events_pd.groupby("user_id").agg(lo=("ts", "min"), hi=("ts", "max"))
        dur = ((g["hi"] - g["lo"]).dt.total_seconds()).astype("int64").to_numpy()
        obs = (
            events_pd.assign(err=(events_pd["event_type"] == "error").astype(int))
            .groupby("user_id")["err"].max().to_numpy()
        )
        ref = kaplan_meier(dur, obs)
        assert list(got["dur_s"]) == list(ref["dur_s"])
        assert list(got["n_at_risk"]) == list(ref["n_at_risk"].astype(int))
        np.testing.assert_allclose(got["survival"], ref["survival"], atol=1.1e-6)

    def test_eb_shrinkage(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_eb_shrinkage").sort_values("custkey").reset_index(drop=True)
        li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_returnflag"])
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
        j = li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        per = j.groupby("o_custkey").agg(
            n=("l_returnflag", "size"), x=("l_returnflag", lambda s: int((s == "R").sum()))
        )
        ref = eb_shrink(per["n"].to_numpy(float), per["x"].to_numpy(float))
        sel = per.index % 97 == 0
        assert list(got["custkey"]) == list(per.index[sel])
        np.testing.assert_allclose(got["prior_alpha"], ref["alpha"], atol=1.1e-6)
        np.testing.assert_allclose(got["prior_beta"], ref["beta"], atol=1.1e-6)
        np.testing.assert_allclose(got["shrunk_rate"], ref["shrunk"][np.asarray(sel)], atol=1.1e-6)

    def test_partial_correlation(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_partial_correlation").iloc[0]
        li = pd.read_parquet(
            f"{sf_dir}/lineitem.parquet",
            columns=["l_extendedprice", "l_quantity", "l_discount"],
        )
        ref = partial_corr(
            np.round(li["l_extendedprice"] * 100).astype("int64").to_numpy(float),
            li["l_quantity"].astype("int64").to_numpy(float),
            np.round(li["l_discount"] * 100).astype("int64").to_numpy(float),
        )
        assert abs(got["r_price_qty"] - ref["rxy"]) < 1.1e-6
        assert abs(got["r_price_disc"] - ref["rxz"]) < 1.1e-6
        assert abs(got["r_qty_disc"] - ref["ryz"]) < 1.1e-6
        assert abs(got["partial_r_price_qty_given_disc"] - ref["partial"]) < 1.1e-6

    def test_stratified_att(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_propensity_stratified_att").iloc[0]
        ev = events_pd.copy()
        ev["cents"] = np.round(ev["value"] * 100).astype("int64")
        dom = ev["ts"].dt.day
        per = pd.DataFrame(
            {
                "user_id": ev["user_id"],
                "x": np.where(dom < 16, ev["cents"], 0),
                "y": np.where(dom >= 16, ev["cents"], 0),
            }
        ).groupby("user_id").sum()
        ref = stratified_att(
            per["x"].to_numpy(float),
            (per.index.to_numpy() % 2).astype(int),
            per["y"].to_numpy(float),
            per.index.to_numpy(),
        )
        assert got["n_strata_used"] == ref["n_strata_used"]
        assert got["n_treated"] == ref["n_treated"]
        assert abs(got["att_cents"] - ref["att"]) < 5.1e-5 * max(1.0, abs(ref["att"]))

    def test_wasserstein(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_wasserstein_1d").iloc[0]
        va = orders_pd.loc[orders_pd["o_custkey"] % 2 == 0, "o_totalprice"].to_numpy()
        vb = orders_pd.loc[orders_pd["o_custkey"] % 2 == 1, "o_totalprice"].to_numpy()
        w1 = wasserstein_cdf(va, vb)
        assert (got["n_a"], got["n_b"]) == (len(va), len(vb))
        assert abs(got["w1_distance"] - w1) < 5.1e-5 * max(1.0, w1)
        rng = np.concatenate([va, vb])
        assert abs(got["w1_normalized"] - w1 / (rng.max() - rng.min())) < 1.1e-9

    def test_energy_distance(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_energy_distance").iloc[0]
        va = orders_pd.loc[orders_pd["o_custkey"] % 2 == 0, "o_totalprice"].to_numpy()
        vb = orders_pd.loc[orders_pd["o_custkey"] % 2 == 1, "o_totalprice"].to_numpy()
        d2 = energy_cdf(va, vb)
        assert abs(got["energy_distance"] - d2) < 5.1e-5 * max(1.0, d2)
        e_stat = len(va) * len(vb) / (len(va) + len(vb)) * d2
        assert abs(got["e_stat"] - e_stat) < 5.1e-3 * max(1.0, e_stat)
        # brute force on a subsample pins the CDF identity to the data
        sub_a, sub_b = va[:200], vb[:200]
        assert abs(energy_brute(sub_a, sub_b) - energy_cdf(sub_a, sub_b)) < 1e-9

    def test_cliffs_delta(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_cliffs_delta").iloc[0]
        ev = events_pd[events_pd["event_type"].isin(["purchase", "view"])]
        cents = np.round(ev["value"] * 100).astype("int64")
        a = cents[(ev["event_type"] == "purchase").to_numpy()].to_numpy(float)
        b = cents[(ev["event_type"] == "view").to_numpy()].to_numpy(float)
        delta = cliffs_delta_brute(a, b)
        assert (got["n_purchase"], got["n_view"]) == (len(a), len(b))
        assert abs(got["cliffs_delta"] - delta) < 1.1e-6
        exp_mag = (
            "negligible" if abs(delta) < 0.147
            else "small" if abs(delta) < 0.33
            else "medium" if abs(delta) < 0.474
            else "large"
        )
        assert got["magnitude"] == exp_mag

    def test_cramers_v(self, spark, sf_dir, events_pd, orders_pd):
        got = query_pd(spark, sf_dir, "stat_cramers_v_matrix").set_index("pair")
        t1 = pd.crosstab(events_pd["user_id"] % 2, events_pd["event_type"]).to_numpy()
        t2 = pd.crosstab(orders_pd["o_orderstatus"], orders_pd["o_orderpriority"]).to_numpy()
        for pair, table in (("variant_x_event_type", t1), ("status_x_priority", t2)):
            ref = cramers_v(table)
            row = got.loc[pair]
            assert row["n"] == int(table.sum())
            assert row["df"] == (table.shape[0] - 1) * (table.shape[1] - 1)
            assert abs(row["chi2"] - ref["chi2"]) < 1.1e-6 * max(1.0, ref["chi2"])
            assert abs(row["cramers_v"] - ref["v"]) < 1.1e-6

    def test_theil_index(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_theil_index").iloc[0]
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"])
        c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
        n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_regionkey"])
        r = pd.read_parquet(f"{sf_dir}/region.parquet", columns=["r_regionkey", "r_name"])
        j = (
            o.merge(c, left_on="o_custkey", right_on="c_custkey")
            .merge(n, left_on="c_nationkey", right_on="n_nationkey")
            .merge(r, left_on="n_regionkey", right_on="r_regionkey")
        )
        j["cents"] = np.round(j["o_totalprice"] * 100).astype("int64")
        per = j.groupby(["c_custkey", "r_name"])["cents"].sum().reset_index()
        ref = theil(per["cents"].to_numpy(float), per["r_name"].to_numpy())
        assert got["n_customers"] == len(per)
        assert abs(got["theil_total"] - ref["total"]) < 1.1e-6
        assert abs(got["theil_between"] - ref["between"]) < 1.1e-6
        # the query's within = total - between must equal the directly
        # computed income-share-weighted within (decomposition identity)
        assert abs(got["theil_within"] - ref["within"]) < 2.1e-6

    def test_js_divergence(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_js_divergence").iloc[0]
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
        docs = docs[docs["source"].isin(["src0", "src1"])]
        from collections import Counter

        ca: Counter = Counter()
        cb: Counter = Counter()
        for src, text in zip(docs["source"], docs["text"]):
            toks = [t for t in text.split(" ") if t != ""]
            (ca if src == "src0" else cb).update(toks)
        vocab = sorted(set(ca) | set(cb))
        a = np.array([ca.get(t, 0) for t in vocab], dtype=float)
        b = np.array([cb.get(t, 0) for t in vocab], dtype=float)
        assert got["n_tokens_a"] == int(a.sum()) and got["n_tokens_b"] == int(b.sum())
        assert got["vocab"] == len(vocab)
        assert got["shared_vocab"] == int(np.sum((a > 0) & (b > 0)))
        assert abs(got["jsd_nats"] - js_divergence(a, b)) < 1.1e-6

    def test_benford(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "dq_benford_digits").sort_values("digit").reset_index(drop=True)
        cents = orders_pd.loc[orders_pd["o_totalprice"] > 0, "cents"].to_numpy()
        digits = np.array([int(str(int(v))[0]) for v in cents])
        n = len(digits)
        for _, row in got.iterrows():
            d = int(row["digit"])
            p = math.log10(1 + 1.0 / d)
            o = int(np.sum(digits == d))
            assert row["observed"] == o
            assert abs(row["benford_share"] - p) < 1.1e-6
            assert abs(row["observed_share"] - o / n) < 1.1e-6
            assert abs(row["chi2_term"] - (o - n * p) ** 2 / (n * p)) < 1.1e-6 * max(
                1.0, (o - n * p) ** 2 / (n * p)
            )

    def test_ece(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_expected_calibration_error").iloc[0]
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang", "text"])
        stop = {"the", "a", "and", "of", "to", "in", "is", "that"}
        scores, labels = [], []
        for lang, text in zip(docs["lang"], docs["text"]):
            raw = text.split(" ")
            ls = min(len(raw) / 100.0, 10.0)
            ttr = len(set(raw)) / len(raw)
            sf = sum(1 for t in raw if t in stop) / len(raw)
            scores.append(round(1.0 / (1.0 + math.exp(-(-1.5 + 0.8 * ls + 2.0 * ttr + 1.5 * sf))), 4))
            labels.append(1 if lang == "en" else 0)
        ref = ece(np.array(scores), np.array(labels))
        assert got["n_bins"] == ref["n_bins"] and got["n_docs"] == len(scores)
        assert abs(got["ece"] - ref["ece"]) < 2.1e-6
        assert abs(got["mce"] - ref["mce"]) < 2.1e-6
