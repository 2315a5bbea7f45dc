"""Monte-Carlo calibration, batch 4 (method in tests/test_calibration.py):
interval COVERAGE and estimator RECOVERY — the defining property of a
confidence interval is that it covers the truth at the nominal rate, and
of an estimator that it recovers a known truth from simulated data:

- Hanley-McNeil AUC CI covers the analytic AUC of a Gaussian score model
- Poisson-bootstrap percentile CI covers the true mean
- delete-one-group jackknife CI covers the true cluster ratio
- Chapman capture-recapture recovers a known population size (and is
  less biased than Lincoln-Petersen)
- negative-binomial method-of-moments recovers (r, p)
- Gumbel method-of-moments recovers (mu, beta)
- Theil-Sen recovers the true slope under 20% gross contamination where
  OLS is destroyed
- IPW / Hajek ATE recovers a known effect under confounding that biases
  the naive difference
- CUPED's adjusted difference stays unbiased and shrinks variance by
  the promised (1 - rho^2)
- the Beta-Binomial closed-form P(B beats A) matches Monte-Carlo
  posterior sampling and is prior-predictively calibrated
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from tests.conftest import query_pd

Z_SEED = 777


# ================================================================ stats


def auc_hanley(scores: np.ndarray, labels: np.ndarray) -> dict:
    """Rank AUC (midranks) + Hanley-McNeil (1982) SE, clamped 95% CI."""
    rk = pd.Series(scores).rank(method="average").to_numpy()
    np_, nn = int(np.sum(labels == 1)), int(np.sum(labels == 0))
    rp = float(np.sum(rk[labels == 1]))
    a = (rp - np_ * (np_ + 1) / 2.0) / (np_ * nn)
    q1 = a / (2 - a)
    q2 = 2 * a * a / (1 + a)
    se = math.sqrt(
        (a * (1 - a) + (np_ - 1) * (q1 - a * a) + (nn - 1) * (q2 - a * a)) / (np_ * nn)
    )
    z = 1.959963984540054
    return {
        "n_pos": np_,
        "n_neg": nn,
        "auc": a,
        "auc_se": se,
        "ci_lo": max(0.0, a - z * se),
        "ci_hi": min(1.0, a + z * se),
    }


# Poisson(1) CDF scaled to 2^32 — the hash-weight spec shared with the
# engine's deterministic bootstrap (weights 0..5)
_POIS_THRESH = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


def _pois_weight(u: int) -> int:
    for w, t in enumerate(_POIS_THRESH):
        if u < t:
            return w
    return 5


def poisson_bootstrap_ci(ids: np.ndarray, c: np.ndarray, reps: int = 100) -> dict:
    """Deterministic Poisson bootstrap of the mean: md5(id:r) -> uint32 ->
    Poisson(1) weight; percentile CI over replicate weighted means."""
    means = []
    for r in range(reps):
        w = np.array(
            [
                _pois_weight(
                    int(hashlib.md5(f"{i}:{r}".encode()).hexdigest()[:8], 16)
                )
                for i in ids
            ]
        )
        means.append(float(np.sum(w * c)) / float(np.sum(w)))
    return {
        "mean": float(np.mean(c)),
        "ci_lo": float(np.quantile(means, 0.025)),
        "ci_hi": float(np.quantile(means, 0.975)),
    }


def jackknife_ratio(x: np.ndarray, y: np.ndarray) -> dict:
    """Delete-one-GROUP jackknife for the ratio sum(x)/sum(y)."""
    g = len(x)
    tx, ty = float(np.sum(x)), float(np.sum(y))
    theta_g = (tx - x) / (ty - y)
    tbar = float(np.mean(theta_g))
    tsq = float(np.sum(theta_g * theta_g))
    var = (g - 1.0) / g * (tsq - g * tbar * tbar)
    return {
        "n_groups": g,
        "theta": tx / ty,
        "jk_var": var,
        "jk_se": math.sqrt(var),
        "jk_bias": (g - 1.0) * (tbar - tx / ty),
    }


def capture_recapture(f1: np.ndarray, f2: np.ndarray) -> dict:
    n1, n2 = int(np.sum(f1)), int(np.sum(f2))
    m = int(np.sum(f1 & f2))
    return {
        "n1": n1,
        "n2": n2,
        "overlap": m,
        "lincoln_petersen": n1 * n2 / m if m > 0 else None,
        "chapman": (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0,
    }


def negbin_mom(k: np.ndarray) -> dict:
    n = len(k)
    m = float(np.mean(k))
    v = float(np.var(k, ddof=1))
    return {
        "n_users": n,
        "mean_events": m,
        "var_events": v,
        "dispersion": v / m,
        "nb_r": m * m / (v - m) if v > m else None,
        "nb_p": m / v if v > m else None,
    }


EULER_GAMMA = 0.5772156649015329


def gumbel_mom(mx: np.ndarray) -> dict:
    n = len(mx)
    m = float(np.mean(mx))
    beta = float(np.std(mx, ddof=1)) * math.sqrt(6.0) / math.pi
    mu = m - EULER_GAMMA * beta
    biggest = float(np.max(mx))
    return {
        "n_blocks": n,
        "mu": mu,
        "beta": beta,
        "return_level_99": mu - beta * math.log(-math.log(0.99)),
        "p_exceed_observed_max": 1.0 - math.exp(-math.exp(-(biggest - mu) / beta)),
    }


def theil_sen(x: np.ndarray, y: np.ndarray) -> dict:
    """Median of pairwise slopes (quantile_cont = linear-interp median);
    intercept = median residual at the 6-dp-rounded slope (the query's
    published convention)."""
    dx = x[None, :] - x[:, None]
    dy = y[None, :] - y[:, None]
    iu = np.triu_indices(len(x), k=1)
    slopes = dy[iu] / dx[iu]
    slope = round(float(np.quantile(slopes, 0.5)), 6)
    return {
        "n_days": len(x),
        "n_pairs": len(slopes),
        "slope": slope,
        "intercept": float(np.quantile(y - slope * x, 0.5)),
    }


def ipw_ate(stratum: np.ndarray, treated: np.ndarray, y: np.ndarray) -> dict:
    """Horvitz-Thompson and Hajek IPW with per-stratum propensities."""
    df = pd.DataFrame({"s": stratum, "t": treated, "y": y})
    phat = df.groupby("s")["t"].mean()
    p = df["s"].map(phat).to_numpy()
    t = df["t"].to_numpy()
    yy = df["y"].to_numpy()
    wy1, wy0 = t * yy / p, (1 - t) * yy / (1 - p)
    w1, w0 = t / p, (1 - t) / (1 - p)
    return {
        "n": len(df),
        "ate_ipw": float(np.mean(wy1) - np.mean(wy0)),
        "ate_hajek": float(np.sum(wy1) / np.sum(w1) - np.sum(wy0) / np.sum(w0)),
        "naive_diff": float(np.mean(yy[t == 1]) - np.mean(yy[t == 0])),
    }


def cuped(grp: np.ndarray, x: np.ndarray, y: np.ndarray) -> pd.DataFrame:
    """CUPED (Deng et al. 2013): theta = pooled cov(x,y)/var(x); adjusted
    mean per group = mean(y) - theta (mean_g(x) - mean(x))."""
    mx, my = float(np.mean(x)), float(np.mean(y))
    sxx = float(np.sum((x - mx) ** 2))
    sxy = float(np.sum((x - mx) * (y - my)))
    syy = float(np.sum((y - my) ** 2))
    theta = sxy / sxx
    rows = []
    for g in sorted(np.unique(grp)):
        sel = grp == g
        rows.append(
            {
                "variant": g,
                "n_users": int(np.sum(sel)),
                "mean_y": float(np.mean(y[sel])),
                "mean_x": float(np.mean(x[sel])),
                "adj_mean": float(np.mean(y[sel])) - theta * (float(np.mean(x[sel])) - mx),
                "theta": theta,
                "rho2": sxy * sxy / (sxx * syy),
            }
        )
    return pd.DataFrame(rows)


def p_b_beats_a(c_a: int, n_a: int, c_b: int, n_b: int) -> float:
    """Closed-form P(pB > pA) under independent Beta(1,1) priors
    (Evan Miller's formula): sum_{i=0}^{alpha_B - 1}
    B(alpha_A + i, beta_A + beta_B) / ((beta_B + i) B(1+i, beta_B) B(alpha_A, beta_A))."""
    aa, ba = c_a + 1, n_a - c_a + 1
    ab, bb = c_b + 1, n_b - c_b + 1
    lg = math.lgamma

    def lnbeta(x, y):
        return lg(x) + lg(y) - lg(x + y)

    total = 0.0
    for i in range(ab):
        total += math.exp(
            lnbeta(aa + i, ba + bb)
            - math.log(bb + i)
            - lnbeta(1 + i, bb)
            - lnbeta(aa, ba)
        )
    return total


# ===================================================== null calibration


class TestCalibration4:
    def test_auc_hanley_coverage(self):
        rng = np.random.default_rng(Z_SEED)
        mu = 1.0
        true_auc = 0.5 * math.erfc(-mu / math.sqrt(2.0) / math.sqrt(2.0))  # Phi(mu/sqrt2)
        cover = []
        for _ in range(1500):
            pos = rng.normal(mu, 1, size=100)
            neg = rng.normal(0, 1, size=100)
            r = auc_hanley(
                np.concatenate([pos, neg]),
                np.concatenate([np.ones(100), np.zeros(100)]),
            )
            cover.append(r["ci_lo"] <= true_auc <= r["ci_hi"])
        c = float(np.mean(cover))
        assert 0.90 <= c <= 0.98, f"Hanley CI coverage {c:.3f}"

    def test_poisson_bootstrap_coverage(self):
        rng = np.random.default_rng(Z_SEED + 1)
        cover = []
        for rep in range(120):
            c = rng.exponential(100.0, size=400)
            r = poisson_bootstrap_ci(
                rng.integers(0, 2**31, size=400) + rep * 10**10, c, reps=100
            )
            cover.append(r["ci_lo"] <= 100.0 <= r["ci_hi"])
        c = float(np.mean(cover))
        assert 0.88 <= c <= 0.99, f"Poisson bootstrap coverage {c:.3f}"

    def test_jackknife_ratio_coverage(self):
        rng = np.random.default_rng(Z_SEED + 2)
        cover = []
        true_ratio = 50.0  # E[x_g] / E[y_g]
        for _ in range(1500):
            y = rng.poisson(200, size=25).astype(float)
            x = np.array([rng.normal(50, 10, size=int(n)).sum() for n in y])
            r = jackknife_ratio(x, y)
            cover.append(
                r["theta"] - 1.96 * r["jk_se"] <= true_ratio <= r["theta"] + 1.96 * r["jk_se"]
            )
        c = float(np.mean(cover))
        assert 0.88 <= c <= 0.99, f"jackknife ratio coverage {c:.3f}"

    def test_capture_recapture_recovery(self):
        rng = np.random.default_rng(Z_SEED + 3)
        n_pop = 2000
        chap, lp = [], []
        for _ in range(800):
            f1 = rng.random(n_pop) < 0.15
            f2 = rng.random(n_pop) < 0.15
            seen = f1 | f2
            r = capture_recapture(f1[seen], f2[seen])
            chap.append(r["chapman"])
            if r["overlap"] > 0:
                lp.append(r["lincoln_petersen"])
        assert abs(np.mean(chap) - n_pop) / n_pop < 0.02, np.mean(chap)
        # Chapman's small-sample bias correction beats Lincoln-Petersen
        assert abs(np.mean(chap) - n_pop) < abs(np.mean(lp) - n_pop)

    def test_negbin_mom_recovery(self):
        rng = np.random.default_rng(Z_SEED + 4)
        r_true, p_true = 3.0, 0.4
        k = rng.negative_binomial(r_true, p_true, size=20000)
        fit = negbin_mom(k.astype(float))
        assert abs(fit["nb_r"] - r_true) / r_true < 0.10, fit["nb_r"]
        assert abs(fit["nb_p"] - p_true) / p_true < 0.05, fit["nb_p"]

    def test_gumbel_mom_recovery(self):
        rng = np.random.default_rng(Z_SEED + 5)
        mu0, beta0 = 1000.0, 150.0
        mx = rng.gumbel(mu0, beta0, size=4000)
        fit = gumbel_mom(mx)
        assert abs(fit["mu"] - mu0) / mu0 < 0.02, fit["mu"]
        assert abs(fit["beta"] - beta0) / beta0 < 0.06, fit["beta"]
        # the 99% return level inverts to ~1% exceedance per block
        exceed = float(np.mean(mx > fit["return_level_99"]))
        assert 0.004 <= exceed <= 0.02, exceed

    def test_theil_sen_breakdown(self):
        rng = np.random.default_rng(Z_SEED + 6)
        x = np.arange(60, dtype=float)
        slope_true = 7.0
        errs_ts, errs_ols = [], []
        for _ in range(300):
            y = 100.0 + slope_true * x + rng.normal(0, 5, size=60)
            bad = rng.choice(60, size=12, replace=False)  # 20% gross outliers
            y[bad] += rng.normal(0, 500, size=12)
            ts = theil_sen(x, y)["slope"]
            b_ols = float(np.sum((x - x.mean()) * (y - y.mean())) / np.sum((x - x.mean()) ** 2))
            errs_ts.append(abs(ts - slope_true))
            errs_ols.append(abs(b_ols - slope_true))
        assert np.median(errs_ts) < 0.6, np.median(errs_ts)
        assert np.median(errs_ts) < 0.3 * np.median(errs_ols)

    def test_ipw_recovers_effect_under_confounding(self):
        rng = np.random.default_rng(Z_SEED + 7)
        effect = 10.0
        ipw_err, hajek_err, naive_err = [], [], []
        for _ in range(300):
            s = rng.integers(0, 4, size=4000)
            p_treat = np.array([0.2, 0.4, 0.6, 0.8])[s]  # confounded assignment
            t = (rng.random(4000) < p_treat).astype(int)
            base = np.array([0.0, 30.0, 60.0, 90.0])[s]  # confounded outcome
            y = base + effect * t + rng.normal(0, 5, size=4000)
            r = ipw_ate(s, t, y)
            ipw_err.append(abs(r["ate_ipw"] - effect))
            hajek_err.append(abs(r["ate_hajek"] - effect))
            naive_err.append(abs(r["naive_diff"] - effect))
        assert np.mean(ipw_err) < 1.0, np.mean(ipw_err)
        assert np.mean(hajek_err) < 1.0, np.mean(hajek_err)
        assert np.mean(naive_err) > 5.0  # the naive diff must be visibly biased

    def test_cuped_unbiased_and_variance_reduced(self):
        rng = np.random.default_rng(Z_SEED + 8)
        effect, rho = 5.0, 0.8
        raw_diffs, adj_diffs, rho2s = [], [], []
        for _ in range(600):
            n = 1000
            x = rng.normal(100, 20, size=n)
            y = rho * (x - 100) + math.sqrt(1 - rho * rho) * rng.normal(0, 20, size=n) + 50
            g = (rng.random(n) < 0.5).astype(int)
            y = y + effect * g
            d = cuped(g, x, y)
            raw_diffs.append(d["mean_y"][1] - d["mean_y"][0])
            adj_diffs.append(d["adj_mean"][1] - d["adj_mean"][0])
            rho2s.append(d["rho2"][0])
        assert abs(np.mean(adj_diffs) - effect) < 0.15  # unbiased
        vr = np.var(adj_diffs) / np.var(raw_diffs)
        expect = 1 - float(np.mean(rho2s))
        assert abs(vr - expect) < 0.12, (vr, expect)

    def test_bayes_ab_closed_form(self):
        rng = np.random.default_rng(Z_SEED + 9)
        # closed form == Monte-Carlo posterior sampling
        for c_a, n_a, c_b, n_b in ((30, 100, 40, 100), (5, 50, 9, 60), (70, 80, 60, 80)):
            mc = float(
                np.mean(
                    rng.beta(c_b + 1, n_b - c_b + 1, size=200_000)
                    > rng.beta(c_a + 1, n_a - c_a + 1, size=200_000)
                )
            )
            assert abs(p_b_beats_a(c_a, n_a, c_b, n_b) - mc) < 0.01
        # prior-predictive calibration: with truths drawn FROM the prior,
        # P(B beats A | data) must be calibrated against the realized event
        qs, hits = [], []
        for _ in range(4000):
            pa, pb = rng.random(), rng.random()
            ca, cb = int(rng.binomial(40, pa)), int(rng.binomial(40, pb))
            qs.append(p_b_beats_a(ca, 40, cb, 40))
            hits.append(pb > pa)
        qs, hits = np.array(qs), np.array(hits, dtype=float)
        for lo in (0.0, 0.25, 0.5, 0.75):
            sel = (qs >= lo) & (qs < lo + 0.25)
            # middle bins are sparse (most q mass sits near 0/1): allow
            # ~2.5 binomial SEs on the realized bin size
            tol = 0.02 + 2.5 * math.sqrt(0.25 / max(1, int(sel.sum())))
            assert abs(np.mean(hits[sel]) - np.mean(qs[sel])) < tol, lo


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def orders_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["day"] = o["o_orderdate"].dt.normalize()
    o["cents"] = np.round(o["o_totalprice"] * 100).astype("int64")
    return o


class TestTierAgreement4:
    def test_auc_hanley(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_auc_hanley_ci").iloc[0]
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"])
        stop = {"the", "a", "and", "of", "to", "in", "is", "that"}
        rows = []
        for lang, text in zip(docs["lang"], docs["text"]):
            raw = text.split(" ")
            ls = min(len(raw) / 100.0, 10.0)
            ttr = len(set(raw)) / len(raw)
            sf = sum(1 for t in raw if t in stop) / len(raw)
            score = round(1.0 / (1.0 + math.exp(-(-1.5 + 0.8 * ls + 2.0 * ttr + 1.5 * sf))), 4)
            rows.append((score, 1 if lang == "en" else 0))
        scores = np.array([r[0] for r in rows])
        labels = np.array([r[1] for r in rows])
        ref = auc_hanley(scores, labels)
        assert got["n_pos"] == ref["n_pos"] and got["n_neg"] == ref["n_neg"]
        for c in ("auc", "auc_se", "ci_lo", "ci_hi"):
            assert abs(got[c] - ref[c]) < 1.1e-6, c

    def test_poisson_bootstrap(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_poisson_bootstrap_ci").iloc[0]
        ev = events_pd[events_pd["event_type"] == "purchase"]
        ids = ev["event_id"].to_numpy()
        c = np.round(ev["value"].to_numpy() * 100).astype("int64")
        ref = poisson_bootstrap_ci(ids, c, reps=100)
        assert got["n"] == len(c)
        assert abs(got["mean_cents"] - ref["mean"]) < 5.1e-5 * ref["mean"]
        assert abs(got["ci_lo_cents"] - ref["ci_lo"]) < 5.1e-5 * ref["ci_lo"]
        assert abs(got["ci_hi_cents"] - ref["ci_hi"]) < 5.1e-5 * ref["ci_hi"]

    def test_jackknife_ratio(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_jackknife_ratio").iloc[0]
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"])
        c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
        n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"])
        j = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
            n, left_on="c_nationkey", right_on="n_nationkey"
        )
        j["cents"] = np.round(j["o_totalprice"] * 100).astype("int64")
        g = j.groupby("n_name").agg(x=("cents", "sum"), y=("cents", "size"))
        ref = jackknife_ratio(g["x"].to_numpy(float), g["y"].to_numpy(float))
        assert got["n_groups"] == ref["n_groups"]
        assert abs(got["theta_cents"] - ref["theta"]) < 1.1e-6 * ref["theta"]
        assert abs(got["jk_var"] - ref["jk_var"]) < 1.1e-5 * max(1.0, ref["jk_var"])
        assert abs(got["jk_se"] - ref["jk_se"]) < 1.1e-6 * max(1.0, ref["jk_se"])
        assert abs(got["jk_bias"] - ref["jk_bias"]) < 1.1e-5 * max(1.0, abs(ref["jk_bias"]))

    def test_capture_recapture(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_capture_recapture").iloc[0]
        ev = events_pd[(events_pd["event_type"] == "purchase") & (events_pd["value"] > 150)]
        d = (ev["ts"].dt.normalize() - pd.Timestamp("1970-01-01")).dt.days
        u = pd.DataFrame({"user_id": ev["user_id"], "f1": (d % 2 == 0), "f2": (d % 2 == 1)})
        u = u.groupby("user_id").max()
        ref = capture_recapture(u["f1"].to_numpy(), u["f2"].to_numpy())
        assert (got["n1"], got["n2"], got["overlap"], got["observed"]) == (
            ref["n1"], ref["n2"], ref["overlap"], len(u),
        )
        assert abs(got["lincoln_petersen"] - ref["lincoln_petersen"]) < 5.1e-5 * ref["lincoln_petersen"]
        assert abs(got["chapman"] - ref["chapman"]) < 5.1e-5 * ref["chapman"]

    def test_negbin_fit(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_negbin_fit").iloc[0]
        k = events_pd.groupby("user_id").size().to_numpy(float)
        ref = negbin_mom(k)
        assert got["n_users"] == ref["n_users"]
        for c in ("mean_events", "var_events", "dispersion"):
            assert abs(got[c] - ref[c]) < 1.1e-6 * max(1.0, abs(ref[c])), c
        if ref["nb_r"] is not None:
            assert abs(got["nb_r"] - ref["nb_r"]) < 1.1e-6 * max(1.0, ref["nb_r"])
            assert abs(got["nb_p"] - ref["nb_p"]) < 1.1e-6

    def test_gumbel_fit(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_gumbel_max_fit").iloc[0]
        mx = orders_pd.groupby("day")["cents"].max().to_numpy(float)
        ref = gumbel_mom(mx)
        assert got["n_blocks"] == ref["n_blocks"]
        assert got["observed_max_cents"] == int(np.max(mx))
        assert abs(got["gumbel_mu_cents"] - ref["mu"]) < 5.1e-5 * abs(ref["mu"])
        assert abs(got["gumbel_beta_cents"] - ref["beta"]) < 5.1e-5 * abs(ref["beta"])
        assert abs(got["return_level_99_cents"] - ref["return_level_99"]) < 5.1e-5 * abs(ref["return_level_99"])
        assert abs(got["p_exceed_observed_max"] - ref["p_exceed_observed_max"]) < 2e-6

    def test_theil_sen(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_theil_sen").iloc[0]
        daily = orders_pd.groupby("day")["cents"].sum().sort_index().iloc[:60]
        x = (daily.index - pd.Timestamp("1992-01-01")).days.to_numpy(float)
        ref = theil_sen(x, daily.to_numpy(float))
        assert got["n_days"] == ref["n_days"] and got["n_pairs"] == ref["n_pairs"]
        assert abs(got["slope_cents_per_day"] - ref["slope"]) < 1.1e-6 * max(1.0, abs(ref["slope"]))
        assert abs(got["intercept_cents"] - ref["intercept"]) < 5.1e-5 * max(1.0, abs(ref["intercept"]))

    def test_ipw_ate(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_ipw_ate").iloc[0]
        ev = events_pd
        ref = ipw_ate(
            ev["event_type"].to_numpy(),
            (ev["user_id"] % 2 == 0).to_numpy(int),
            ev["value"].to_numpy(float),
        )
        assert got["n"] == ref["n"]
        for c in ("ate_ipw", "ate_hajek", "naive_diff"):
            assert abs(got[c] - ref[c]) < 1.1e-6 * max(1.0, abs(ref[c])), c

    def test_cuped(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_cuped_adjustment").sort_values("variant").reset_index(drop=True)
        ev = events_pd.copy()
        ev["cents"] = np.round(ev["value"] * 100).astype("int64")
        dom = ev["ts"].dt.day
        per_user = pd.DataFrame(
            {
                "user_id": ev["user_id"],
                "x": np.where(dom < 16, ev["cents"], 0),
                "y": np.where(dom >= 16, ev["cents"], 0),
            }
        ).groupby("user_id").sum()
        ref = cuped(
            (per_user.index.to_numpy() % 2),
            per_user["x"].to_numpy(float),
            per_user["y"].to_numpy(float),
        ).sort_values("variant").reset_index(drop=True)
        assert list(got["variant"]) == list(ref["variant"])
        assert list(got["n_users"]) == list(ref["n_users"])
        for spark_c, ref_c in (
            ("mean_y_cents", "mean_y"), ("mean_x_cents", "mean_x"),
            ("adj_mean_cents", "adj_mean"), ("theta", "theta"), ("rho2", "rho2"),
        ):
            np.testing.assert_allclose(
                got[spark_c].to_numpy(), ref[ref_c].to_numpy(),
                atol=5.1e-5 * max(1.0, float(np.abs(ref[ref_c]).max())),
            )

    def test_bayes_ab(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_bayes_ab_beta").iloc[0]
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
            .astype(int)
        )
        grp = conv.index.to_numpy() % 2
        n_a, c_a = int(np.sum(grp == 0)), int(conv[grp == 0].sum())
        n_b, c_b = int(np.sum(grp == 1)), int(conv[grp == 1].sum())
        assert (got["n_a"], got["c_a"], got["n_b"], got["c_b"]) == (n_a, c_a, n_b, c_b)
        assert abs(got["post_mean_a"] - (c_a + 1) / (n_a + 2)) < 1.1e-6
        assert abs(got["post_mean_b"] - (c_b + 1) / (n_b + 2)) < 1.1e-6
        assert abs(got["p_b_beats_a"] - p_b_beats_a(c_a, n_a, c_b, n_b)) < 2e-6
