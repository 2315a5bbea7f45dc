"""Monte-Carlo calibration, batch 8 (method in tests/test_calibration.py):
the inference/effect-size/robust-location face. The round-6 finding
lives here: eval_conformal_interval used to FIT its group-mean model on
the same half it calibrated on, which shrinks the calibration residuals
in-sample and loses the split-conformal finite-sample guarantee —
Monte Carlo measured ~88.6% marginal coverage vs the nominal 90%; the
query now runs a proper 3-way split (train fold 0, calibrate fold 2,
test odd keys) whose coverage this module pins at >= 90% in
expectation. Also: Wilson-vs-Wald CI coverage, permutation-test size,
Welch-vs-pooled t size under unbalanced heteroskedasticity, chi-square
independence size/power, plug-in mutual information bias and closed
forms, Cohen's d / Hedges g small-sample bias, diff-in-differences
recovery under confounded levels, SMD balance, the OLS two-pass
centering's catastrophic-cancellation rationale, trimmed/winsorized
robustness under gross contamination, and Nelson-Aalen hazard recovery
under random censoring."""

from __future__ import annotations

import hashlib
import math
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from tests.conftest import assert_close_dp, query_pd

Z_SEED = 80808

# two-sided 95% Student-t critical values (|t| > q rejects at alpha=.05),
# standard published table; linear interpolation between entries
_T975_DF = np.array(
    [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
     21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 40, 60, 120, 1e9]
)
_T975_Q = np.array(
    [12.706, 4.303, 3.182, 2.776, 2.571, 2.447, 2.365, 2.306, 2.262, 2.228,
     2.201, 2.179, 2.160, 2.145, 2.131, 2.120, 2.110, 2.101, 2.093, 2.086,
     2.080, 2.074, 2.069, 2.064, 2.060, 2.056, 2.052, 2.048, 2.045, 2.042,
     2.021, 2.000, 1.980, 1.960]
)


def t975(df):
    return float(np.interp(df, _T975_DF, _T975_Q))


def wilson_ci(s: int, n: int) -> tuple[float, float]:
    """The query's exact spelling: z = 1.96, z^2 = 3.8416 as literals."""
    rad = math.sqrt(s * (n - s) * 1.0 / n + 0.9604)
    den = n + 3.8416
    return (s + 1.9208 - 1.96 * rad) / den, (s + 1.9208 + 1.96 * rad) / den


def round_half_up(x, dp=0):
    """Spark F.round (HALF_UP) for non-negative values; numpy's round is
    banker's and disagrees on exact .5 boundaries."""
    f = 10.0 ** dp
    return np.floor(np.asarray(x, dtype=float) * f + 0.5) / f


def cents_of(v) -> np.ndarray:
    return round_half_up(np.asarray(v, dtype=float) * 100).astype(np.int64)


def md5_bucket(s: str, mod: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def welch_t(x1: np.ndarray, x2: np.ndarray) -> tuple[float, float]:
    n1, n2 = len(x1), len(x2)
    v1, v2 = x1.var(ddof=1), x2.var(ddof=1)
    va, vb = v1 / n1, v2 / n2
    t = (x1.mean() - x2.mean()) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va * va / (n1 - 1) + vb * vb / (n2 - 1))
    return t, df


# ===================================================== null calibration


class TestCalibration8:
    def test_wilson_coverage_beats_wald(self):
        """Wilson 95% CI holds ~nominal coverage even at small n /
        extreme p, where the Wald interval collapses (Brown, Cai &
        DasGupta 2001). The engine ships Wilson for exactly this
        reason."""
        rng = np.random.default_rng(Z_SEED)
        for n, p in ((20, 0.05), (50, 0.2), (100, 0.5)):
            s = rng.binomial(n, p, size=4000)
            lo = np.empty(len(s))
            hi = np.empty(len(s))
            for i, si in enumerate(s):
                lo[i], hi[i] = wilson_ci(int(si), n)
            cov = float(np.mean((lo <= p) & (p <= hi)))
            assert cov >= 0.93, (n, p, cov)
        # Wald at (20, 0.05): catastrophic undercoverage
        s = rng.binomial(20, 0.05, size=4000)
        ph = s / 20.0
        se = np.sqrt(ph * (1 - ph) / 20.0)
        wald = float(np.mean((ph - 1.96 * se <= 0.05) & (0.05 <= ph + 1.96 * se)))
        assert wald < 0.80, wald

    def test_conformal_proper_split_coverage(self):
        """The defining property: split conformal with a DISJOINT
        train/calibration split covers >= 90% marginally in
        expectation; the pre-round-6 fit-on-calibration spelling
        undercovers (regression guard for the round-6 fix)."""
        rng = np.random.default_rng(Z_SEED + 1)

        def run(proper: bool, sims=600, n=120, n_test=240):
            cov = []
            for _ in range(sims):
                mu = rng.normal(0, 50, 5)
                g_cal = rng.integers(0, 5, n)
                y_cal = mu[g_cal] + rng.normal(0, 10, n)
                g_te = rng.integers(0, 5, n_test)
                y_te = mu[g_te] + rng.normal(0, 10, n_test)
                if proper:
                    g_tr = rng.integers(0, 5, n)
                    y_tr = mu[g_tr] + rng.normal(0, 10, n)
                else:
                    g_tr, y_tr = g_cal, y_cal
                yhat = np.array(
                    [y_tr[g_tr == k].mean() if (g_tr == k).any() else 0.0 for k in range(5)]
                )
                resid = np.sort(np.abs(y_cal - yhat[g_cal]))
                k = min(n, (9 * (n + 1) + 9) // 10)  # ceil(0.9*(n+1)) capped
                q = resid[k - 1]
                cov.append(float(np.mean(np.abs(y_te - yhat[g_te]) <= q)))
            return float(np.mean(cov))

        proper = run(proper=True)
        insample = run(proper=False)
        assert proper >= 0.895, proper  # guarantee: >= 0.9 - MC error
        assert insample < proper - 0.005, (insample, proper)  # the old bug

    def test_permutation_test_size(self):
        """A permutation p-value with add-one smoothing is valid: the
        rejection rate at alpha = 0.05 under a true null stays ~5%."""
        rng = np.random.default_rng(Z_SEED + 2)
        n, n_perms, rejections = 60, 199, []
        for _ in range(400):
            y = rng.exponential(100.0, n)
            grp = rng.integers(0, 2, n)
            if grp.min() == grp.max():
                continue
            obs = y[grp == 0].mean() - y[grp == 1].mean()
            signs = rng.integers(0, 2, (n_perms, n)).astype(bool)
            # vectorized relabeled mean differences
            c0 = signs.sum(axis=1)
            valid = (c0 > 0) & (c0 < n)
            s0 = (signs * y).sum(axis=1)
            tot = y.sum()
            d = s0 / np.maximum(c0, 1) - (tot - s0) / np.maximum(n - c0, 1)
            d = d[valid]
            p = (1 + np.sum(np.abs(d) >= abs(obs))) / (1 + len(d))
            rejections.append(p <= 0.05)
        size = float(np.mean(rejections))
        assert 0.02 <= size <= 0.09, size

    def test_welch_holds_size_where_pooled_fails(self):
        """The Behrens-Fisher stress case — small high-variance arm vs
        large low-variance arm (n=8/sd=10 vs n=80/sd=1): Welch with the
        Satterthwaite df holds ~5% size; the pooled-variance t test
        rejects a true null over HALF the time. This is why the engine
        ships Welch (stat_ab_welch_ttest, stat_welch_anova) and never
        the pooled t."""
        rng = np.random.default_rng(Z_SEED + 3)
        sims, n1, s1, n2, s2 = 5000, 8, 10.0, 80, 1.0
        x1 = rng.normal(0, s1, (sims, n1))
        x2 = rng.normal(0, s2, (sims, n2))
        m1, m2 = x1.mean(1), x2.mean(1)
        v1, v2 = x1.var(1, ddof=1), x2.var(1, ddof=1)
        va, vb = v1 / n1, v2 / n2
        tw = (m1 - m2) / np.sqrt(va + vb)
        dfw = (va + vb) ** 2 / (va**2 / (n1 - 1) + vb**2 / (n2 - 1))
        crit = np.interp(dfw, _T975_DF, _T975_Q)
        welch_size = float(np.mean(np.abs(tw) > crit))
        sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
        tp = (m1 - m2) / np.sqrt(sp2 * (1 / n1 + 1 / n2))
        pooled_size = float(np.mean(np.abs(tp) > t975(n1 + n2 - 2)))
        assert 0.035 <= welch_size <= 0.07, welch_size
        assert pooled_size > 0.30, pooled_size

    def test_chi_square_independence_size_and_power(self):
        """Sum of the query's per-cell (O-E)^2/E terms vs the df=4
        critical value 9.488 (2 variants x 5 types): ~5% rejections
        under independence, near-full power under a planted
        association."""
        rng = np.random.default_rng(Z_SEED + 4)
        pv = np.array([0.30, 0.25, 0.20, 0.15, 0.10])
        n = 500

        def chi2_stat(table):
            rown = table.sum(axis=1, keepdims=True)
            coln = table.sum(axis=0, keepdims=True)
            e = rown * coln / table.sum()
            mask = e > 0
            return float((((table - e) ** 2)[mask] / e[mask]).sum())

        null_rej = []
        for _ in range(2000):
            a = rng.multinomial(n, pv)
            b = rng.multinomial(n, pv)
            null_rej.append(chi2_stat(np.stack([a, b])) > 9.488)
        size = float(np.mean(null_rej))
        assert 0.03 <= size <= 0.07, size
        shifted = pv + np.array([0.10, -0.05, 0.0, -0.05, 0.0])
        power = float(
            np.mean(
                [
                    chi2_stat(
                        np.stack(
                            [rng.multinomial(1000, pv), rng.multinomial(1000, shifted)]
                        )
                    )
                    > 9.488
                    for _ in range(400)
                ]
            )
        )
        assert power > 0.9, power

    def test_mutual_information_closed_forms_and_bias(self):
        """Plug-in MI on exact counts reproduces closed forms (X=Y ->
        MI = H = ln 2, NMI = 1; independent exact table -> MI = 0) and
        the sampling bias under independence is the known
        (r-1)(c-1)/(2n) (Miller-Madow), shrinking with n."""

        def mi_plugin(table):
            n = table.sum()
            px = table.sum(axis=1) / n
            py = table.sum(axis=0) / n
            mi = 0.0
            for i in range(table.shape[0]):
                for j in range(table.shape[1]):
                    if table[i, j] > 0:
                        p = table[i, j] / n
                        mi += p * math.log(p / (px[i] * py[j]))
            hx = -sum(p * math.log(p) for p in px if p > 0)
            hy = -sum(p * math.log(p) for p in py if p > 0)
            return mi, hx, hy

        # X = Y fair coin: MI = Hx = Hy = ln 2, NMI = 1
        mi, hx, hy = mi_plugin(np.array([[500, 0], [0, 500]]))
        assert abs(mi - math.log(2)) < 1e-12
        assert abs(mi / math.sqrt(hx * hy) - 1.0) < 1e-12
        # exactly independent table: MI = 0
        mi, _, _ = mi_plugin(np.outer([300, 700], [200, 300, 500]) // 1000)
        assert abs(mi) < 1e-9
        # sampling bias under independence ~ (r-1)(c-1)/(2n) nats
        rng = np.random.default_rng(Z_SEED + 5)
        for n in (500, 5000):
            mis = []
            for _ in range(300):
                x = rng.integers(0, 2, n)
                y = rng.integers(0, 5, n)
                table = np.zeros((2, 5), dtype=int)
                np.add.at(table, (x, y), 1)
                mis.append(mi_plugin(table)[0])
            expected_bias = (2 - 1) * (5 - 1) / (2 * n)
            assert abs(float(np.mean(mis)) - expected_bias) < 3 * expected_bias / math.sqrt(
                len(mis)
            ) + 0.2 * expected_bias, (n, np.mean(mis), expected_bias)

    def test_cohens_d_bias_and_hedges_correction(self):
        """At n=10 per arm Cohen's d overestimates a true d=0.5 by
        several percent; Hedges' (1 - 3/(4N-9)) correction removes most
        of the bias. At n=2000 both recover d exactly."""
        rng = np.random.default_rng(Z_SEED + 6)

        def d_hat(n_arm, sims):
            x0 = rng.normal(0, 1, (sims, n_arm))
            x1 = rng.normal(0.5, 1, (sims, n_arm))
            v0, v1 = x0.var(1, ddof=1), x1.var(1, ddof=1)
            sp = np.sqrt(((n_arm - 1) * v0 + (n_arm - 1) * v1) / (2 * n_arm - 2))
            d = (x1.mean(1) - x0.mean(1)) / sp
            g = d * (1 - 3.0 / (4 * 2 * n_arm - 9))
            return float(d.mean()), float(g.mean())

        d_small, g_small = d_hat(10, 20000)
        assert d_small - 0.5 > 0.010, d_small  # visible upward bias
        assert abs(g_small - 0.5) < abs(d_small - 0.5) / 2, (d_small, g_small)
        d_big, g_big = d_hat(2000, 300)
        assert abs(d_big - 0.5) < 0.01 and abs(g_big - 0.5) < 0.01

    def test_did_removes_confounded_level(self):
        """Treated group has a +50 baseline LEVEL confounder and both
        groups share a +20 trend; true treatment effect = +30. The
        naive post-period difference eats the confounder whole (~80);
        DiD recovers 30, and its t-stat flags significance."""
        rng = np.random.default_rng(Z_SEED + 7)
        n = 400
        dids, naives, tstats = [], [], []
        for _ in range(300):
            pre0 = 100 + rng.normal(0, 15, n)
            pre1 = 150 + rng.normal(0, 15, n)
            post0 = 120 + rng.normal(0, 15, n)
            post1 = 150 + 20 + 30 + rng.normal(0, 15, n)
            did = (post1.mean() - pre1.mean()) - (post0.mean() - pre0.mean())
            se = math.sqrt(
                pre1.var(ddof=1) / n
                + post1.var(ddof=1) / n
                + pre0.var(ddof=1) / n
                + post0.var(ddof=1) / n
            )
            dids.append(did)
            tstats.append(did / se)
            naives.append(post1.mean() - post0.mean())
        assert abs(float(np.mean(dids)) - 30.0) < 0.5, np.mean(dids)
        assert abs(float(np.mean(naives)) - 80.0) < 0.5, np.mean(naives)
        assert float(np.mean(np.array(tstats) > 1.96)) > 0.99

    def test_smd_balance_calibration(self):
        """|SMD| stays well under the 0.1 balance threshold for
        identically-distributed arms at n=2000, and recovers a planted
        0.3-sd shift."""
        rng = np.random.default_rng(Z_SEED + 8)
        smds = []
        for _ in range(400):
            x0 = rng.exponential(100, 2000)
            x1 = rng.exponential(100, 2000)
            smd = (x1.mean() - x0.mean()) / math.sqrt(
                (x1.var(ddof=1) + x0.var(ddof=1)) / 2
            )
            smds.append(smd)
        assert float(np.mean(np.abs(smds) < 0.1)) > 0.99
        x0 = rng.normal(0, 1, 20000)
        x1 = rng.normal(0.3, 1, 20000)
        smd = (x1.mean() - x0.mean()) / math.sqrt((x1.var(ddof=1) + x0.var(ddof=1)) / 2)
        assert abs(smd - 0.3) < 0.03

    def test_ols_two_pass_centering_rationale(self):
        """Why stat_linear_regression centers first: on integer data
        with mean ~1e9 (the magnitude of cents sums at 100 TB), the
        one-pass n*Sxy - Sx*Sy spelling loses the slope to catastrophic
        cancellation in float64 (relative error > 1e-4 vs the exact
        rational answer) while the two-pass centered spelling stays at
        ~1e-15."""
        rng = np.random.default_rng(Z_SEED + 9)
        n = 100000
        xi = (rng.integers(0, 1000, n) + 10**9).astype(np.int64)
        yi = 3 * xi + rng.integers(-500, 500, n)
        x, y = xi.astype(float), yi.astype(float)
        sx, sy = x.sum(), y.sum()
        sxy, sxx = (x * y).sum(), (x * x).sum()
        naive = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        mx, my = x.mean(), y.mean()
        two_pass = ((x - mx) * (y - my)).sum() / ((x - mx) ** 2).sum()
        xo = xi.astype(object)
        exact = Fraction(
            n * int((xo * yi).sum()) - int(xi.sum()) * int(yi.sum()),
            n * int((xo * xi).sum()) - int(xi.sum()) ** 2,
        )
        ex = float(exact)
        assert abs(naive - ex) / ex > 1e-4, abs(naive - ex) / ex
        assert abs(two_pass - ex) / ex < 1e-9, abs(two_pass - ex) / ex

    def test_trimmed_winsorized_robust_to_contamination(self):
        """10% gross contamination (values x1e6) destroys the mean but
        moves the 10%-trimmed mean and the p10/p90-winsorized mean only
        marginally — the reason dq screens use them."""
        rng = np.random.default_rng(Z_SEED + 10)
        n = 5000
        clean = rng.normal(1000, 50, n)
        x = clean.copy()
        bad = rng.choice(n, n // 10, replace=False)
        x[bad] = 1e9
        assert abs(x.mean() - 1000) > 1e7  # mean is gone
        s = np.sort(x)
        cut = n // 10
        trimmed = s[cut : n - cut].mean()
        assert abs(trimmed - 1000) < 25, trimmed
        lo = s[((n - 1) * 10) // 100]  # type-1 order statistics
        hi = s[((n - 1) * 90) // 100]
        winsor = np.clip(x, lo, hi).mean()
        # the 10% contamination all sits at the top: winsorizing clamps
        # it to p90, leaving a bounded upward nudge, not 1e8
        assert abs(winsor - 1000) < 120, winsor

    def test_nelson_aalen_recovers_exponential_hazard(self):
        """Exponential(rate lambda) lifetimes under independent uniform
        censoring: the Nelson-Aalen estimator recovers H(t) = lambda*t,
        agrees with -ln(KM) to second order, and exp(-H) tracks the
        true survival."""
        rng = np.random.default_rng(Z_SEED + 11)
        lam, n = 0.02, 400
        t0 = 40.0  # evaluation point, well inside the data
        h_hats, km_diffs = [], []
        for _ in range(300):
            t_ev = rng.exponential(1 / lam, n)
            t_c = rng.uniform(0, 150, n)
            t_obs = np.minimum(t_ev, t_c)
            d_obs = (t_ev <= t_c).astype(int)
            order = np.argsort(t_obs)
            t_s, d_s = t_obs[order], d_obs[order]
            n_risk = n - np.arange(n)
            mask = (d_s == 1) & (t_s <= t0)
            h = float((d_s[mask] / n_risk[mask]).sum())
            h_hats.append(h)
            km = float(np.prod(1 - d_s[mask] / n_risk[mask]))
            km_diffs.append(abs(h - (-math.log(km))))
        assert abs(float(np.mean(h_hats)) - lam * t0) < 0.05 * lam * t0, np.mean(h_hats)
        assert float(np.max(km_diffs)) < 0.01  # second-order agreement
        assert abs(math.exp(-float(np.mean(h_hats))) - math.exp(-lam * t0)) < 0.02


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def ev_pd(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["cents"] = cents_of(e["value"].to_numpy())
    return e


@pytest.fixture(scope="module")
def ord_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = cents_of(o["o_totalprice"].to_numpy())
    return o


class TestTierAgreement8:
    def test_wilson_ci(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_wilson_ci").set_index("event_type")
        for et, g in ev_pd.groupby("event_type"):
            n = len(g)
            s = int((g["value"] > 100).sum())
            lo, hi = wilson_ci(s, n)
            row = got.loc[et]
            assert (row["n"], row["s"]) == (n, s)
            assert_close_dp(row["p_hat"], s / n, 6, et)
            assert_close_dp(row["wilson_lo"], lo, 6, et)
            assert_close_dp(row["wilson_hi"], hi, 6, et)

    def test_nelson_aalen(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_nelson_aalen").set_index("dur_s")
        us = ev_pd["ts"].astype("datetime64[ns]").astype("int64") // 1000
        u = pd.DataFrame({"user_id": ev_pd["user_id"], "us": us,
                          "err": (ev_pd["event_type"] == "error").astype(int)})
        per = u.groupby("user_id").agg(dur=("us", lambda s: (s.max() - s.min()) // 1_000_000),
                                       obs=("err", "max"))
        g = per.groupby("dur").agg(c=("obs", "size"), d=("obs", "sum")).sort_index()
        n = len(per)
        n_risk = n - g["c"].cumsum().shift(fill_value=0)
        hz = g["d"] / n_risk
        vz = g["d"] / (n_risk * n_risk)
        cum_hz, cum_vz = hz.cumsum(), vz.cumsum()
        ref = pd.DataFrame({"d": g["d"], "n_risk": n_risk, "H": cum_hz, "V": cum_vz})
        ref = ref[ref["d"] > 0]
        assert set(got.index) == set(ref.index)
        for dur, r in ref.iterrows():
            row = got.loc[dur]
            assert (row["n_events"], row["n_at_risk"]) == (r["d"], r["n_risk"])
            assert_close_dp(row["cum_hazard"], r["H"], 6, dur)
            assert_close_dp(row["var_hazard"], r["V"], 6, dur)
            assert_close_dp(row["surv_na"], math.exp(-r["H"]), 6, dur)

    def test_permutation_test(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_permutation_test").iloc[0]
        per = ev_pd.groupby("user_id")["cents"].sum()
        grp = per.index.to_numpy() % 2
        cents = per.to_numpy()
        obs = cents[grp == 0].mean() - cents[grp == 1].mean()
        ds = []
        for p in range(200):
            side = np.array(
                [md5_bucket(f"{p}:{u}", 2) for u in per.index], dtype=int
            )
            if side.min() == side.max():
                continue
            ds.append(cents[side == 0].mean() - cents[side == 1].mean())
        ds = np.array(ds)
        ext = int(np.sum(np.abs(ds) >= abs(obs)))
        assert got["n_users"] == len(per)
        assert_close_dp(got["obs_diff_cents"], obs, 4)
        assert got["n_perms"] == len(ds)
        assert got["n_extreme"] == ext
        assert_close_dp(got["p_value"], (1 + ext) / (1 + len(ds)), 6)

    def test_welch_ttest(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_ab_welch_ttest").iloc[0]
        p = ev_pd[ev_pd["event_type"] == "purchase"]
        a = p[p["user_id"] % 2 == 0]["value"].to_numpy()
        b = p[p["user_id"] % 2 == 1]["value"].to_numpy()
        t, df = welch_t(a, b)
        assert (got["n_a"], got["n_b"]) == (len(a), len(b))
        assert_close_dp(got["mean_a"], a.mean(), 4)
        assert_close_dp(got["mean_b"], b.mean(), 4)
        assert_close_dp(got["t_stat"], t, 4)
        assert_close_dp(got["df_welch"], df, 2)

    def test_chi_square_independence(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_chi_square_independence")
        v = np.where(ev_pd["user_id"] % 2 == 0, "A", "B")
        tab = pd.crosstab(v, ev_pd["event_type"])
        n = tab.to_numpy().sum()
        for _, row in got.iterrows():
            o = tab.loc[row["variant"], row["event_type"]]
            e = tab.loc[row["variant"]].sum() * tab[row["event_type"]].sum() / n
            assert row["observed"] == o
            assert_close_dp(row["expected"], e, 4)
            assert_close_dp(row["chi2_term"], (o - e) ** 2 / e, 6)

    def test_cohens_d(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_cohens_d").iloc[0]
        per = ev_pd.groupby("user_id")["cents"].sum()
        c0 = per[per.index % 2 == 0].to_numpy(float)
        c1 = per[per.index % 2 == 1].to_numpy(float)
        sp = math.sqrt(
            ((len(c0) - 1) * c0.var(ddof=1) + (len(c1) - 1) * c1.var(ddof=1))
            / (len(c0) + len(c1) - 2)
        )
        d = (c1.mean() - c0.mean()) / sp
        big_n = len(c0) + len(c1)
        assert (got["n_ctrl"], got["n_treat"]) == (len(c0), len(c1))
        assert_close_dp(got["mean_ctrl_cents"], c0.mean(), 4)
        assert_close_dp(got["mean_treat_cents"], c1.mean(), 4)
        assert_close_dp(got["cohens_d"], d, 6)
        assert_close_dp(got["hedges_g"], d * (1 - 3.0 / (4 * big_n - 9)), 6)

    def test_diff_in_differences(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_diff_in_differences").iloc[0]
        e = ev_pd.copy()
        e["pre"] = np.where(e["ts"].dt.day < 16, e["cents"], 0)
        e["post"] = np.where(e["ts"].dt.day >= 16, e["cents"], 0)
        u = e.groupby("user_id")[["pre", "post"]].sum()
        u["grp"] = u.index % 2
        cells = {}
        for g, gg in u.groupby("grp"):
            cells[g] = (len(gg), gg["pre"].to_numpy(float), gg["post"].to_numpy(float))
        n1, p1, o1 = cells[1]
        n0, p0, o0 = cells[0]
        did = (o1.mean() - p1.mean()) - (o0.mean() - p0.mean())
        se = math.sqrt(
            p1.var(ddof=1) / n1 + o1.var(ddof=1) / n1
            + p0.var(ddof=1) / n0 + o0.var(ddof=1) / n0
        )
        assert (got["n_treat"], got["n_ctrl"]) == (n1, n0)
        assert_close_dp(got["pre_treat"], p1.mean(), 4)
        assert_close_dp(got["post_treat"], o1.mean(), 4)
        assert_close_dp(got["did_cents"], did, 4)
        assert_close_dp(got["se_cents"], se, 4)
        assert_close_dp(got["t_stat"], did / se, 6)

    def test_mutual_information(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "stat_mutual_information").iloc[0]
        # Spark dayofweek: 1=Sunday..7=Saturday; pandas dayofweek 0=Monday
        y = ((ev_pd["ts"].dt.dayofweek + 1) % 7) + 1
        tab = pd.crosstab(ev_pd["event_type"], y).to_numpy().astype(float)
        n = tab.sum()
        px, py = tab.sum(axis=1) / n, tab.sum(axis=0) / n
        mi = sum(
            tab[i, j] / n * math.log(tab[i, j] * n / (tab.sum(axis=1)[i] * tab.sum(axis=0)[j]))
            for i in range(tab.shape[0])
            for j in range(tab.shape[1])
            if tab[i, j] > 0
        )
        hx = -sum(p * math.log(p) for p in px if p > 0)
        hy = -sum(p * math.log(p) for p in py if p > 0)
        assert got["n_cells"] == int((tab > 0).sum())
        assert got["n_events"] == int(n)
        assert_close_dp(got["mi_nats"], mi, 6)
        assert_close_dp(got["h_x"], hx, 6)
        assert_close_dp(got["h_y"], hy, 6)
        assert_close_dp(got["nmi"], mi / math.sqrt(hx * hy), 6)

    def test_smd_balance(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "stat_smd_balance").set_index("stratum")
        c = pd.read_parquet(f"{sf_dir}/customer.parquet")
        na = pd.read_parquet(f"{sf_dir}/nation.parquet")
        r = pd.read_parquet(f"{sf_dir}/region.parquet")
        x = (
            ord_pd.merge(c, left_on="o_custkey", right_on="c_custkey")
            .merge(na, left_on="c_nationkey", right_on="n_nationkey")
            .merge(r, left_on="n_regionkey", right_on="r_regionkey")
        )
        x["treated"] = (x["o_custkey"] % 2 == 0).astype(int)
        for stratum, g in x.groupby("r_name"):
            gt = g[g["treated"] == 1]["cents"].to_numpy(float)
            gc = g[g["treated"] == 0]["cents"].to_numpy(float)
            smd = (gt.mean() - gc.mean()) / math.sqrt(
                (gt.var(ddof=1) + gc.var(ddof=1)) / 2
            )
            row = got.loc[stratum]
            assert (row["n_treated"], row["n_control"]) == (len(gt), len(gc))
            assert_close_dp(row["smd"], smd, 6, stratum)
            assert row["balanced"] == (abs(smd) < 0.1)

    def test_linear_regression(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_linear_regression").set_index("l_returnflag")
        li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
        for flag, g in li.groupby("l_returnflag"):
            x = g["l_quantity"].to_numpy(float)
            y = g["l_extendedprice"].to_numpy(float)
            mx, my = x.mean(), y.mean()
            sxx = ((x - mx) ** 2).sum()
            sxy = ((x - mx) * (y - my)).sum()
            syy = ((y - my) ** 2).sum()
            row = got.loc[flag]
            assert row["n"] == len(g)
            assert_close_dp(row["slope"], sxy / sxx, 6, flag)
            assert_close_dp(row["intercept"], my - sxy / sxx * mx, 4, flag)
            assert_close_dp(row["r2"], sxy * sxy / (sxx * syy), 6, flag)

    def test_trimmed_mean(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "stat_trimmed_mean").iloc[0]
        s = np.sort(ord_pd["cents"].to_numpy())
        n = len(s)
        cut = n // 10
        kept = s[cut : n - cut]
        assert (got["n"], got["trimmed_each_side"]) == (n, cut)
        assert_close_dp(got["trimmed_mean"], kept.sum() / (100.0 * len(kept)), 4)
        assert_close_dp(got["lower_bound"], kept.min() / 100.0, 2)
        assert_close_dp(got["upper_bound"], kept.max() / 100.0, 2)

    def test_winsorized_mean(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "stat_winsorized_mean").set_index("o_orderpriority")
        for pri, g in ord_pd.groupby("o_orderpriority"):
            s = np.sort(g["cents"].to_numpy())
            n = len(s)
            lo = s[((n - 1) * 10) // 100]
            hi = s[((n - 1) * 90) // 100]
            row = got.loc[pri]
            assert (row["n"], row["lo_cents"], row["hi_cents"]) == (n, lo, hi)
            assert_close_dp(row["winsor_mean_cents"], np.clip(s, lo, hi).mean(), 4, pri)

    def test_conformal_interval(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "eval_conformal_interval").iloc[0]
        o = ord_pd
        train = o[o["o_orderkey"] % 4 == 0]
        model = train.groupby("o_orderpriority")["cents"].agg(["sum", "size"])
        yhat = (model["sum"] / model["size"]).to_dict()
        cal = o[(o["o_orderkey"] % 4 == 2) & o["o_orderpriority"].isin(yhat)]
        resid = np.sort(
            np.abs(
                cal["cents"].to_numpy(float)
                - cal["o_orderpriority"].map(yhat).to_numpy(float)
            )
        )
        n_cal = len(resid)
        k = min(n_cal, (9 * (n_cal + 1) + 9) // 10)
        q = resid[k - 1]
        te = o[(o["o_orderkey"] % 2 == 1) & o["o_orderpriority"].isin(yhat)]
        cov = int(
            (
                np.abs(
                    te["cents"].to_numpy(float)
                    - te["o_orderpriority"].map(yhat).to_numpy(float)
                )
                <= q
            ).sum()
        )
        assert (got["n_train"], got["n_cal"], got["n_test"]) == (
            len(train), n_cal, len(te),
        )
        assert_close_dp(got["q_resid_cents"], q, 4)
        assert got["covered"] == cov
        assert_close_dp(got["coverage"], cov / len(te), 6)
