"""Monte-Carlo calibration, batch 7 (method in tests/test_calibration.py):
sequential monitors and distributional fits. The round-6 finding lives
here: Page-Hinkley WITHOUT a drift allowance is a zero-drift random
walk whose range grows like sd*sqrt(n), so the old 5*sd threshold
false-alarmed with probability 1.0 over a 365-day stationary null
(~236 alarm days) — the query now runs the classical delta = sd/2
allowance with lambda = 8*sd, and this module pins that operating
point. Also: CUSUM changepoint localization, Gini closed-form values,
HHI bounds, discrete power-law MLE recovery, Zipf slope recovery, the
Heaps-law log-log fit, and k-anonymity agreement."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from tests.conftest import query_pd

Z_SEED = 70707


# ================================================================ stats


def page_hinkley(y: np.ndarray, delta_f: float = 0.5, lam_f: float = 8.0) -> dict:
    mu, sd = float(np.mean(y)), float(np.std(y, ddof=1))
    m = np.cumsum(y - mu - delta_f * sd)
    ph = m - np.minimum.accumulate(m)
    alarms = ph > lam_f * sd
    return {
        "max_ph": float(np.max(ph)),
        "alarm_days": int(np.sum(alarms)),
        "first_alarm": int(np.argmax(alarms)) if alarms.any() else None,
    }


def cusum_argmax(y: np.ndarray) -> int:
    """0-based index of max |CUSUM| deviation (exact integer cross-multiply
    shape: n*S_t - t*S_n)."""
    n = len(y)
    s = np.cumsum(y)
    d = n * s - np.arange(1, n + 1) * s[-1]
    return int(np.argmax(np.abs(d)))


def gini(cents: np.ndarray) -> float:
    """Sample Gini via the rank-weighted form 2*sum(i*x_(i))/(n*sum x) -
    (n+1)/n."""
    x = np.sort(cents.astype(float))
    n = len(x)
    i = np.arange(1, n + 1)
    return 2.0 * float(np.sum(i * x)) / (n * float(np.sum(x))) - (n + 1.0) / n


def hhi(shares_cents: np.ndarray) -> dict:
    s = shares_cents / shares_cents.sum()
    h = float(np.sum(s * s))
    return {"hhi": h, "effective_n": 1.0 / h}


def powerlaw_alpha_mle(k: np.ndarray, kmin: int = 4) -> float:
    """Continuous-approximation power-law MLE on the tail k >= kmin with
    the 0.5 continuity shift (Clauset et al. 2009):
    alpha = 1 + n_tail / sum ln(k / (kmin - 0.5)). Accurate to ~2% for
    kmin >= 4; the naive kmin=1 spelling understates alpha by 7-35%."""
    t = k[k >= kmin]
    return 1.0 + len(t) / float(np.sum(np.log(t / (kmin - 0.5))))


def zipf_slope(freqs_desc: np.ndarray) -> dict:
    """OLS of ln f on ln rank over the given (already sorted desc) head."""
    lr = np.log(np.arange(1, len(freqs_desc) + 1))
    lf = np.log(freqs_desc.astype(float))
    mr, mf = lr.mean(), lf.mean()
    sxy = float(np.sum((lr - mr) * (lf - mf)))
    sxx = float(np.sum((lr - mr) ** 2))
    syy = float(np.sum((lf - mf) ** 2))
    return {
        "slope": sxy / sxx,
        "intercept": mf - sxy / sxx * mr,
        "r2": sxy * sxy / (sxx * syy),
    }


def loglog_fit(x: np.ndarray, y: np.ndarray) -> dict:
    lx, ly = np.log(x.astype(float)), np.log(y.astype(float))
    mx, my = lx.mean(), ly.mean()
    sxy = float(np.sum((lx - mx) * (ly - my)))
    sxx = float(np.sum((lx - mx) ** 2))
    syy = float(np.sum((ly - my) ** 2))
    return {
        "beta": sxy / sxx,
        "k": math.exp(my - sxy / sxx * mx),
        "r2": sxy * sxy / (sxx * syy),
    }


# ===================================================== null calibration


class TestCalibration7:
    def test_page_hinkley_operating_point(self):
        rng = np.random.default_rng(Z_SEED)
        # the OLD no-drift spelling false-alarms almost surely — the
        # round-6 finding this batch exists to prevent regressing
        old = [
            page_hinkley(rng.normal(0, 1, size=365), delta_f=0.0, lam_f=5.0)["alarm_days"] > 0
            for _ in range(300)
        ]
        assert float(np.mean(old)) > 0.95
        # the shipped (delta=sd/2, lambda=8sd) point: rare null alarms...
        null = [
            page_hinkley(rng.normal(0, 1, size=365))["alarm_days"] > 0 for _ in range(1000)
        ]
        assert float(np.mean(null)) <= 0.05, np.mean(null)
        # ...with real power and useful delay at a 2-sd shift
        hits, delays = [], []
        for _ in range(400):
            y = rng.normal(0, 1, size=365)
            y[200:] += 2.0
            r = page_hinkley(y)
            hits.append(r["alarm_days"] > 0)
            if r["first_alarm"] is not None:
                delays.append(max(0, r["first_alarm"] - 200))
        assert float(np.mean(hits)) > 0.95
        assert float(np.median(delays)) < 60

    def test_cusum_localizes_changepoint(self):
        rng = np.random.default_rng(Z_SEED + 1)
        errs = []
        for _ in range(400):
            y = rng.normal(0, 1, size=365)
            y[200:] += 1.5
            errs.append(abs(cusum_argmax(y) - 199))  # U_t peaks AT the last pre-shift idx
        assert float(np.median(errs)) <= 3, np.median(errs)

    def test_gini_closed_forms(self):
        rng = np.random.default_rng(Z_SEED + 2)
        # perfect equality -> 0
        assert abs(gini(np.full(1000, 42.0))) < 1e-12
        # exponential distribution -> 1/2 (population value)
        g = [gini(rng.exponential(100.0, size=4000)) for _ in range(50)]
        assert abs(float(np.mean(g)) - 0.5) < 0.01
        # uniform(0, a) -> 1/3
        g = [gini(rng.uniform(0, 100.0, size=4000)) for _ in range(50)]
        assert abs(float(np.mean(g)) - 1.0 / 3.0) < 0.01
        # one-holder-takes-all -> (n-1)/n
        x = np.zeros(100)
        x[0] = 1e6
        assert abs(gini(x) - 99 / 100) < 1e-9

    def test_hhi_bounds(self):
        assert abs(hhi(np.full(20, 5.0))["hhi"] - 1 / 20) < 1e-12
        assert abs(hhi(np.full(20, 5.0))["effective_n"] - 20.0) < 1e-9
        assert abs(hhi(np.array([100.0]))["hhi"] - 1.0) < 1e-12

    def test_powerlaw_mle_recovery(self):
        """Exact zeta samples: the shipped kmin=4 tail fit recovers alpha
        within ~3%; the naive kmin=1 fit (kept as alpha_mle_k1) is shown
        biased LOW — the round-6 finding that moved the primary column
        to the tail fit."""
        rng = np.random.default_rng(Z_SEED + 3)
        for alpha in (1.8, 2.5, 3.2):
            k = rng.zipf(alpha, size=100000)
            est = powerlaw_alpha_mle(k, kmin=4)
            assert abs(est - alpha) / alpha < 0.03, (alpha, est)
            naive = 1.0 + len(k) / float(np.sum(np.log(k * 2.0)))
            assert naive < alpha - 0.1  # systematic underestimate

    def test_zipf_slope_recovery(self):
        rng = np.random.default_rng(Z_SEED + 4)
        s_true = 1.1
        ranks = np.arange(1, 101)
        # exact Zipf frequencies -> slope recovered exactly, r2 = 1
        f = np.round(1e6 * ranks ** (-s_true)).astype(float)
        fit = zipf_slope(f)
        assert abs(fit["slope"] + s_true) < 0.01
        assert fit["r2"] > 0.999
        # multiplicative noise: slope still close, r2 drops but stays high
        f_noisy = f * np.exp(rng.normal(0, 0.1, size=100))
        fit = zipf_slope(np.sort(f_noisy)[::-1])
        assert abs(fit["slope"] + s_true) < 0.12

    def test_heaps_fit_recovery(self):
        rng = np.random.default_rng(Z_SEED + 5)
        k_true, beta_true = 12.0, 0.55
        n = np.array([1e3, 5e3, 2e4, 1e5, 5e5, 2e6])
        v = k_true * n**beta_true * np.exp(rng.normal(0, 0.02, size=6))
        fit = loglog_fit(n, v)
        assert abs(fit["beta"] - beta_true) < 0.03
        assert abs(fit["k"] - k_true) / k_true < 0.25
        assert fit["r2"] > 0.99


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def orders_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["day"] = o["o_orderdate"].dt.normalize()
    o["cents"] = np.round(o["o_totalprice"] * 100).astype("int64")
    return o


class TestTierAgreement7:
    def test_page_hinkley(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "ts_page_hinkley").iloc[0]
        daily = orders_pd.groupby("day")["cents"].sum().sort_index()
        ref = page_hinkley(daily.to_numpy(float))
        assert got["n_days"] == len(daily)
        assert abs(got["max_ph_cents"] - ref["max_ph"]) < 5.1e-5 * max(1.0, ref["max_ph"])
        assert got["alarm_days"] == ref["alarm_days"]
        if ref["first_alarm"] is None:
            assert pd.isna(got["first_alarm_day"])  # NULL -> NaT via toPandas
        else:
            assert pd.Timestamp(got["first_alarm_day"]) == daily.index[ref["first_alarm"]]

    def test_cusum(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "ts_cusum_changepoint").iloc[0]
        daily = orders_pd.groupby("day")["cents"].sum().sort_index()
        y = daily.to_numpy(float)
        idx = cusum_argmax(y)
        assert got["n_days"] == len(y)
        assert pd.Timestamp(got["cp_day"]) == daily.index[idx]
        n, s = len(y), np.cumsum(y)
        d = n * s - np.arange(1, n + 1) * s[-1]
        assert abs(got["max_cusum"] - np.max(np.abs(d)) / (100.0 * n)) < 5.1e-5 * max(
            1.0, got["max_cusum"]
        )

    def test_gini(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "stat_gini_customer_spend").iloc[0]
        spend = orders_pd.groupby("o_custkey")["cents"].sum()
        assert got["n_customers"] == len(spend)
        assert abs(got["gini"] - gini(spend.to_numpy())) < 1.1e-6
        # top-10% share: ranks strictly above 0.9n in the (cents, key) order
        sp = spend.reset_index().sort_values(["cents", "o_custkey"]).reset_index(drop=True)
        rn = np.arange(1, len(sp) + 1)
        top = float(sp.loc[rn > 0.9 * len(sp), "cents"].sum())
        assert abs(got["top10pct_share"] - top / float(sp["cents"].sum())) < 1.1e-6

    def test_hhi(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_hhi_concentration").set_index("region")
        li = pd.read_parquet(
            f"{sf_dir}/lineitem.parquet", columns=["l_suppkey", "l_extendedprice", "l_discount"]
        )
        s = pd.read_parquet(f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_nationkey"])
        n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_regionkey"])
        r = pd.read_parquet(f"{sf_dir}/region.parquet", columns=["r_regionkey", "r_name"])
        j = (
            li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
            .merge(n, left_on="s_nationkey", right_on="n_nationkey")
            .merge(r, left_on="n_regionkey", right_on="r_regionkey")
        )
        j["cents"] = np.round(j["l_extendedprice"] * (1 - j["l_discount"]) * 100).astype("int64")
        rev = j.groupby(["r_name", "s_suppkey"])["cents"].sum()
        for region, grp in rev.groupby(level=0):
            ref = hhi(grp.to_numpy(float))
            row = got.loc[region]
            assert row["n_suppliers"] == len(grp)
            assert abs(row["hhi"] - ref["hhi"]) < 1.1e-6
            assert abs(row["effective_n"] - ref["effective_n"]) < 5.1e-5 * ref["effective_n"]

    def test_powerlaw_fit(self, spark, sf_dir, orders_pd):
        got = query_pd(spark, sf_dir, "graph_powerlaw_fit").iloc[0]
        k = orders_pd.groupby("o_custkey").size().to_numpy(float)
        assert got["n_nodes"] == len(k)
        assert got["kmin"] == int(k.min()) and got["kmax"] == int(k.max())
        assert abs(got["mean_degree"] - float(np.mean(k))) < 1.1e-6
        assert got["k_min_fit"] == 4 and got["n_tail"] == int(np.sum(k >= 4))
        if got["n_tail"] > 0:
            assert abs(got["alpha_mle"] - powerlaw_alpha_mle(k, kmin=4)) < 1.1e-6
        naive = 1.0 + len(k) / float(np.sum(np.log(k * 2.0)))
        assert abs(got["alpha_mle_k1"] - naive) < 1.1e-6

    def test_zipf_fit(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "text_zipf_fit").iloc[0]
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
        from collections import Counter

        c: Counter = Counter()
        for text in docs["text"]:
            c.update(text.split(" "))
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
        f = np.array([v for _, v in top], dtype=float)
        ref = zipf_slope(f)
        # the synthetic corpus vocabulary can be smaller than the LIMIT
        assert got["n_terms"] == len(top)
        assert abs(got["zipf_slope"] - ref["slope"]) < 1.1e-6
        assert abs(got["intercept"] - ref["intercept"]) < 1.1e-6
        assert abs(got["r2"] - ref["r2"]) < 1.1e-6

    def test_heaps_fit(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "text_heaps_law_fit").iloc[0]
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source", "text"])
        rows = []
        for src, grp in docs.groupby("source"):
            toks = [t for text in grp["text"] for t in text.split(" ")]
            rows.append((len(toks), len(set(toks))))
        n = np.array([r[0] for r in rows], dtype=float)
        v = np.array([r[1] for r in rows], dtype=float)
        ref = loglog_fit(n, v)
        assert got["n_points"] == len(rows)
        assert abs(got["beta"] - ref["beta"]) < 1.1e-6
        assert abs(got["k"] - ref["k"]) < 5.1e-5 * max(1.0, ref["k"])
        assert abs(got["r2"] - ref["r2"]) < 1.1e-6

    def test_k_anonymity(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "dq_k_anonymity").iloc[0]
        c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_nationkey", "c_mktsegment"])
        k = c.groupby(["c_nationkey", "c_mktsegment"]).size()
        below = k[k < 5]
        assert got["qi_groups"] == len(k)
        assert got["min_k"] == int(k.min())
        assert got["groups_below_5"] == len(below)
        assert got["customers_below_5"] == int(below.sum())
        assert abs(got["reident_share"] - below.sum() / k.sum()) < 1.1e-6
