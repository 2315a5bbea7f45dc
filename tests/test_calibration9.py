"""Monte-Carlo calibration, batch 9 (method in tests/test_calibration.py):
the time-series and calibration-curve face. Independent
literature-derived implementations verified on their DEFINING
properties — white-noise ACF size at the Bartlett band, AR(2) PACF
cutoff, Durbin-Levinson closed forms vs the general recursion, Holt /
Holt-Winters exactness on noiseless trend(+seasonal) data and
forecast-error decay, classical decomposition recovering a planted
day-of-week pattern under a linear trend, the trailing-window z-score's
algebraic detection ceiling (max |z| = (n-1)/sqrt(n) for an inclusive
window — threshold 2.0 sits just under the 7-day ceiling 2.268), the
EWMA closed-form window vs the sequential recursion, PSI closed forms,
weighted-PAVA minimax identity (Barlow et al. 1972), Cohen's kappa
chance correction, and blockwise average precision vs the textbook AP
— then pinned to each registry query on the tier input."""

from __future__ import annotations

import datetime
import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from tests.conftest import assert_close_dp, query_pd

Z_SEED = 90909


def acf_pairwise(y: np.ndarray, lag: int) -> tuple[int, float]:
    """ts_autocorrelation's convention: Pearson correlation of the
    (x_t, x_{t-lag}) pairs with PER-LAG means (not the Box-Jenkins
    global-mean autocovariance)."""
    x, yy = y[lag:], y[:-lag]
    dx, dy = x - x.mean(), yy - yy.mean()
    return len(x), float((dx * dy).sum() / math.sqrt((dx * dx).sum() * (dy * dy).sum()))


def acf_global(y: np.ndarray, lag: int) -> float:
    """Box-Jenkins autocovariance ACF with the global mean and c0
    denominator — ts_pacf_durbin's convention."""
    mu = y.mean()
    c0 = ((y - mu) ** 2).sum()
    return float(((y[lag:] - mu) * (y[:-lag] - mu)).sum() / c0)


def durbin_levinson(r: list[float]) -> list[float]:
    """General Durbin-Levinson recursion: PACF at lags 1..len(r) from
    the ACF values r[0]=r_1, r[1]=r_2, ... Independent of the query's
    unrolled closed forms."""
    pacf = [r[0]]
    phi = {1: {1: r[0]}}
    for k in range(2, len(r) + 1):
        num = r[k - 1] - sum(phi[k - 1][j] * r[k - 1 - j] for j in range(1, k))
        den = 1 - sum(phi[k - 1][j] * r[j - 1] for j in range(1, k))
        pkk = num / den
        phi[k] = {k: pkk}
        for j in range(1, k):
            phi[k][j] = phi[k - 1][j] - pkk * phi[k - 1][k - j]
        pacf.append(pkk)
    return pacf


def holt_seq(y: list[float], a=0.5, b=0.3):
    """ts_holt_linear's exact recursion: returns [(idx, level, trend,
    fitted)] for t >= 1 plus the final (l, b)."""
    out = []
    l_prev, b_prev = y[0], y[1] - y[0]
    fitted = l_prev + b_prev
    level = a * y[1] + (1 - a) * (l_prev + b_prev)
    tr = b * (level - l_prev) + (1 - b) * b_prev
    out.append((1, level, tr, fitted))
    for i in range(2, len(y)):
        fitted = level + tr
        l_new = a * y[i] + (1 - a) * (level + tr)
        tr = b * (l_new - level) + (1 - b) * tr
        level = l_new
        out.append((i, level, tr, fitted))
    return out, level, tr


def hw_seq(y: list[float], a=0.3, bb=0.1, g=0.2, p=7):
    """ts_holt_winters_weekly's exact recursion: two-week textbook init,
    additive season; returns fitted list (aligned to t >= p) and the
    final (l, b, s)."""
    w1 = sum(y[:p]) / p
    w2 = sum(y[p : 2 * p]) / p
    level, tr = w1, (w2 - w1) / p
    s = [v - w1 for v in y[:p]]
    fits = []
    for t in range(p, len(y)):
        s_head = s[0]
        fitted = level + tr + s_head
        l_new = a * (y[t] - s_head) + (1 - a) * (level + tr)
        tr = bb * (l_new - level) + (1 - bb) * tr
        s = s[1:] + [g * (y[t] - l_new) + (1 - g) * s_head]
        level = l_new
        fits.append(fitted)
    return fits, level, tr, s


def ewma_recursive(x: np.ndarray, alpha=0.2) -> np.ndarray:
    out = np.empty(len(x))
    out[0] = x[0]
    for i in range(1, len(x)):
        out[i] = alpha * x[i] + (1 - alpha) * out[i - 1]
    return out


def pava_weighted(w: np.ndarray, s: np.ndarray) -> np.ndarray:
    """Classical pool-adjacent-violators loop (weights w, successes s):
    merges adjacent blocks while a violation exists. Independent of the
    query's minimax spelling."""
    blocks = [[i, i, float(w[i]), float(s[i])] for i in range(len(w))]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][3] / blocks[i][2] > blocks[i + 1][3] / blocks[i + 1][2] + 1e-15:
            blocks[i][1] = blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            blocks[i][3] += blocks[i + 1][3]
            del blocks[i + 1]
            if i > 0:
                i -= 1
        else:
            i += 1
    out = np.empty(len(w))
    for lo, hi, ww, ss in blocks:
        out[lo : hi + 1] = ss / ww
    return out


def pava_minimax(w: np.ndarray, s: np.ndarray) -> np.ndarray:
    """The query's spelling: f(k) = max_{i<=k} min_{j>=k} mean(i..j)."""
    n = len(w)
    cw = np.concatenate([[0], np.cumsum(w)])
    cs = np.concatenate([[0], np.cumsum(s)])
    out = np.empty(n)
    for k in range(n):
        best = -np.inf
        for i in range(k + 1):
            m = min(
                (cs[j + 1] - cs[i]) / (cw[j + 1] - cw[i]) for j in range(k, n)
            )
            best = max(best, m)
        out[k] = best
    return out


def ap_blockwise(scores: np.ndarray, labels: np.ndarray) -> float:
    """eval_auprc's convention: descending distinct-score blocks,
    AP = sum_blocks (pos_b / P) * precision-at-end-of-block."""
    df = pd.DataFrame({"s": scores, "y": labels}).groupby("s").agg(
        pos=("y", "sum"), tot=("y", "size")
    ).sort_index(ascending=False)
    big_p = df["pos"].sum()
    cum_pos = df["pos"].cumsum()
    cum_tot = df["tot"].cumsum()
    return float((df["pos"] / big_p * (cum_pos / cum_tot)).sum())


def ap_textbook(scores: np.ndarray, labels: np.ndarray) -> float:
    """Textbook AP for DISTINCT scores: mean over positives of
    precision at the positive's rank."""
    order = np.argsort(-scores, kind="stable")
    y = labels[order]
    hits = np.cumsum(y)
    ranks = np.arange(1, len(y) + 1)
    return float((hits[y == 1] / ranks[y == 1]).mean())


def psi_terms(p: np.ndarray, q: np.ndarray, floor=1e-4) -> np.ndarray:
    pr = np.where(p > 0, p, floor)
    pc = np.where(q > 0, q, floor)
    return (pc - pr) * np.log(pc / pr)


# ===================================================== null calibration


class TestCalibration9:
    def test_acf_white_noise_band(self):
        """White noise: each sample ACF ~ N(0, 1/n); the +-1.96/sqrt(n)
        Bartlett band captures ~95% per lag."""
        rng = np.random.default_rng(Z_SEED)
        n = 365
        outside = []
        for _ in range(500):
            y = rng.normal(0, 1, n)
            for lag in (1, 3, 7):
                _, r = acf_pairwise(y, lag)
                outside.append(abs(r) > 1.96 / math.sqrt(n - lag))
        rate = float(np.mean(outside))
        assert 0.03 <= rate <= 0.07, rate

    def test_acf_recovers_ar1(self):
        """AR(1) with phi = 0.6: acf_k -> phi^k."""
        rng = np.random.default_rng(Z_SEED + 1)
        phi, n = 0.6, 20000
        e = rng.normal(0, 1, n)
        y = np.empty(n)
        y[0] = e[0]
        for i in range(1, n):
            y[i] = phi * y[i - 1] + e[i]
        for lag in (1, 2, 3):
            _, r = acf_pairwise(y, lag)
            assert abs(r - phi**lag) < 0.03, (lag, r)

    def test_pacf_closed_forms_match_durbin_levinson(self):
        """The query's unrolled pacf2/pacf3 equal the general recursion
        on ACFs of REAL random series (guaranteed valid/PD), and AR(2)
        shows the defining cutoff: pacf2 -> phi2, pacf3 ~ 0."""
        rng = np.random.default_rng(Z_SEED + 2)
        for _ in range(50):
            y = rng.normal(0, 1, 200) + np.cumsum(rng.normal(0, 0.3, 200))
            r1, r2, r3 = (acf_global(y, k) for k in (1, 2, 3))
            pacf2 = (r2 - r1 * r1) / (1 - r1 * r1)
            phi21 = r1 * (1 - pacf2)
            pacf3 = (r3 - phi21 * r2 - pacf2 * r1) / (1 - phi21 * r1 - pacf2 * r2)
            dl = durbin_levinson([r1, r2, r3])
            assert abs(dl[0] - r1) < 1e-12
            assert abs(dl[1] - pacf2) < 1e-10
            assert abs(dl[2] - pacf3) < 1e-10
        # AR(2): y_t = 0.5 y_{t-1} + 0.3 y_{t-2} + e
        n = 30000
        e = rng.normal(0, 1, n)
        y = np.zeros(n)
        for i in range(2, n):
            y[i] = 0.5 * y[i - 1] + 0.3 * y[i - 2] + e[i]
        r = [acf_global(y, k) for k in (1, 2, 3, 4)]
        dl = durbin_levinson(r)
        assert abs(dl[1] - 0.3) < 0.03, dl  # pacf2 -> phi2
        assert abs(dl[2]) < 2.5 * 1.96 / math.sqrt(n), dl  # cutoff beyond order
        assert abs(dl[3]) < 2.5 * 1.96 / math.sqrt(n), dl

    def test_holt_exact_on_linear_and_beats_naive(self):
        """On noiseless linear data the Holt recursion is EXACT from
        the first fitted value (init l0 = y1, b0 = y2 - y1 equals the
        truth, and the update is a fixed point); on noisy trending data
        its 1-step fits beat the last-value naive forecast."""
        y = [100.0 + 7.0 * t for t in range(40)]
        fits, level, tr = holt_seq(y)
        for i, _l, _b, fitted in fits:
            assert abs(fitted - y[i]) < 1e-9
        for h in (1, 2, 3):
            assert abs((level + h * tr) - (y[-1] + 7.0 * h)) < 1e-9
        rng = np.random.default_rng(Z_SEED + 3)
        yy = list(100 + 7 * np.arange(120) + rng.normal(0, 5, 120))
        fits, _, _ = holt_seq(yy)
        holt_sse = sum((f - yy[i]) ** 2 for i, _l, _b, f in fits[5:])
        naive_sse = sum((yy[i] - yy[i - 1]) ** 2 for i in range(6, 120))
        assert holt_sse < naive_sse * 0.8, (holt_sse, naive_sse)

    def test_holt_winters_recovers_trend_plus_season(self):
        """Noiseless trend + weekly additive season: after the textbook
        init the HW recursion's fitted error decays geometrically and
        the 1..7-day forecasts land within a tight band of the truth;
        the seasonal state converges to the planted pattern (up to the
        level shift absorbed by l)."""
        season = [30.0, -10.0, -25.0, 5.0, 15.0, -20.0, 5.0]  # sums to 0
        y = [1000.0 + 2.0 * t + season[t % 7] for t in range(140)]
        fits, level, tr, s = hw_seq(y)
        late = [abs(fits[i] - y[7 + i]) for i in range(len(fits) - 28, len(fits))]
        assert max(late) < 1.5, max(late)
        assert abs(tr - 2.0) < 0.05, tr
        for h in range(1, 8):
            truth = 1000.0 + 2.0 * (139 + h) + season[(139 + h) % 7]
            assert abs((level + h * tr + s[h - 1]) - truth) < 2.0, h
        # seasonal state (re-centered) tracks the planted pattern
        sc = [v - sum(s) / 7 for v in s]
        planted = [season[(140 + i) % 7] for i in range(7)]
        assert max(abs(a - b) for a, b in zip(sc, planted)) < 1.5

    def test_stl_dow_recovers_planted_season(self):
        """Linear trend + planted day-of-week pattern + noise: the
        centered-MA detrend (exact on linear trends) recovers the
        re-centered dow indices within the noise tolerance and the
        residual RMS tracks the noise sd."""
        rng = np.random.default_rng(Z_SEED + 4)
        season = {0: 40.0, 1: -15.0, 2: -30.0, 3: 0.0, 4: 10.0, 5: -25.0, 6: 20.0}
        n = 364
        noise = rng.normal(0, 5, n)
        y = np.array([500 + 1.5 * t + season[t % 7] + noise[t] for t in range(n)])
        d7 = np.array(
            [7 * y[t] - y[t - 3 : t + 4].sum() for t in range(3, n - 3)]
        )
        dows = np.array([t % 7 for t in range(3, n - 3)])
        means = {d: d7[dows == d].mean() for d in range(7)}
        grand = np.mean(list(means.values()))
        s_hat = {d: (means[d] - grand) / 7 for d in range(7)}
        mean_s = np.mean(list(season.values()))
        for d in range(7):
            assert abs(s_hat[d] - (season[d] - mean_s)) < 2.5, (d, s_hat[d])
        resid = d7 / 7 - np.array([s_hat[d] for d in dows])
        rms = float(np.sqrt((resid**2).mean()))
        # var(d7/7) for iid noise = sd^2 * (36+6)/49 = sd^2 * 6/7
        assert abs(rms - 5 * math.sqrt(6 / 7)) < 1.0, rms

    def test_rolling_zscore_ceiling_and_detection(self):
        """Algebraic ceiling: an INCLUSIVE n-point window bounds
        |x - mean|/sd by (n-1)/sqrt(n) (= 2.268 at n = 7), so threshold
        2.0 is just under the ceiling — null flags are rare but a gross
        spike still always flags (its own presence can't push z past
        the bound, but it exceeds 2.0 for spikes >> window sd)."""
        n = 7
        ceiling = (n - 1) / math.sqrt(n)
        assert 2.0 < ceiling < 2.3
        rng = np.random.default_rng(Z_SEED + 5)
        flags = spikes = 0
        trials = 3000
        for _ in range(trials):
            w = rng.normal(0, 1, n)
            z = (w[-1] - w.mean()) / w.std(ddof=1)
            flags += abs(z) > 2.0
            w2 = np.append(rng.normal(0, 1, n - 1), 50.0)  # gross spike
            z2 = (w2[-1] - w2.mean()) / w2.std(ddof=1)
            spikes += abs(z2) > 2.0
        assert flags / trials < 0.02, flags / trials  # rare null alarms
        assert spikes == trials  # gross spikes always flag

    def test_ewma_closed_form_equals_recursion(self):
        """The engine's O(1)-per-row closed form
        s_t = beta^t * sum(g_i) equals the sequential recursion, and the
        steady-state variance ratio is the textbook alpha/(2-alpha)."""
        rng = np.random.default_rng(Z_SEED + 6)
        x = rng.normal(100, 20, 200)
        alpha, beta = 0.2, 0.8
        rn = np.arange(1, len(x) + 1)
        gs = np.where(rn == 1, x / beta, x * alpha / beta**rn)
        closed = beta**rn * np.cumsum(gs)
        seq = ewma_recursive(x, alpha)
        assert np.max(np.abs(closed - seq) / np.abs(seq)) < 1e-9
        big = rng.normal(0, 1, (400, 3000))
        sm = np.empty_like(big)
        sm[:, 0] = big[:, 0]
        for i in range(1, big.shape[1]):
            sm[:, i] = alpha * big[:, i] + (1 - alpha) * sm[:, i - 1]
        ratio = float(sm[:, -1].var() / 1.0)
        assert abs(ratio - alpha / (2 - alpha)) < 0.02, ratio

    def test_psi_closed_form_and_thresholds(self):
        """PSI = 0 for identical distributions; equals its closed form
        for known discrete shifts; the 0.1 / 0.25 industry thresholds
        order mild vs major drift correctly."""
        p = np.array([0.3, 0.25, 0.2, 0.15, 0.1])
        assert abs(psi_terms(p, p).sum()) < 1e-15
        q_mild = np.array([0.27, 0.26, 0.21, 0.16, 0.10])
        q_major = np.array([0.10, 0.15, 0.20, 0.25, 0.30])
        psi_mild = psi_terms(p, q_mild).sum()
        psi_major = psi_terms(p, q_major).sum()
        assert psi_mild < 0.1 < psi_major
        assert psi_major > 0.25
        rng = np.random.default_rng(Z_SEED + 7)
        n = 50000
        a = rng.choice(5, n, p=p)
        b = rng.choice(5, n, p=q_major)
        pa = np.bincount(a, minlength=5) / n
        pb = np.bincount(b, minlength=5) / n
        assert abs(psi_terms(pa, pb).sum() - psi_major) < 0.02

    def test_pava_minimax_identity_and_calibration(self):
        """The minimax formula the query runs equals the classical
        pool-adjacent-violators loop on random weighted inputs
        (Barlow et al. 1972 Thm 1.4.4), is monotone, preserves the
        weighted mean, and reduces squared error against a monotone
        truth vs the raw binned rates."""
        rng = np.random.default_rng(Z_SEED + 8)
        for _ in range(200):
            k = rng.integers(3, 12)
            w = rng.integers(1, 50, k).astype(float)
            s = np.array([rng.binomial(int(wi), rng.uniform(0, 1)) for wi in w], float)
            mm = pava_minimax(w, s)
            loop = pava_weighted(w, s)
            assert np.max(np.abs(mm - loop)) < 1e-10
            assert np.all(np.diff(mm) >= -1e-12)  # monotone
            assert abs((mm * w).sum() - s.sum()) < 1e-8  # mean-preserving
        truth = np.linspace(0.1, 0.9, 10)
        w = np.full(10, 40.0)
        sse_iso, sse_raw = [], []
        for _ in range(300):
            s = rng.binomial(40, truth).astype(float)
            raw = s / w
            iso = pava_weighted(w, s)
            sse_raw.append(((raw - truth) ** 2).sum())
            sse_iso.append(((iso - truth) ** 2).sum())
        assert np.mean(sse_iso) < np.mean(sse_raw) * 0.9

    def test_kappa_chance_correction(self):
        """Independent raters score kappa ~ 0 whatever the marginals;
        perfect agreement scores exactly 1; a known confusion matrix
        reproduces its closed form."""
        rng = np.random.default_rng(Z_SEED + 9)
        kappas = []
        for _ in range(300):
            a = rng.choice(3, 2000, p=[0.6, 0.3, 0.1])
            b = rng.choice(3, 2000, p=[0.2, 0.3, 0.5])
            po = float(np.mean(a == b))
            pa = np.bincount(a, minlength=3) / 2000
            pb = np.bincount(b, minlength=3) / 2000
            pe = float((pa * pb).sum())
            kappas.append((po - pe) / (1 - pe))
        assert abs(float(np.mean(kappas))) < 0.01
        assert float(np.std(kappas)) < 0.05
        a = rng.choice(3, 500)
        po, pe = 1.0, float(((np.bincount(a, minlength=3) / 500) ** 2).sum())
        assert abs((po - pe) / (1 - pe) - 1.0) < 1e-12
        conf = np.array([[40, 10], [5, 45]], float)
        n = conf.sum()
        po = np.trace(conf) / n
        pe = (conf.sum(1) * conf.sum(0)).sum() / (n * n)
        assert abs((po - pe) / (1 - pe) - 0.7) < 1e-12

    def test_blockwise_ap_matches_textbook(self):
        """With all-distinct scores the blockwise AP equals the
        textbook mean-precision-at-positives; a perfect ranker scores
        1; a constant scorer scores exactly the prevalence."""
        rng = np.random.default_rng(Z_SEED + 10)
        for _ in range(100):
            n = int(rng.integers(20, 200))
            scores = rng.permutation(n).astype(float)  # all distinct
            labels = (rng.random(n) < 0.3).astype(int)
            if labels.sum() == 0:
                continue
            assert abs(ap_blockwise(scores, labels) - ap_textbook(scores, labels)) < 1e-12
        labels = np.array([1] * 10 + [0] * 90)
        perfect = -np.arange(100).astype(float)
        assert abs(ap_blockwise(perfect, labels) - 1.0) < 1e-12
        const = np.zeros(100)
        assert abs(ap_blockwise(const, labels) - 0.1) < 1e-12
        rnd = rng.random(4000)
        lab = (rng.random(4000) < 0.15).astype(int)
        assert abs(ap_blockwise(rnd, lab) - 0.15) < 0.04


# ==================================================== tier agreement


def _cents(v) -> np.ndarray:
    return np.floor(np.asarray(v, float) * 100 + 0.5).astype(np.int64)


@pytest.fixture(scope="module")
def daily_rev(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = _cents(o["o_totalprice"].to_numpy())
    o["day"] = pd.to_datetime(o["o_orderdate"]).dt.normalize()
    return o.groupby("day")["cents"].sum().sort_index()


@pytest.fixture(scope="module")
def daily_type(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    e["cents"] = _cents(e["value"].to_numpy())
    e["day"] = e["ts"].dt.normalize()
    return e.groupby(["event_type", "day"])["cents"].sum().sort_index()


class TestTierAgreement9:
    def test_ewma_daily(self, spark, sf_dir, daily_type):
        got = query_pd(spark, sf_dir, "ts_ewma_daily")
        for et, s in daily_type.groupby(level=0):
            y = s.droplevel(0).sort_index().to_numpy(float)
            ref = ewma_recursive(y, 0.2) / 100.0
            sub = got[got["event_type"] == et].sort_values("day")
            assert len(sub) == len(y)
            for got_v, ref_v in zip(sub["ewma_value"], ref):
                assert_close_dp(got_v, ref_v, 2, et)

    def test_rolling_zscore(self, spark, sf_dir, daily_type):
        got = query_pd(spark, sf_dir, "ts_rolling_zscore")
        for et, s in daily_type.groupby(level=0):
            y = s.droplevel(0).sort_index().to_numpy(float)
            sub = got[got["event_type"] == et].sort_values("day").reset_index(drop=True)
            assert len(sub) == len(y)
            for i in range(len(y)):
                w = y[max(0, i - 6) : i + 1]
                if len(w) >= 3 and w.std(ddof=1) > 0:
                    z = (y[i] - w.mean()) / w.std(ddof=1)
                    assert_close_dp(sub.loc[i, "z"], z, 4, (et, i))
                    assert bool(sub.loc[i, "is_anomaly"]) == (abs(z) > 2.0)
                else:
                    assert pd.isna(sub.loc[i, "z"])

    def test_autocorrelation(self, spark, sf_dir, daily_rev):
        got = query_pd(spark, sf_dir, "ts_autocorrelation").set_index("lag")
        y = daily_rev.to_numpy(float)
        for lag in range(1, 8):
            n, r = acf_pairwise(y, lag)
            assert got.loc[lag, "n_pairs"] == n
            assert_close_dp(got.loc[lag, "acf"], r, 6, lag)

    def test_pacf_durbin(self, spark, sf_dir, daily_rev):
        got = query_pd(spark, sf_dir, "ts_pacf_durbin").iloc[0]
        y = daily_rev.to_numpy(float)
        r1, r2, r3 = (acf_global(y, k) for k in (1, 2, 3))
        dl = durbin_levinson([r1, r2, r3])
        assert got["n_days"] == len(y)
        assert_close_dp(got["acf1"], r1, 6)
        assert_close_dp(got["acf2"], r2, 6)
        assert_close_dp(got["acf3"], r3, 6)
        assert_close_dp(got["pacf1"], dl[0], 6)
        assert_close_dp(got["pacf2"], dl[1], 6)
        assert_close_dp(got["pacf3"], dl[2], 6)

    def test_holt_linear(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "ts_holt_linear")
        o = pd.read_parquet(f"{sf_dir}/orders.parquet")
        o["cents"] = _cents(o["o_totalprice"].to_numpy())
        m = (
            o.groupby(pd.to_datetime(o["o_orderdate"]).dt.to_period("M"))["cents"]
            .sum()
            .sort_index()
        )
        y = [float(v) for v in m.to_numpy()]
        fits, level, tr = holt_seq(y)
        hist = got[got["horizon"] == 0].sort_values("month").reset_index(drop=True)
        assert len(hist) == len(fits)
        for k, (i, lv, b, f) in enumerate(fits):
            row = hist.loc[k]
            assert row["y_cents"] == int(y[i])
            assert_close_dp(row["level"], lv, 4, k)
            assert_close_dp(row["trend"], b, 4, k)
            assert_close_dp(row["fitted"], f, 4, k)
        fc = got[got["horizon"] > 0].sort_values("horizon").reset_index(drop=True)
        assert len(fc) == 3
        for h in (1, 2, 3):
            assert_close_dp(fc.loc[h - 1, "fitted"], level + h * tr, 4, h)
            assert pd.isna(fc.loc[h - 1, "y_cents"])
        # forecast months continue the calendar
        last = m.index[-1].to_timestamp()
        for h in (1, 2, 3):
            assert fc.loc[h - 1, "month"] == last + pd.DateOffset(months=h)

    def test_holt_winters_weekly(self, spark, sf_dir, daily_rev):
        got = query_pd(spark, sf_dir, "ts_holt_winters_weekly")
        y = [float(v) for v in daily_rev.to_numpy()]
        days = daily_rev.index
        fits, level, tr, s = hw_seq(y)
        hist = got[got["horizon"] == 0].sort_values("day").reset_index(drop=True)
        tail = fits[-28:] if len(fits) > 28 else fits
        assert len(hist) == len(tail)
        off = len(fits) - len(tail)
        for k, f in enumerate(tail):
            row = hist.loc[k]
            idx = 7 + off + k
            assert row["y_cents"] == int(y[idx])
            assert row["day"] == days[idx]
            assert_close_dp(row["fitted"], f, 4, k)
        fc = got[got["horizon"] > 0].sort_values("horizon").reset_index(drop=True)
        assert len(fc) == 7
        for h in range(1, 8):
            assert_close_dp(fc.loc[h - 1, "fitted"], level + h * tr + s[h - 1], 4, h)
            assert fc.loc[h - 1, "day"] == days[-1] + pd.Timedelta(days=h)

    def test_stl_decompose_dow(self, spark, sf_dir, daily_rev):
        got = query_pd(spark, sf_dir, "ts_stl_decompose_dow").set_index("dow")
        y = daily_rev.to_numpy(float)
        days = daily_rev.index
        n = len(y)
        d7 = np.array([7 * y[t] - y[t - 3 : t + 4].sum() for t in range(3, n - 3)])
        dows = np.array([((d.dayofweek + 1) % 7) + 1 for d in days[3 : n - 3]])
        means = {d: d7[dows == d].mean() for d in sorted(set(dows))}
        grand = np.mean(list(means.values()))
        for d in sorted(set(dows)):
            s_hat = (means[d] - grand) / 7
            row = got.loc[d]
            assert row["n_days"] == int((dows == d).sum())
            assert_close_dp(row["seasonal_cents"], s_hat, 4, d)
            resid = d7[dows == d] / 7 - s_hat
            assert_close_dp(row["resid_rms_cents"], math.sqrt((resid**2).mean()), 4, d)

    def test_population_stability(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "dq_population_stability").set_index("bucket")
        o = pd.read_parquet(f"{sf_dir}/orders.parquet")
        ep = pd.to_datetime(o["o_orderdate"]).astype("datetime64[ns]").astype("int64") / 1e9
        mid = (ep.min() + ep.max()) / 2
        era = np.where(ep < mid, "ref", "cur")
        bucket = np.minimum(np.floor(o["o_totalprice"].to_numpy() / 60000.0), 9).astype(int)
        ref_n = pd.Series(bucket[era == "ref"]).value_counts()
        cur_n = pd.Series(bucket[era == "cur"]).value_counts()
        for b in got.index:
            pr = ref_n.get(b, np.nan) / ref_n.sum()
            pc = cur_n.get(b, np.nan) / cur_n.sum()
            pr = 0.0001 if pd.isna(pr) else pr
            pc = 0.0001 if pd.isna(pc) else pc
            assert_close_dp(got.loc[b, "p_ref"], pr, 6, b)
            assert_close_dp(got.loc[b, "p_cur"], pc, 6, b)
            assert_close_dp(got.loc[b, "psi_term"], (pc - pr) * math.log(pc / pr), 6, b)

    def test_isotonic_calibration(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_isotonic_calibration").sort_values("bin")
        e = pd.read_parquet(f"{sf_dir}/events.parquet")
        b = pd.DataFrame(
            {
                "bin": np.floor(e["value"].to_numpy(float) / 8.0).astype(np.int64),
                "y": (e["event_type"] == "purchase").astype(int),
            }
        ).groupby("bin").agg(w=("y", "size"), s=("y", "sum")).sort_index()
        iso = pava_weighted(b["w"].to_numpy(float), b["s"].to_numpy(float))
        assert list(got["bin"]) == list(b.index)
        for k, (_, row) in enumerate(got.iterrows()):
            assert (row["w"], row["s"]) == (b["w"].iloc[k], b["s"].iloc[k])
            assert_close_dp(row["raw_rate"], b["s"].iloc[k] / b["w"].iloc[k], 6, k)
            assert_close_dp(row["iso_rate"], iso[k], 6, k)
        assert np.all(np.diff(got["iso_rate"].to_numpy()) >= -1e-6)

    def test_cohens_kappa(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_cohens_kappa").iloc[0]
        d = pd.read_parquet(f"{sf_dir}/documents.parquet")

        def band(v):
            return "short" if v < 250 else ("mid" if v < 360 else "long")

        a = d["n_chars"].map(band)
        jit = d["text"].map(
            lambda t: int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % 101 - 50
        )
        b = (d["n_chars"] + jit).map(band)
        n = len(d)
        po = float((a == b).mean())
        pa = a.value_counts(normalize=True)
        pb = b.value_counts(normalize=True)
        pe = float(sum(pa.get(k, 0) * pb.get(k, 0) for k in set(pa.index) | set(pb.index)))
        assert got["n_items"] == n
        assert_close_dp(got["p_observed"], po, 6)
        assert_close_dp(got["p_expected"], pe, 6)
        assert_close_dp(got["kappa"], (po - pe) / (1 - pe), 6)

    def test_auprc_blockwise(self, spark, sf_dir):
        """Pin eval_auprc to the blockwise-AP definition computed from
        the engine's own scored frame (score/label pulled through the
        registry's oracled scoring sibling conventions)."""
        import etl_file_sync_spark.queries.eval_face as EF

        got = query_pd(spark, sf_dir, "eval_auprc").iloc[0]
        sdf = EF._scored(spark, sf_dir).toPandas()
        ap = ap_blockwise(sdf["score"].to_numpy(float), sdf["label"].to_numpy(int))
        assert got["n_pos"] == int(sdf["label"].sum())
        assert got["n_neg"] == int((1 - sdf["label"]).sum())
        assert_close_dp(got["auprc"], ap, 6)
        assert_close_dp(got["baseline_precision"], sdf["label"].mean(), 6)
