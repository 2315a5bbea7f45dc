"""Monte-Carlo calibration, batch 3 (method in tests/test_calibration.py):
exact tests (Fisher, McNemar), Mantel-Haenszel, one-way ANOVA, TOST
equivalence, the mSPRT always-valid p, the two-proportion power formula,
and Dunn's post-hoc. Each family is checked on the property that DEFINES
it: exact tests must be conservative, TOST must hold size AT the
equivalence margin, the always-valid p must keep type-I error under
alpha at EVERY stopping rule, the power formula's n must actually
deliver ~80% power, and Dunn-Bonferroni must control the familywise
error over all 10 pairs."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from tests.conftest import query_pd
from tests.test_calibration import ALPHA, chi2_sf_even_df, norm_sf_two_sided, rate_band

Z_SEED = 424242


def norm_sf_one_sided(z: float) -> float:
    return 0.5 * math.erfc(z / math.sqrt(2.0))


# ================================================================ stats


def fisher_exact_two_sided(a: int, b: int, c: int, d: int) -> float:
    """Two-sided Fisher: sum of hypergeometric pmfs <= pmf(observed),
    with the engine's (1 + 1e-7) fp guard."""
    m, ab, cd, n = a + c, a + b, c + d, a + b + c + d
    lnf = np.zeros(n + 1)
    lnf[1:] = np.cumsum(np.log(np.arange(1, n + 1)))

    def lnpmf(k: int) -> float:
        return (
            lnf[ab] - lnf[k] - lnf[ab - k]
            + lnf[cd] - lnf[m - k] - lnf[cd - m + k]
            - (lnf[n] - lnf[m] - lnf[n - m])
        )

    base = math.exp(lnpmf(a))
    lo, hi = max(0, m - cd), min(ab, m)
    return sum(
        math.exp(lnpmf(k)) for k in range(lo, hi + 1) if math.exp(lnpmf(k)) <= base * (1 + 1e-7)
    )


def mcnemar_exact(b: int, c: int) -> float:
    from tests.test_calibration import binom_cdf_half

    if b == c:
        return 1.0
    return min(1.0, 2.0 * binom_cdf_half(min(b, c), b + c))


def mantel_haenszel(cells: list[tuple[int, int, int, int]]) -> dict:
    """MH common odds ratio + CMH chi-square (df=1, no continuity)."""
    sad = sum(a * d / (a + b + c + d) for a, b, c, d in cells)
    sbc = sum(b * c / (a + b + c + d) for a, b, c, d in cells)
    sa = sum(a for a, *_ in cells)
    se = sum((a + b) * (a + c) / (a + b + c + d) for a, b, c, d in cells)
    sv = sum(
        (a + b) * (c + d) * (a + c) * (b + d) / ((a + b + c + d) ** 2 * (a + b + c + d - 1))
        for a, b, c, d in cells
    )
    cmh = (sa - se) ** 2 / sv
    return {
        "n_strata": len(cells),
        "or_mh": sad / sbc,
        "log_or_mh": math.log(sad / sbc),
        "cmh_stat": cmh,
        # chi-square df=1 survival = erfc(sqrt(x/2))
        "p_value": math.erfc(math.sqrt(cmh / 2.0)),
    }


def anova_oneway(groups: list[np.ndarray]) -> dict:
    k = len(groups)
    n = sum(len(g) for g in groups)
    grand = float(np.mean(np.concatenate(groups)))
    ssb = float(sum(len(g) * (np.mean(g) - grand) ** 2 for g in groups))
    ssw = float(sum(np.sum((g - np.mean(g)) ** 2) for g in groups))
    f = (ssb / (k - 1)) / (ssw / (n - k))
    return {"n_groups": k, "n_rows": n, "df_between": k - 1, "df_within": n - k, "f_stat": f}


def tost(ma, mb, va, vb, margin: float) -> dict:
    """Two one-sided z tests against +-margin; va/vb are squared SEs."""
    diff = ma - mb
    se = math.sqrt(va + vb)
    z_lower = (diff + margin) / se
    z_upper = (margin - diff) / se
    p = max(norm_sf_one_sided(z_lower), norm_sf_one_sided(z_upper))
    return {
        "mean_diff": diff,
        "se": se,
        "z_lower": z_lower,
        "z_upper": z_upper,
        "p_tost": p,
        "equivalent": p < 0.05,
    }


def msprt_always_valid_p(
    na: np.ndarray, xa: np.ndarray, nb: np.ndarray, xb: np.ndarray, tau: float = 0.0001
) -> np.ndarray:
    """Mixture SPRT (Johari et al.): per-day always-valid p on CUMULATIVE
    two-proportion counts; p_n = min(1, 1 / max_{m<=n} lambda_m)."""
    cna, cxa = np.cumsum(na), np.cumsum(xa)
    cnb, cxb = np.cumsum(nb), np.cumsum(xb)
    delta = cxa / cna - cxb / cnb
    pool = (cxa + cxb) / (cna + cnb)
    vn = pool * (1 - pool) * (1.0 / cna + 1.0 / cnb)
    lam = np.sqrt(vn / (vn + tau)) * np.exp(delta * delta * tau / (2 * vn * (vn + tau)))
    return np.minimum(1.0, 1.0 / np.maximum.accumulate(lam))


def power_n_per_arm(p0: float, p1: float) -> int:
    return math.ceil(
        (1.96 + 0.8416) ** 2 * (p0 * (1 - p0) + p1 * (1 - p1)) / (p1 - p0) ** 2
    )


def dunn_pairs(groups: dict[str, np.ndarray]) -> pd.DataFrame:
    """Dunn's post-hoc z for every unordered group pair, with the pooled
    tie-corrected variance (Dunn 1964)."""
    names = sorted(groups)
    allv = np.concatenate([groups[g] for g in names])
    ntot = len(allv)
    rk = pd.Series(allv).rank(method="average").to_numpy()
    mean_rank, sizes, i = {}, {}, 0
    for g in names:
        sizes[g] = len(groups[g])
        mean_rank[g] = float(np.mean(rk[i : i + sizes[g]]))
        i += sizes[g]
    _, counts = np.unique(allv, return_counts=True)
    tie_sum = float(np.sum(counts.astype(float) ** 3 - counts))
    sig2 = ntot * (ntot + 1) / 12.0 - tie_sum / (12.0 * (ntot - 1))
    rows = []
    m = len(names) * (len(names) - 1) // 2
    for ia, ga in enumerate(names):
        for gb in names[ia + 1 :]:
            z = (mean_rank[ga] - mean_rank[gb]) / math.sqrt(
                sig2 * (1.0 / sizes[ga] + 1.0 / sizes[gb])
            )
            p = norm_sf_two_sided(z)
            rows.append(
                {"grp_a": ga, "grp_b": gb, "z_stat": z, "p_value": p, "p_bonferroni": min(p * m, 1.0)}
            )
    return pd.DataFrame(rows)


# ===================================================== null calibration


class TestCalibration3:
    def test_fisher_exact_conservative(self):
        rng = np.random.default_rng(Z_SEED)
        rej = []
        for _ in range(2000):
            x = rng.binomial(1, 0.3, size=(2, 60))
            a, b = int(x[0].sum()), 60 - int(x[0].sum())
            c, d = int(x[1].sum()), 60 - int(x[1].sum())
            rej.append(fisher_exact_two_sided(a, b, c, d) < ALPHA)
        r = float(np.mean(rej))
        assert 0.01 <= r <= ALPHA + 0.005, f"Fisher null rate {r:.4f}"

    def test_mcnemar_exact_conservative(self):
        rng = np.random.default_rng(Z_SEED + 1)
        rej = []
        for _ in range(4000):
            m = 80
            b = int(rng.binomial(m, 0.5))
            rej.append(mcnemar_exact(b, m - b) < ALPHA)
        r = float(np.mean(rej))
        assert 0.02 <= r <= ALPHA + 0.005, f"McNemar null rate {r:.4f}"

    def test_mantel_haenszel(self):
        rng = np.random.default_rng(Z_SEED + 2)
        base = [0.1, 0.25, 0.4, 0.55, 0.7]  # stratum-specific rates, OR = 1
        rej = []
        for _ in range(2000):
            cells = []
            for p in base:
                e = rng.binomial(1, 0.5, size=200).astype(bool)
                s = rng.binomial(1, p, size=200).astype(bool)
                a = int(np.sum(e & s))
                b = int(np.sum(e & ~s))
                c = int(np.sum(~e & s))
                d = int(np.sum(~e & ~s))
                cells.append((a, b, c, d))
            rej.append(mantel_haenszel(cells)["p_value"] < ALPHA)
        rate_band(np.array(rej))

    def test_anova_oneway(self):
        rng = np.random.default_rng(Z_SEED + 3)
        rej = []
        for _ in range(2000):
            f = anova_oneway([rng.normal(size=100) for _ in range(5)])["f_stat"]
            rej.append(chi2_sf_even_df(4 * f, 4) < ALPHA)  # df_within=495 ~ inf
        rate_band(np.array(rej), lo=0.02, hi=0.08)

    def test_tost_holds_size_at_the_margin(self):
        """The hard case for equivalence testing: the TRUE difference sits
        exactly ON the margin — a correct TOST declares equivalence at
        most ~alpha of the time (one-sided z at its boundary)."""
        rng = np.random.default_rng(Z_SEED + 4)
        n, margin, sd = 400, 5.0, 20.0
        rej = []
        for _ in range(3000):
            a = rng.normal(margin, sd, size=n)  # true diff == +margin
            b = rng.normal(0.0, sd, size=n)
            r = tost(
                float(np.mean(a)), float(np.mean(b)),
                float(np.var(a, ddof=1)) / n, float(np.var(b, ddof=1)) / n,
                margin,
            )
            rej.append(r["equivalent"])
        rate_band(np.array(rej))
        # and POWER: at true diff 0 with the same n the test must
        # overwhelmingly declare equivalence
        eq = [
            tost(
                float(np.mean(a)), float(np.mean(b)),
                float(np.var(a, ddof=1)) / n, float(np.var(b, ddof=1)) / n,
                margin,
            )["equivalent"]
            for a, b in (
                (rng.normal(0, sd, size=n), rng.normal(0, sd, size=n)) for _ in range(500)
            )
        ]
        assert np.mean(eq) > 0.85

    def test_msprt_always_valid(self):
        """The defining guarantee: under the null, P(the always-valid p
        EVER drops below alpha over the whole horizon) <= alpha — i.e.
        peeking every day never inflates type-I error. And under a real
        effect the p must actually fall (the monitor has power)."""
        rng = np.random.default_rng(Z_SEED + 5)
        days, per_day = 60, 100
        ever = []
        for _ in range(1000):
            na = np.full(days, per_day)
            xa = rng.binomial(per_day, 0.3, size=days)
            xb = rng.binomial(per_day, 0.3, size=days)
            ever.append(bool(np.any(msprt_always_valid_p(na, xa, na, xb) < ALPHA)))
        assert float(np.mean(ever)) <= ALPHA, f"anytime type-I {np.mean(ever):.4f}"
        power = []
        for _ in range(300):
            na = np.full(days, per_day)
            xa = rng.binomial(per_day, 0.40, size=days)
            xb = rng.binomial(per_day, 0.30, size=days)
            power.append(bool(np.any(msprt_always_valid_p(na, xa, na, xb) < ALPHA)))
        assert float(np.mean(power)) > 0.9, f"monitor power {np.mean(power):.3f}"

    def test_power_formula_delivers_80pct(self):
        """n_per_arm from the (z_alpha/2 + z_beta)^2 formula must give the
        pooled two-proportion z test ~80% power at the stated alternative."""
        from tests.test_calibration2 import two_prop_z

        rng = np.random.default_rng(Z_SEED + 6)
        p0, p1 = 0.30, 0.36
        n = power_n_per_arm(p0, p1)
        hits = []
        for _ in range(2000):
            s0 = int(rng.binomial(n, p0))
            s1 = int(rng.binomial(n, p1))
            hits.append(two_prop_z(n, s1, n, s0)["p_value"] < ALPHA)
        pw = float(np.mean(hits))
        assert 0.75 <= pw <= 0.86, f"empirical power {pw:.3f} at n={n}"

    def test_dunn_familywise_error(self):
        rng = np.random.default_rng(Z_SEED + 7)
        fwe = []
        for _ in range(1000):
            groups = {f"g{i}": rng.random(60) for i in range(5)}
            d = dunn_pairs(groups)
            fwe.append(bool((d["p_bonferroni"] < ALPHA).any()))
        r = float(np.mean(fwe))
        assert 0.005 <= r <= ALPHA + 0.01, f"Dunn-Bonferroni FWE {r:.4f}"


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def user_conv(events_pd):
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
    return conv


class TestTierAgreement3:
    def test_fisher_exact(self, spark, sf_dir, user_conv):
        got = query_pd(spark, sf_dir, "stat_fisher_exact").iloc[0]
        grp = user_conv.index.to_numpy() % 2
        a = int(user_conv[(grp == 1)].sum())
        b = int(np.sum(grp == 1)) - a
        c = int(user_conv[(grp == 0)].sum())
        d = int(np.sum(grp == 0)) - c
        assert (got["a"], got["b"], got["c"], got["d"]) == (a, b, c, d)
        if b * c > 0:
            assert abs(got["odds_ratio"] - a * d / (b * c)) < 1.1e-6
        assert abs(got["p_value"] - fisher_exact_two_sided(a, b, c, d)) < 2e-6

    def test_mcnemar_exact(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_mcnemar_exact").iloc[0]
        ev = events_pd
        pur = ev["event_type"] == "purchase"
        per_user = pd.DataFrame(
            {
                "user_id": ev["user_id"],
                "hv": (pur & (ev["value"] > 100)).astype(int),
                "p": pur.astype(int),
            }
        ).groupby("user_id").agg(high=("hv", "max"), n_pur=("p", "sum"))
        per_user["freq"] = (per_user["n_pur"] > 15).astype(int)
        b = int(((per_user["high"] == 1) & (per_user["freq"] == 0)).sum())
        c = int(((per_user["high"] == 0) & (per_user["freq"] == 1)).sum())
        assert (got["discordant_b"], got["discordant_c"]) == (b, c)
        assert abs(got["p_value"] - mcnemar_exact(b, c)) < 2e-6

    def test_mantel_haenszel(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_mantel_haenszel").iloc[0]
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"])
        c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
        n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_regionkey"])
        r = pd.read_parquet(f"{sf_dir}/region.parquet", columns=["r_regionkey", "r_name"])
        j = (
            o.merge(c, left_on="o_custkey", right_on="c_custkey")
            .merge(n, left_on="c_nationkey", right_on="n_nationkey")
            .merge(r, left_on="n_regionkey", right_on="r_regionkey")
        )
        j["e"] = (j["o_custkey"] % 2 == 0).astype(int)
        j["s"] = (j["o_totalprice"] > 250000).astype(int)
        cells = [
            (
                int(((g["e"] == 1) & (g["s"] == 1)).sum()),
                int(((g["e"] == 1) & (g["s"] == 0)).sum()),
                int(((g["e"] == 0) & (g["s"] == 1)).sum()),
                int(((g["e"] == 0) & (g["s"] == 0)).sum()),
            )
            for _, g in j.groupby("r_name")
        ]
        ref = mantel_haenszel(cells)
        assert got["n_strata"] == ref["n_strata"]
        assert abs(got["or_mh"] - ref["or_mh"]) < 1.1e-6
        assert abs(got["log_or_mh"] - ref["log_or_mh"]) < 1.1e-6
        assert abs(got["cmh_stat"] - ref["cmh_stat"]) < 5.1e-5 * max(1.0, ref["cmh_stat"])
        assert abs(got["p_value"] - math.erfc(math.sqrt(round(ref["cmh_stat"], 4) / 2.0))) < 2e-6

    def test_anova_oneway(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_anova_oneway").iloc[0]
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"])
        o["cents"] = np.round(o["o_totalprice"] * 100).astype("int64")
        groups = [g["cents"].to_numpy(float) for _, g in o.groupby("o_orderpriority")]
        ref = anova_oneway(groups)
        for col in ("n_groups", "n_rows", "df_between", "df_within"):
            assert got[col] == ref[col], col
        assert abs(got["f_stat"] - ref["f_stat"]) < 1.1e-6 * max(1.0, ref["f_stat"])

    def test_tost(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_tost_equivalence").iloc[0]
        ev = events_pd[events_pd["event_type"] == "purchase"]
        cents = np.round(ev["value"] * 100).astype("int64")
        a = cents[(ev["user_id"] % 2 == 0).to_numpy()].to_numpy(float)
        b = cents[(ev["user_id"] % 2 == 1).to_numpy()].to_numpy(float)
        ref = tost(
            float(np.mean(a)), float(np.mean(b)),
            float(np.var(a, ddof=1)) / len(a), float(np.var(b, ddof=1)) / len(b),
            500.0,
        )
        assert (got["n_a"], got["n_b"]) == (len(a), len(b))
        assert abs(got["mean_diff_cents"] - ref["mean_diff"]) < 5.1e-5 * max(1.0, abs(ref["mean_diff"]))
        assert abs(got["se_cents"] - ref["se"]) < 5.1e-5 * max(1.0, ref["se"])
        assert abs(got["z_lower"] - ref["z_lower"]) < 5.1e-5
        assert abs(got["z_upper"] - ref["z_upper"]) < 5.1e-5
        # published p is evaluated at the 4-dp-rounded z's
        p_ref = max(
            norm_sf_one_sided(round(ref["z_lower"], 4)),
            norm_sf_one_sided(round(ref["z_upper"], 4)),
        )
        assert abs(got["p_tost"] - p_ref) < 2e-6
        assert bool(got["equivalent"]) == (p_ref < 0.05)

    def test_msprt(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "stat_msprt_sequential").sort_values("day").reset_index(drop=True)
        ev = events_pd.copy()
        ev["day"] = ev["ts"].dt.normalize()
        ev["variant"] = np.where(ev["user_id"] % 2 == 0, "A", "B")
        ev["succ"] = (ev["event_type"] == "purchase").astype(int)
        d = ev.pivot_table(
            index="day", columns="variant", values="succ", aggfunc=["count", "sum"]
        ).fillna(0)
        na = d[("count", "A")].to_numpy(float)
        xa = d[("sum", "A")].to_numpy(float)
        nb = d[("count", "B")].to_numpy(float)
        xb = d[("sum", "B")].to_numpy(float)
        p_av = msprt_always_valid_p(na, xa, nb, xb)
        assert len(got) == len(p_av)
        np.testing.assert_allclose(got["p_always_valid"].to_numpy(), p_av, atol=1.1e-6)
        np.testing.assert_allclose(
            got["delta"].to_numpy(),
            np.cumsum(xa) / np.cumsum(na) - np.cumsum(xb) / np.cumsum(nb),
            atol=1.1e-6,
        )

    def test_power_analysis(self, spark, sf_dir, user_conv):
        got = query_pd(spark, sf_dir, "stat_power_analysis").iloc[0]
        grp = user_conv.index.to_numpy() % 2
        n0 = int(np.sum(grp == 0))
        s0 = int(user_conv[grp == 0].sum())
        p0 = s0 / n0
        p1 = min(1.0, p0 * 1.1)
        assert got["n_control_observed"] == n0
        assert abs(got["p0"] - p0) < 1.1e-6 and abs(got["p1_target"] - p1) < 1.1e-6
        assert got["n_per_arm"] == power_n_per_arm(p0, p1)
        mde = (1.96 + 0.8416) * math.sqrt(2.0 * p0 * (1 - p0) / n0)
        assert abs(got["mde_at_n"] - mde) < 1.1e-6

    def test_dunn_posthoc(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_dunn_posthoc").sort_values(
            ["grp_a", "grp_b"]
        ).reset_index(drop=True)
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderpriority", "o_totalprice"])
        groups = {g: fr["o_totalprice"].to_numpy() for g, fr in o.groupby("o_orderpriority")}
        ref = dunn_pairs(groups).sort_values(["grp_a", "grp_b"]).reset_index(drop=True)
        assert list(got["grp_a"]) == list(ref["grp_a"]) and list(got["grp_b"]) == list(ref["grp_b"])
        np.testing.assert_allclose(got["z_stat"], ref["z_stat"], atol=5.1e-5)
        # published p's are evaluated at the 4-dp-rounded z
        p_ref = np.array([norm_sf_two_sided(round(z, 4)) for z in ref["z_stat"]])
        np.testing.assert_allclose(got["p_value"], p_ref, atol=2e-6)
        np.testing.assert_allclose(got["p_bonferroni"], np.minimum(p_ref * 10, 1.0), atol=2e-6)
