"""Independent-definition truth tests for experiment face 2
(Bayesian A/B, Welch ANOVA, grouped jackknife, Ljung-Box, HHI,
Cochran's Q, exact McNemar): the DuckDB oracle proves cross-engine
agreement; these recompute each statistic from an INDEPENDENT numpy /
pandas definition over the same sf0.001 parquet, so a formula
mistranslated identically into both engines still fails here."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def _conv_cells(sf_dir: str):
    e = read_pq(sf_dir, "events")
    conv = (
        ((e.event_type == "purchase") & (e.value > 200))
        .groupby(e.user_id)
        .max()
        .astype(int)
    )
    grp = pd.Series(conv.index % 2, index=conv.index)
    n_a, c_a = int((grp == 0).sum()), int(conv[grp == 0].sum())
    n_b, c_b = int((grp == 1).sum()), int(conv[grp == 1].sum())
    return n_a, c_a, n_b, c_b


def test_bayes_ab_matches_grid_integration(spark, sf_dir):
    got = REGISTRY["stat_bayes_ab_beta"].build(spark, sf_dir).collect()[0]
    n_a, c_a, n_b, c_b = _conv_cells(sf_dir)
    assert (got["n_a"], got["c_a"], got["n_b"], got["c_b"]) == (n_a, c_a, n_b, c_b)
    aa, ba = c_a + 1, n_a - c_a + 1
    ab, bb = c_b + 1, n_b - c_b + 1
    assert got["post_mean_a"] == pytest.approx(aa / (aa + ba), abs=1e-6)
    assert got["post_mean_b"] == pytest.approx(ab / (ab + bb), abs=1e-6)
    # independent check: trapezoid grid integration of
    # Pr(p_B > p_A) = integral f_B(x) * F_A(x) dx — no shared code with
    # the closed-form Beta-sum the query (and oracle) evaluate
    x = np.linspace(0.0, 1.0, 200001)
    lnfb = (
        math.lgamma(ab + bb)
        - math.lgamma(ab)
        - math.lgamma(bb)
        + (ab - 1) * np.log(np.clip(x, 1e-300, None))
        + (bb - 1) * np.log(np.clip(1 - x, 1e-300, None))
    )
    fb = np.exp(lnfb)
    # F_A via cumulative trapezoid of the Beta(aa, ba) density
    lnfa = (
        math.lgamma(aa + ba)
        - math.lgamma(aa)
        - math.lgamma(ba)
        + (aa - 1) * np.log(np.clip(x, 1e-300, None))
        + (ba - 1) * np.log(np.clip(1 - x, 1e-300, None))
    )
    fa = np.exp(lnfa)
    cdf_a = np.concatenate([[0.0], np.cumsum((fa[1:] + fa[:-1]) / 2 * np.diff(x))])
    p = float(np.trapz(fb * cdf_a, x))
    assert got["p_b_beats_a"] == pytest.approx(p, abs=1e-4)


def test_welch_anova_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_welch_anova"].build(spark, sf_dir).collect()[0]
    li = read_pq(sf_dir, "lineitem")
    cents = (li.l_extendedprice * 100).round().astype("int64")
    groups = [g.to_numpy(dtype=float) for _, g in cents.groupby(li.l_returnflag)]
    k = len(groups)
    n = np.array([len(g) for g in groups], dtype=float)
    m = np.array([g.mean() for g in groups])
    v = np.array([g.var(ddof=1) for g in groups])
    w = n / v
    ybar = (w * m).sum() / w.sum()
    a_num = (w * (m - ybar) ** 2).sum() / (k - 1)
    h = (((1 - w / w.sum()) ** 2) / (n - 1)).sum()
    f_star = a_num / (1 + 2 * (k - 2) / (k * k - 1) * h)
    df2 = (k * k - 1) / (3 * h)
    assert got["k_groups"] == k
    assert got["df1"] == k - 1
    assert got["f_stat"] == pytest.approx(f_star, rel=1e-6)
    assert got["df2"] == pytest.approx(df2, rel=1e-6)


def test_jackknife_ratio_matches_python_loop(spark, sf_dir):
    got = REGISTRY["stat_jackknife_ratio"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    n = read_pq(sf_dir, "nation")
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    cents = (df.o_totalprice * 100).round().astype("int64")
    g = pd.DataFrame({"x": cents, "grp": df.n_name}).groupby("grp").agg(
        x=("x", "sum"), y=("x", "size")
    )
    tx, ty, gk = int(g.x.sum()), int(g.y.sum()), len(g)
    theta = tx / ty
    reps = [(tx - x) / (ty - y) for x, y in zip(g.x, g.y)]
    tbar = sum(reps) / gk
    jvar = (gk - 1) / gk * sum((r - tbar) ** 2 for r in reps)
    assert got["n_groups"] == gk
    assert got["theta_cents"] == pytest.approx(theta, rel=1e-9)
    assert got["jk_var"] == pytest.approx(jvar, rel=1e-5)
    assert got["jk_se"] == pytest.approx(math.sqrt(jvar), rel=1e-5)
    assert got["jk_bias"] == pytest.approx((gk - 1) * (tbar - theta), abs=1e-4)


def test_jackknife_ratio_accurate_under_offset(spark, tier_dir):
    """ACCURACY (not just parity) on the conditioning tier: with
    o_totalprice + 1e8 the point estimate sits at ~1e10 cents, where the
    textbook replicate moments (Σθ²_g − G·θ̄², θ̄ − θ) cancel ~15
    significant digits. The engine's d_g-anchored algebra must still
    agree with an EXACT rational-arithmetic jackknife (python Fractions
    over the exact BIGINT cents sums) to 1e-6 relative — pinning that
    the respell is stable, not merely order-deterministic."""
    from fractions import Fraction

    tier = tier_dir("conditioning")
    got = REGISTRY["stat_jackknife_ratio"].build(spark, tier).collect()[0]

    o = read_pq(tier, "orders")
    c = read_pq(tier, "customer")
    n = read_pq(tier, "nation")
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    cents = (df.o_totalprice * 100).round().astype("int64")
    g = pd.DataFrame({"x": cents, "grp": df.n_name}).groupby("grp").agg(
        x=("x", "sum"), y=("x", "size")
    )
    tx, ty, gk = int(g.x.sum()), int(g.y.sum()), len(g)
    theta = Fraction(tx, ty)
    ds = [Fraction(tx - int(x), ty - int(y)) - theta for x, y in zip(g.x, g.y)]
    m = sum(ds, Fraction(0)) / gk
    jvar = Fraction(gk - 1, gk) * sum((d - m) ** 2 for d in ds)
    assert got["n_groups"] == gk
    assert got["theta_cents"] == pytest.approx(float(theta), rel=1e-9)
    assert got["jk_var"] == pytest.approx(float(jvar), rel=1e-6)
    assert got["jk_se"] == pytest.approx(math.sqrt(float(jvar)), rel=1e-6)
    assert got["jk_bias"] == pytest.approx(float((gk - 1) * m), rel=1e-6)


def test_ljung_box_matches_numpy(spark, sf_dir):
    got = REGISTRY["ts_ljung_box"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.date, "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
        .to_numpy(dtype=float)
    )
    n = len(daily)
    mu = daily.mean()
    d = daily - mu
    denom = (d * d).sum()
    srk = 0.0
    for k in range(1, 7):
        rk = (d[k:] * d[:-k]).sum() / denom
        srk += rk * rk / (n - k)
    q = n * (n + 2) * srk
    p = math.exp(-q / 2) * (1 + q / 2 + (q / 2) ** 2 / 2)
    assert got["n_days"] == n
    assert got["n_lags"] == 6
    assert got["q_stat"] == pytest.approx(q, rel=1e-6)
    assert got["p_value"] == pytest.approx(p, abs=1e-6)


def test_ljung_box_short_series_gates_df6_tail(spark, tmp_path):
    """A 4-day series produces pairs only at lags 1-3: n_lags must
    report 3 (not the nominal 6) and the df=6 closed-form tail must be
    NULL — pricing a 3-term Q against df=6 would overstate p. Same
    convention as stat_bowker_symmetry's n_pairs gate; q_stat itself
    is still the (shorter) Ljung-Box sum, checked against the direct
    numpy fold."""
    d = str(tmp_path)
    vals = [100.0, 107.0, 110.0, 121.0]
    spark.createDataFrame(
        [
            (i, 1, "O", vals[i], f"1995-01-0{i + 1}", "1-URGENT")
            for i in range(4)
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).coalesce(1).write.parquet(os.path.join(d, "orders.parquet"))
    got = REGISTRY["ts_ljung_box"].build(spark, d).collect()[0]
    daily = np.array([v * 100 for v in vals])
    dd = daily - daily.mean()
    denom = (dd * dd).sum()
    srk = sum(
        ((dd[k:] * dd[:-k]).sum() / denom) ** 2 / (4 - k) for k in (1, 2, 3)
    )
    assert got["n_days"] == 4
    assert got["n_lags"] == 3
    assert got["q_stat"] == pytest.approx(4 * 6 * srk, rel=1e-6)
    assert got["p_value"] is None


def test_hhi_matches_pandas(spark, sf_dir):
    rows = {
        r["region"]: r
        for r in REGISTRY["stat_hhi_concentration"].build(spark, sf_dir).collect()
    }
    li = read_pq(sf_dir, "lineitem")
    s = read_pq(sf_dir, "supplier")
    n = read_pq(sf_dir, "nation")
    r = read_pq(sf_dir, "region")
    df = (
        li.merge(s, left_on="l_suppkey", right_on="s_suppkey")
        .merge(n, left_on="s_nationkey", right_on="n_nationkey")
        .merge(r, left_on="n_regionkey", right_on="r_regionkey")
    )
    cents = (df.l_extendedprice * (1 - df.l_discount) * 100).round().astype("int64")
    rev = pd.DataFrame({"region": df.r_name, "supp": df.s_suppkey, "c": cents}).groupby(
        ["region", "supp"]
    ).c.sum()
    assert set(rows) == set(rev.index.get_level_values(0).unique())
    for region, grp in rev.groupby(level=0):
        shares = grp / grp.sum()
        hhi = float((shares**2).sum())
        assert rows[region]["n_suppliers"] == len(grp)
        assert rows[region]["hhi"] == pytest.approx(hhi, abs=1e-6)
        assert rows[region]["effective_n"] == pytest.approx(1 / hhi, abs=1e-3)
        # shares sum to 1, so HHI is bounded by [1/n, 1]
        assert 1 / len(grp) - 1e-9 <= rows[region]["hhi"] <= 1 + 1e-9


def test_cochran_q_matches_textbook(spark, sf_dir):
    got = REGISTRY["stat_cochran_q"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    flags = pd.DataFrame(
        {
            f"t{i}": ((e.event_type == "purchase") & (e.value > thr))
            .groupby(e.user_id)
            .max()
            .astype(int)
            for i, thr in ((1, 100), (2, 200), (3, 300))
        }
    )
    k = 3
    cj = flags.sum(axis=0).to_numpy(dtype=float)
    ri = flags.sum(axis=1).to_numpy(dtype=float)
    q = (
        k
        * (k - 1)
        * ((cj - ri.sum() / k) ** 2).sum()
        / (k * ri.sum() - (ri**2).sum())
    )
    assert got["n_users"] == len(flags)
    assert (got["conv100"], got["conv200"], got["conv300"]) == tuple(
        int(x) for x in cj
    )
    assert got["q_stat"] == pytest.approx(q, rel=1e-6)
    assert got["p_value"] == pytest.approx(math.exp(-q / 2), abs=1e-6)


def test_mcnemar_exact_matches_comb(spark, sf_dir):
    got = REGISTRY["stat_mcnemar_exact"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    hv = ((e.event_type == "purchase") & (e.value > 100)).groupby(e.user_id).max()
    freq = (e.event_type == "purchase").groupby(e.user_id).sum() > 15
    b = int((hv & ~freq).sum())
    c = int((~hv & freq).sum())
    assert (got["discordant_b"], got["discordant_c"]) == (b, c)
    m = b + c
    if b == c:
        p = 1.0
    else:
        p = min(1.0, 2 * sum(math.comb(m, k) for k in range(min(b, c) + 1)) / 2**m)
    assert got["p_value"] == pytest.approx(p, abs=1e-6)
    # the test must actually be non-degenerate on this data
    assert b > 0 and c > 0


def test_negbin_fit_matches_numpy_mom(spark, sf_dir):
    got = REGISTRY["stat_negbin_fit"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    k = e.groupby("user_id").size().to_numpy(dtype=float)
    m, v = k.mean(), k.var(ddof=1)
    assert got["n_users"] == len(k)
    assert got["mean_events"] == pytest.approx(m, rel=1e-6)
    assert got["var_events"] == pytest.approx(v, rel=1e-6)
    assert got["dispersion"] == pytest.approx(v / m, rel=1e-6)
    if v > m:
        assert got["nb_r"] == pytest.approx(m * m / (v - m), rel=1e-5)
        assert got["nb_p"] == pytest.approx(m / v, rel=1e-6)
    else:
        assert got["nb_r"] is None and got["nb_p"] is None


def test_capture_recapture_matches_pandas(spark, sf_dir):
    got = REGISTRY["stat_capture_recapture"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    hv = e[(e.event_type == "purchase") & (e.value > 150)].copy()
    d = pd.to_datetime(hv.ts).dt.normalize()
    epoch_day = (d - pd.Timestamp("1970-01-01")).dt.days
    s1 = set(hv.user_id[epoch_day % 2 == 0])
    s2 = set(hv.user_id[epoch_day % 2 == 1])
    n1, n2, m = len(s1), len(s2), len(s1 & s2)
    assert (got["n1"], got["n2"], got["overlap"]) == (n1, n2, m)
    assert got["observed"] == len(s1 | s2)
    if m > 0:
        assert got["lincoln_petersen"] == pytest.approx(n1 * n2 / m, abs=1e-3)
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert got["chapman"] == pytest.approx(chapman, abs=1e-3)
    # estimates can never be below the directly observed population size
    assert got["chapman"] >= m - 1e-9


def test_cramers_v_matches_numpy(spark, sf_dir):
    rows = {
        r["pair"]: r
        for r in REGISTRY["stat_cramers_v_matrix"].build(spark, sf_dir).collect()
    }
    e = read_pq(sf_dir, "events")
    o = read_pq(sf_dir, "orders")
    for pair, (rser, cser) in {
        "variant_x_event_type": ((e.user_id % 2).astype(str), e.event_type),
        "status_x_priority": (o.o_orderstatus, o.o_orderpriority),
    }.items():
        ct = pd.crosstab(rser, cser).to_numpy(dtype=float)
        n = ct.sum()
        exp = ct.sum(1, keepdims=True) @ ct.sum(0, keepdims=True) / n
        chi2 = ((ct - exp) ** 2 / exp).sum()
        v = math.sqrt(chi2 / (n * min(ct.shape[0] - 1, ct.shape[1] - 1)))
        assert rows[pair]["n"] == int(n)
        assert rows[pair]["df"] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
        assert rows[pair]["chi2"] == pytest.approx(chi2, rel=1e-6)
        assert rows[pair]["cramers_v"] == pytest.approx(v, abs=1e-6)
        assert 0 <= rows[pair]["cramers_v"] <= 1


def test_powerlaw_fit_matches_numpy(spark, sf_dir):
    got = REGISTRY["graph_powerlaw_fit"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    k = o.groupby("o_custkey").size().to_numpy(dtype=float)
    alpha_k1 = 1 + len(k) / np.log(2 * k).sum()
    tail = k[k >= 4]
    assert got["n_nodes"] == len(k)
    assert (got["kmin"], got["kmax"]) == (int(k.min()), int(k.max()))
    assert got["mean_degree"] == pytest.approx(k.mean(), rel=1e-9)
    assert got["k_min_fit"] == 4 and got["n_tail"] == len(tail)
    if len(tail):
        alpha = 1 + len(tail) / np.log(tail / 3.5).sum()
        assert got["alpha_mle"] == pytest.approx(alpha, rel=1e-6)
    assert got["alpha_mle_k1"] == pytest.approx(alpha_k1, rel=1e-6)


def test_stl_decompose_matches_pandas(spark, sf_dir):
    rows = {
        r["dow"]: r
        for r in REGISTRY["ts_stl_decompose_dow"].build(spark, sf_dir).collect()
    }
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
    )
    y = daily.to_numpy(dtype=float)
    trend = pd.Series(y).rolling(7, center=True).mean().to_numpy()
    detr = y - trend
    # Spark dayofweek: 1=Sunday..7=Saturday
    dow = daily.index.dayofweek.to_numpy()  # pandas: 0=Mon..6=Sun
    dow_spark = (dow + 1) % 7 + 1
    core = ~np.isnan(trend)
    sr = pd.Series(detr[core]).groupby(dow_spark[core]).mean()
    seasonal = sr - sr.mean()
    for dw, r in rows.items():
        assert r["seasonal_cents"] == pytest.approx(seasonal[dw], abs=1e-2)
        mask = core & (dow_spark == dw)
        resid = detr[mask] - seasonal[dw]
        assert r["n_days"] == int(mask.sum())
        assert r["resid_rms_cents"] == pytest.approx(
            math.sqrt((resid**2).mean()), abs=1e-2
        )
    # the re-centered seasonal indexes must (approximately) cancel
    assert abs(sum(r["seasonal_cents"] for r in rows.values())) < 1e-2 * 7


def test_functional_dependency_matches_pandas(spark, sf_dir):
    rows = {
        r["fd"]: r
        for r in REGISTRY["dq_functional_dependency"].build(spark, sf_dir).collect()
    }
    o = read_pq(sf_dir, "orders")
    p = read_pq(sf_dir, "part")
    cases = {
        "orders: o_orderkey -> o_orderstatus": (o, "o_orderkey", "o_orderstatus"),
        "orders: o_custkey -> o_orderpriority": (o, "o_custkey", "o_orderpriority"),
        "part: p_brand -> p_type": (p, "p_brand", "p_type"),
    }
    for label, (df, det, dep) in cases.items():
        nd = df.groupby(det)[dep].nunique()
        r = rows[label]
        assert r["n_keys"] == len(nd)
        assert r["n_violating"] == int((nd > 1).sum())
        assert r["max_dependents"] == int(nd.max())
        assert r["violation_rate"] == pytest.approx((nd > 1).mean(), abs=1e-6)
    # the PK-shaped FD must hold exactly
    assert rows["orders: o_orderkey -> o_orderstatus"]["n_violating"] == 0


def test_pass_at_k_matches_comb_definition(spark, sf_dir):
    got = REGISTRY["eval_pass_at_k"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    pur = e[e.event_type == "purchase"]
    g = pur.groupby("user_id").agg(
        n=("value", "size"), c=("value", lambda v: int((v > 200).sum()))
    )
    g = g[g.n >= 3]

    def pak(n, c, k):
        if n - c < k:
            return 1.0
        return 1.0 - math.comb(n - c, k) / math.comb(n, k)

    p1 = [pak(n, c, 1) for n, c in zip(g.n, g.c)]
    p3 = [pak(n, c, 3) for n, c in zip(g.n, g.c)]
    assert got["n_problems"] == len(g)
    assert got["pass_at_1"] == pytest.approx(sum(p1) / len(p1), abs=1e-6)
    assert got["pass_at_3"] == pytest.approx(sum(p3) / len(p3), abs=1e-6)
    assert got["any_success"] == int((g.c > 0).sum())
    # pass@3 dominates pass@1 pointwise, so also in the mean
    assert got["pass_at_3"] >= got["pass_at_1"] - 1e-9


def _daily_rev(sf_dir):
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    return (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
    )


def test_page_hinkley_matches_numpy(spark, sf_dir):
    got = REGISTRY["ts_page_hinkley"].build(spark, sf_dir).collect()[0]
    daily = _daily_rev(sf_dir)
    y = daily.to_numpy(dtype=float)
    n = len(y)
    mu = y.mean()
    sd = y.std(ddof=1)
    # drift allowance delta = sd/2 (without it PH false-alarms a.s.)
    m = np.cumsum(y - mu - sd / 2)
    ph = m - np.minimum.accumulate(m)
    assert got["n_days"] == n
    assert got["max_ph_cents"] == pytest.approx(ph.max(), rel=1e-9)
    alarms = ph > 8 * sd
    assert got["alarm_days"] == int(alarms.sum())
    if alarms.any():
        first = daily.index[int(np.argmax(alarms))]
        assert pd.Timestamp(got["first_alarm_day"]) == first
    else:
        assert got["first_alarm_day"] is None
    # PH is nonnegative by construction
    assert got["max_ph_cents"] >= -1e-9


def test_gumbel_fit_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_gumbel_max_fit"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    mx = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.date, "c": cents})
        .groupby("day")
        .c.max()
        .to_numpy(dtype=float)
    )
    gamma = 0.5772156649015329
    beta = mx.std(ddof=1) * math.sqrt(6) / math.pi
    mu = mx.mean() - gamma * beta
    rl99 = mu - beta * math.log(-math.log(0.99))
    p_exc = 1 - math.exp(-math.exp(-(mx.max() - mu) / beta))
    assert got["n_blocks"] == len(mx)
    assert got["observed_max_cents"] == int(mx.max())
    assert got["gumbel_mu_cents"] == pytest.approx(mu, rel=1e-9)
    assert got["gumbel_beta_cents"] == pytest.approx(beta, rel=1e-9)
    assert got["return_level_99_cents"] == pytest.approx(rl99, rel=1e-9)
    assert got["p_exceed_observed_max"] == pytest.approx(p_exc, abs=1e-6)
    # the 99% return level must exceed the location parameter
    assert got["return_level_99_cents"] > got["gumbel_mu_cents"]


def test_theil_index_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_theil_index"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    nn = read_pq(sf_dir, "nation")
    rr = read_pq(sf_dir, "region")
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nn, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rr, left_on="n_regionkey", right_on="r_regionkey")
    )
    cents = (df.o_totalprice * 100).round().astype("int64")
    x = pd.DataFrame({"cust": df.c_custkey, "region": df.r_name, "c": cents}).groupby(
        ["cust", "region"]
    ).c.sum()
    xi = x.to_numpy(dtype=float)
    n, X = len(xi), xi.sum()
    theil = float((xi / X * np.log(xi * n / X)).sum())
    g = x.groupby(level="region").agg(["sum", "size"])
    between = float(
        (
            g["sum"] / X * np.log((g["sum"] / X) * (n / g["size"]))
        ).sum()
    )
    assert got["n_customers"] == n
    assert got["theil_total"] == pytest.approx(theil, abs=1e-6)
    assert got["theil_between"] == pytest.approx(between, abs=1e-6)
    assert got["theil_within"] == pytest.approx(theil - between, abs=1e-6)
    # Theil is nonnegative; between cannot exceed total
    assert -1e-9 <= got["theil_between"] <= got["theil_total"] + 1e-9
