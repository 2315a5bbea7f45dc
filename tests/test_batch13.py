"""Independent-definition truth tests for batch 13 (Mood's median
test, bigram conditional entropy rate)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_mood_median_matches_python(spark, sf_dir):
    got = REGISTRY["stat_mood_median_test"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    v = (o.o_totalprice * 100).round().astype("int64").to_numpy()
    grp = o.o_orderpriority.to_numpy()
    # lower median: smallest value whose inclusive cum count reaches n/2
    sv = np.sort(v)
    n = len(sv)
    m = int(sv[(np.arange(1, n + 1) * 2 >= n).argmax()])
    at = int((v <= m).sum())
    p = at / n
    x2 = 0.0
    k = 0
    for gname in np.unique(grp):
        mask = grp == gname
        n_g = int(mask.sum())
        a = int((v[mask] <= m).sum())
        x2 += (a - n_g * p) ** 2 / (n_g * p * (1 - p))
        k += 1
    assert got["n_groups"] == k and got["n_rows"] == n
    assert got["n_at_or_below"] == at
    assert got["chi2_stat"] == pytest.approx(x2, abs=1e-3)
    q = got["chi2_stat"]
    assert got["p_value"] == pytest.approx(math.exp(-q / 2) * (1 + q / 2), abs=1e-6)


def test_bigram_entropy_matches_python(spark, sf_dir):
    got = {r["source"]: r for r in
           REGISTRY["text_bigram_entropy_rate"].build(spark, sf_dir).collect()}
    d = read_pq(sf_dir, "documents")
    for src, grp in d.groupby("source"):
        c12: Counter = Counter()
        for text in grp.text:
            w = [tok for tok in text.split(" ")]
            for a, b in zip(w, w[1:]):
                if a and b:
                    c12[(a, b)] += 1
        c1: dict[str, int] = defaultdict(int)
        for (a, _b), c in c12.items():
            c1[a] += c
        t_tot = sum(c12.values())
        h = -sum(c * math.log(c / c1[a]) for (a, _b), c in c12.items()) / t_tot
        r = got[src]
        assert r["n_bigrams"] == t_tot
        assert r["vocab_bigrams"] == len(c12)
        assert r["cond_entropy_nats"] == pytest.approx(h, abs=1e-5)
        assert r["bigram_perplexity"] == pytest.approx(math.exp(h), rel=1e-4)
        assert r["cond_entropy_nats"] >= -1e-9


def test_stream_upsert_matches_batch_latest(spark, sf_dir):
    got = REGISTRY["stream_upsert_materialize"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    e = e.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    expect = e.set_index("user_id").sort_index()
    assert len(got) == len(expect)
    for r in got:
        row = expect.loc[r["user_id"]]
        assert r["last_event_type"] == row.event_type
        assert pd.Timestamp(r["last_ts"]) == pd.Timestamp(row.ts)
        assert r["last_value"] == pytest.approx(round(row.value, 2), abs=1e-9)
    # every user appears exactly once — the state table is keyed
    assert len({r["user_id"] for r in got}) == len(got)


def test_alert_rate_threshold_matches_pandas(spark, sf_dir):
    got = REGISTRY["stream_alert_rate_threshold"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    err = e[e.event_type == "error"]
    w = (pd.to_datetime(err.ts).astype("datetime64[ns]").astype("int64") // 10**9 // 900) * 900
    counts = w.value_counts()
    expect = {pd.Timestamp(k, unit="s"): v for k, v in counts.items() if v >= 2}
    assert len(got) == len(expect)
    for r in got:
        assert expect[pd.Timestamp(r["window_start"])] == r["n_errors"]
        assert r["n_errors"] >= 2


def test_g_test_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_g_test_independence"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    nn = read_pq(sf_dir, "nation")
    rr = read_pq(sf_dir, "region")
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nn, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rr, left_on="n_regionkey", right_on="r_regionkey")
    )
    df["arm"] = np.where(df.o_custkey % 2 == 0, "even", "odd")
    tab = pd.crosstab(df.r_name, df.arm)
    n = tab.values.sum()
    exp = np.outer(tab.sum(axis=1), tab.sum(axis=0)) / n
    g = 2 * float((tab.values * np.log(tab.values / exp)).sum())
    assert got["n_orders"] == n
    assert got["g_stat"] == pytest.approx(g, abs=1e-3)
    q = got["g_stat"]
    assert got["p_value"] == pytest.approx(math.exp(-q / 2) * (1 + q / 2), abs=1e-6)


def test_f1_sweep_matches_python(spark, sf_dir):
    got = REGISTRY["eval_f1_threshold_sweep"].build(spark, sf_dir).collect()
    from etl_file_sync_spark.queries.eval_face import _scored

    rows = [(r["score"], r["label"]) for r in _scored(spark, sf_dir).collect()]
    best_f1 = -1.0
    expect = []
    for i in range(1, 10):
        thr = i / 10.0
        tp = sum(1 for s, l in rows if s >= thr and l == 1)
        fp = sum(1 for s, l in rows if s >= thr and l == 0)
        fn = sum(1 for s, l in rows if s < thr and l == 1)
        f1 = round(2 * tp / (2 * tp + fp + fn), 6)
        expect.append((thr, tp, fp, fn, f1))
        best_f1 = max(best_f1, f1)
    assert len(got) == 9
    assert sum(1 for r in got if r["is_best"]) >= 1
    for r, (thr, tp, fp, fn, f1) in zip(got, expect):
        assert r["threshold"] == pytest.approx(thr, abs=1e-9)
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        assert r["f1"] == pytest.approx(f1, abs=1e-6)
        assert r["is_best"] == (f1 == best_f1)


def test_backtest_seasonal_naive_matches_pandas(spark, sf_dir):
    got = REGISTRY["ts_backtest_seasonal_naive"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.normalize(), "c": cents})
        .groupby("day")
        .c.sum()
    )
    max_day = daily.index.max()
    evals = []
    for day, actual in daily.items():
        prev = day - pd.Timedelta(days=7)
        if day > max_day - pd.Timedelta(days=28) and prev in daily.index:
            evals.append((float(actual), float(daily[prev])))
    a = np.array([x for x, _ in evals])
    f = np.array([y for _, y in evals])
    assert got["n_evals"] == len(evals)
    assert got["mape"] == pytest.approx(float(np.mean(np.abs(a - f) / a)), abs=1e-6)
    assert got["smape"] == pytest.approx(
        float(np.mean(2 * np.abs(a - f) / (a + f))), abs=1e-6
    )
    assert got["bias_dollars"] == pytest.approx(float((f - a).mean()) / 100, abs=1e-3)
    assert got["rmse_dollars"] == pytest.approx(
        math.sqrt(float(((a - f) ** 2).mean())) / 100, abs=1e-3
    )


def test_user_kfold_matches_python(spark, sf_dir):
    import hashlib

    got = REGISTRY["sample_user_kfold"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    folds = {
        u: int(hashlib.md5(f"{u}:0".encode()).hexdigest()[:8], 16) % 5
        for u in e.user_id.unique()
    }
    e = e.assign(fold=e.user_id.map(folds))
    e["cents"] = (e.value * 100).round().astype("int64")
    n_events = len(e)
    rev = int(e.loc[e.event_type == "purchase", "cents"].sum())
    by = e.groupby("fold")
    assert len(got) == e.fold.nunique()
    for r in got:
        g = by.get_group(r["fold"])
        assert r["n_users"] == g.user_id.nunique()
        assert r["n_events"] == len(g)
        assert r["event_share"] == pytest.approx(len(g) / n_events, abs=1e-6)
        fold_rev = int(g.loc[g.event_type == "purchase", "cents"].sum())
        assert r["revenue_share"] == pytest.approx(fold_rev / rev, abs=1e-6)
    # user-level disjointness: each user maps to exactly one fold
    assert sum(r["n_users"] for r in got) == e.user_id.nunique()


def test_markov_attribution_matches_python(spark, sf_dir):
    from collections import defaultdict

    got = {r["channel"]: r for r in
           REGISTRY["behavior_markov_attribution"].build(spark, sf_dir).collect()}
    e = read_pq(sf_dir, "events").sort_values(["user_id", "ts", "event_id"])
    pairs: dict[tuple[str, str], int] = defaultdict(int)
    for _, g in e.groupby("user_id"):
        types = list(g.event_type)
        if "purchase" in types:
            cut = types.index("purchase")
            path, converts = types[: cut + 1], True
        else:
            path, converts = types, False
        pairs[("start", path[0])] += 1
        for a, b in zip(path, path[1:]):
            pairs[(a, b)] += 1
        if not converts:
            pairs[(path[-1], "null")] += 1
    outs: dict[str, int] = defaultdict(int)
    for (f, _t), c in pairs.items():
        outs[f] += c
    kernel = {(f, t_): c / outs[f] for (f, t_), c in pairs.items()}
    sources = {f for f, _ in kernel}
    targets = {t_ for _, t_ in kernel}
    for s in targets - sources:
        kernel[(s, s)] = 1.0
    states = sorted(sources | targets)

    def solve(removed):
        h = {s: (1.0 if s == "purchase" else 0.0) for s in states}
        for _ in range(80):
            h = {
                s: sum(
                    0.0 if (removed is not None and u == removed) else kernel[(s, u)] * h[u]
                    for u in states
                    if (s, u) in kernel
                )
                for s in states
            }
        return h["start"]

    p_base = solve(None)
    chans = [s for s in states if s not in ("start", "purchase", "null")]
    effects = {c: max(p_base - solve(c), 0.0) for c in chans}
    te = sum(effects.values())
    assert set(got) == set(chans)
    for c in chans:
        r = got[c]
        assert r["base_conversion"] == pytest.approx(p_base, abs=1e-6)
        assert r["removal_effect"] == pytest.approx(effects[c], abs=1e-6)
        if te > 0:
            assert r["attribution_share"] == pytest.approx(effects[c] / te, abs=1e-6)
    # shares normalize
    if te > 0:
        assert sum(r["attribution_share"] for r in got.values()) == pytest.approx(
            1.0, abs=1e-4
        )
    assert 0 <= p_base <= 1


def test_bowker_matches_python(spark, sf_dir):
    from collections import defaultdict

    got = REGISTRY["stat_bowker_symmetry"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events").sort_values(["user_id", "ts", "event_id"])
    tr: dict[tuple[str, str], int] = defaultdict(int)
    for _, g in e.groupby("user_id"):
        types = list(g.event_type)
        for a, b in zip(types, types[1:]):
            tr[(a, b)] += 1
    kinds = sorted({k for pair in tr for k in pair})
    b_stat = 0.0
    n_pairs = 0
    for x in range(len(kinds)):
        for y in range(x + 1, len(kinds)):
            nij, nji = tr.get((kinds[x], kinds[y]), 0), tr.get((kinds[y], kinds[x]), 0)
            # descending-only pairs (nij=0, nji>0) contribute too
            if nij + nji > 0:
                b_stat += (nij - nji) ** 2 / (nij + nji)
                n_pairs += 1
    assert got["n_pairs"] == n_pairs
    assert got["b_stat"] == pytest.approx(b_stat, abs=1e-3)
    if n_pairs == 10:
        q = got["b_stat"] / 2
        p = math.exp(-q) * sum(q**j / math.factorial(j) for j in range(5))
        assert got["p_value"] == pytest.approx(p, abs=1e-6)
    else:
        assert got["p_value"] is None


def test_mcc_matches_python(spark, sf_dir):
    got = REGISTRY["eval_mcc"].build(spark, sf_dir).collect()[0]
    from etl_file_sync_spark.queries.eval_face import _scored

    rows = [(r["score"], r["label"]) for r in _scored(spark, sf_dir).collect()]
    tp = sum(1 for s, l in rows if s >= 0.5 and l == 1)
    fp = sum(1 for s, l in rows if s >= 0.5 and l == 0)
    fn = sum(1 for s, l in rows if s < 0.5 and l == 1)
    tn = sum(1 for s, l in rows if s < 0.5 and l == 0)
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    kappa = 2 * (tp * tn - fp * fn) / ((tp + fp) * (fp + tn) + (tp + fn) * (fn + tn))
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
    assert got["mcc"] == pytest.approx(mcc, abs=1e-6)
    assert got["cohen_kappa_binary"] == pytest.approx(kappa, abs=1e-6)
    assert -1 - 1e-9 <= got["mcc"] <= 1 + 1e-9


def test_page_trend_matches_python(spark, sf_dir):
    got = REGISTRY["stat_page_trend"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    cell = (
        pd.DataFrame(
            {
                "blk": pd.to_datetime(o.o_orderdate).dt.to_period("M"),
                "trt": o.o_orderpriority.str[0].astype(int),
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
    rsum = cell.groupby("trt").rk.sum()
    l_stat = float(sum(j * rsum[j] for j in rsum.index))
    k = 5
    e_l = b * k * (k + 1) ** 2 / 4
    var_l = b * k**2 * (k + 1) * (k**2 - 1) / 144
    z = (l_stat - e_l) / math.sqrt(var_l)
    assert got["n_blocks"] == b
    assert got["l_stat"] == pytest.approx(l_stat, abs=0.01)
    assert got["z_stat"] == pytest.approx(z, abs=1e-3)
    p_ref = math.erfc(abs(got["z_stat"]) / math.sqrt(2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_variance_ratio_matches_numpy(spark, sf_dir):
    got = REGISTRY["ts_variance_ratio"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    y = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
        .to_numpy(dtype=float)
    )
    d1 = y[1:] - y[:-1]
    d7 = y[7:] - y[:-7]
    vr = d7.var(ddof=1) / (7 * d1.var(ddof=1))
    n1 = len(d1)
    z = (vr - 1) / math.sqrt(2 * 13 * 6 / (3 * 7 * n1))
    assert got["n_diffs"] == n1
    assert got["variance_ratio"] == pytest.approx(vr, abs=1e-6)
    assert got["z_stat"] == pytest.approx(z, abs=1e-3)
    p_ref = math.erfc(abs(got["z_stat"]) / math.sqrt(2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_new_vs_returning_matches_pandas(spark, sf_dir):
    got = {pd.Timestamp(r["day"]): r for r in
           REGISTRY["behavior_new_vs_returning"].build(spark, sf_dir).collect()}
    e = read_pq(sf_dir, "events")
    du = (
        pd.DataFrame({"day": pd.to_datetime(e.ts).dt.normalize(), "u": e.user_id})
        .drop_duplicates()
    )
    d0 = du.groupby("u").day.min()
    du = du.assign(first=du.u.map(d0))
    assert len(got) == du.day.nunique()
    total_new = 0
    for day, g in du.groupby("day"):
        r = got[pd.Timestamp(day)]
        new = int((g.day == g["first"]).sum())
        assert r["dau"] == len(g)
        assert r["new_users"] == new
        assert r["returning_users"] == len(g) - new
        assert r["pct_new"] == pytest.approx(new / len(g), abs=1e-6)
        total_new += new
    # every user is new exactly once
    assert total_new == du.u.nunique()


def test_split_quality_matches_python(spark, sf_dir):
    got = {r["feature"]: r for r in
           REGISTRY["ml_split_quality"].build(spark, sf_dir).collect()}
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    nn = read_pq(sf_dir, "nation")
    rr = read_pq(sf_dir, "region")
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nn, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rr, left_on="n_regionkey", right_on="r_regionkey")
    )
    df["y"] = (df.o_totalprice > 250000).astype(int)
    df["parity"] = np.where(df.o_custkey % 2 == 0, "even", "odd")
    nt, post = len(df), int(df.y.sum())
    p0 = post / nt
    g0 = 1 - p0**2 - (1 - p0) ** 2
    e0 = -p0 * math.log(p0) - (1 - p0) * math.log(1 - p0)
    feats = {"priority": df.o_orderpriority, "region": df.r_name, "parity": df.parity}
    for name, col in feats.items():
        w_gini = w_ent = 0.0
        n_vals = 0
        for _v, g in df.groupby(col):
            n, pos = len(g), int(g.y.sum())
            p = pos / n
            w_gini += n / nt * (1 - p**2 - (1 - p) ** 2)
            if 0 < pos < n:
                w_ent += n / nt * (-p * math.log(p) - (1 - p) * math.log(1 - p))
            n_vals += 1
        r = got[name]
        assert r["n_values"] == n_vals
        assert r["weighted_gini"] == pytest.approx(w_gini, abs=1e-6)
        assert r["gini_gain"] == pytest.approx(g0 - w_gini, abs=1e-6)
        assert r["weighted_entropy_nats"] == pytest.approx(w_ent, abs=1e-6)
        assert r["info_gain_nats"] == pytest.approx(e0 - w_ent, abs=1e-6)
        # a split can't beat the parent's total impurity
        assert -1e-9 <= r["gini_gain"] <= g0 + 1e-9


def test_sign_test_matches_python(spark, sf_dir):
    got = REGISTRY["stat_sign_test_weekly"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    daily = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.normalize(), "c": cents})
        .groupby("day")
        .c.sum()
    )
    pos = neg = 0
    for day, v in daily.items():
        prev = day - pd.Timedelta(days=7)
        if prev in daily.index:
            d = v - daily[prev]
            if d > 0:
                pos += 1
            elif d < 0:
                neg += 1
    assert (got["n_up"], got["n_down"]) == (pos, neg)
    m = pos + neg
    if pos == neg:
        p = 1.0
    else:
        tail = sum(math.comb(m, k) for k in range(min(pos, neg) + 1)) / 2**m
        p = min(1.0, 2 * tail)
    assert got["p_value"] == pytest.approx(p, abs=1e-5)


def test_breusch_pagan_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_breusch_pagan"].build(spark, sf_dir).collect()[0]
    li = read_pq(sf_dir, "lineitem")
    x = li.l_quantity.to_numpy(dtype=float)
    y = (li.l_extendedprice * 100).round().to_numpy(dtype=float)
    n = len(x)
    dx = x - x.mean()
    dy = y - y.mean()
    b = float((dx * dy).sum() / (dx * dx).sum())
    e2 = (dy - b * dx) ** 2
    du = e2 - e2.mean()
    r2 = float((dx * du).sum()) ** 2 / (float((dx * dx).sum()) * float((du * du).sum()))
    bp = n * r2
    assert got["n_rows"] == n
    assert got["bp_stat"] == pytest.approx(bp, abs=1e-3)
    p_ref = math.erfc(math.sqrt(got["bp_stat"] / 2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_runs_up_down_matches_python(spark, sf_dir):
    got = REGISTRY["stat_runs_up_down"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    y = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
        .to_numpy()
    )
    signs = [1 if b > a else -1 for a, b in zip(y, y[1:]) if b != a]
    n = len(signs)
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    # classical moments in N = observations = n_signs + 1
    N = n + 1
    z = (runs - (2 * N - 1) / 3) / math.sqrt((16 * N - 29) / 90)
    assert got["n_moves"] == n
    assert got["n_runs"] == runs
    assert got["z_stat"] == pytest.approx(z, abs=1e-3)
    p_ref = math.erfc(abs(got["z_stat"]) / math.sqrt(2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)
