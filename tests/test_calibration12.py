"""Independent-truth batch 12 (method in tests/test_calibration.py):
the last stat-family stragglers — corpus BLEU-2 (pure-Python Counter
clipping replica plus the identity / corruption-monotonicity / brevity
properties), the seasonal-naive backtest (replica plus the
beats-plain-naive-on-seasonal-data property that justifies its
existence as a baseline), DAU/WAU stickiness (trailing-window replica
plus bounds), new-vs-returning, cohort LTV curves (replica plus
cumulative monotonicity), period growth (replica plus exact recovery of
a planted geometric growth rate and the calendar-gap NULL convention),
and the remaining DQ gates (freshness SLA, key gaps, referential
integrity, functional dependencies)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from tests.conftest import assert_close_dp, query_pd

Z_SEED = 121212


def bleu2_corpus(pairs: list[tuple[list, list]]) -> dict:
    """Corpus BLEU-2 with per-pair clipping (Papineni et al. 2002):
    pairs = [(candidate_tokens, reference_tokens)]."""
    c_len = r_len = clip1 = clip2 = tot2 = 0
    for ct, rt in pairs:
        c_len += len(ct)
        r_len += len(rt)
        c1, r1 = Counter(ct), Counter(rt)
        clip1 += sum(min(v, r1[k]) for k, v in c1.items())
        cb = Counter(zip(ct, ct[1:]))
        rb = Counter(zip(rt, rt[1:]))
        clip2 += sum(min(v, rb[k]) for k, v in cb.items())
        tot2 += len(ct) - 1
    p1 = clip1 / c_len
    p2 = clip2 / tot2
    bp = math.exp(min(0.0, 1.0 - r_len / c_len))
    return {
        "c_len": c_len, "r_len": r_len, "clip1": clip1, "tot1": c_len,
        "clip2": clip2, "tot2": tot2, "p1": p1, "p2": p2,
        "bleu2": bp * math.sqrt(p1 * p2),
    }


def seasonal_naive_metrics(daily: pd.Series, window: int = 28) -> dict:
    """Backtest replica: forecast(day) = actual(day-7), evaluated on
    the last `window` days that have a d-7 observation."""
    max_day = daily.index.max()
    rows = []
    for day, actual in daily.items():
        prev = day - pd.Timedelta(days=7)
        if prev in daily.index and day > max_day - pd.Timedelta(days=window):
            rows.append((float(actual), float(daily[prev])))
    a = np.array([r[0] for r in rows])
    f = np.array([r[1] for r in rows])
    e = a - f
    return {
        "n_evals": len(rows),
        "mape": float(np.mean(np.abs(e) / a)),
        "smape": float(np.mean(2 * np.abs(e) / (a + f))),
        "bias_dollars": float(np.mean(f - a)) / 100.0,
        "rmse_dollars": math.sqrt(float(np.mean(e * e))) / 100.0,
    }


# ===================================================== properties


class TestCalibration12:
    def test_bleu_identity_and_monotonicity(self):
        """Identical candidate/reference corpora score exactly 1;
        corrupting tokens strictly lowers BLEU; a short candidate pays
        the brevity penalty exp(1 - r/c) < 1 even at perfect
        precision."""
        rng = np.random.default_rng(Z_SEED)
        vocab = [f"w{i}" for i in range(50)]
        docs = [list(rng.choice(vocab, rng.integers(10, 30))) for _ in range(40)]
        ident = bleu2_corpus([(d, list(d)) for d in docs])
        assert ident["bleu2"] == pytest.approx(1.0, abs=1e-12)
        assert ident["p1"] == 1.0 and ident["p2"] == 1.0
        prev = 1.0
        for frac in (0.1, 0.3, 0.6):
            corrupted = []
            for d in docs:
                c = list(d)
                idx = rng.choice(len(c), max(1, int(frac * len(c))), replace=False)
                for i in idx:
                    c[i] = "XXX"
                corrupted.append((c, list(d)))
            b = bleu2_corpus(corrupted)["bleu2"]
            assert b < prev - 0.01, (frac, b, prev)
            prev = b
        # brevity: perfect-precision prefix candidate, BP = exp(1 - r/c)
        half = [(d[: max(2, len(d) // 2)], list(d)) for d in docs]
        got = bleu2_corpus(half)
        c, r = got["c_len"], got["r_len"]
        assert got["p1"] == 1.0
        assert got["bleu2"] == pytest.approx(
            math.exp(1 - r / c) * math.sqrt(got["p2"]), abs=1e-12
        )
        assert got["bleu2"] < 1.0

    def test_seasonal_naive_beats_plain_naive_on_seasonal_data(self):
        """The reason the baseline exists: on weekly-seasonal data the
        d-7 forecaster's MAPE beats the d-1 forecaster's by a wide
        margin; on a pure random walk it doesn't."""
        rng = np.random.default_rng(Z_SEED + 1)
        days = pd.date_range("2024-01-01", periods=200, freq="D")
        season = np.array([50, -15, -30, 0, 10, -25, 10]) * 100.0
        y = 100000 + season[np.arange(200) % 7] + rng.normal(0, 500, 200)
        s = pd.Series(y, index=days)
        m7 = seasonal_naive_metrics(s)
        naive1 = s.shift(1).dropna()
        tail = s.index[-28:]
        mape1 = float(
            np.mean(np.abs(s[tail] - naive1[tail]) / s[tail])
        )
        assert m7["mape"] < mape1 * 0.6, (m7["mape"], mape1)

    def test_period_growth_recovers_geometric_rate(self):
        """Planted exact geometric monthly growth g: every mom_pct is
        100*(g-1) and every yoy_pct is 100*(g^12 - 1); a missing
        calendar month yields NULL, not a comparison against the wrong
        period."""
        g = 1.05
        months = pd.period_range("2022-01", periods=30, freq="M")
        rev = {m: 1_000_000 * g**i for i, m in enumerate(months)}
        del rev[months[20]]  # calendar hole
        mom = {}
        yoy = {}
        for m, v in rev.items():
            p = m - 1
            q = m - 12
            mom[m] = (v - rev[p]) / rev[p] * 100 if p in rev else None
            yoy[m] = (v - rev[q]) / rev[q] * 100 if q in rev else None
        for m, v in mom.items():
            if v is not None:
                assert abs(v - 5.0) < 1e-9
        assert mom[months[21]] is None  # month after the hole
        for m, v in yoy.items():
            if v is not None:
                assert abs(v - (g**12 - 1) * 100) < 1e-9


# ==================================================== tier agreement


def _cents(v) -> np.ndarray:
    return np.floor(np.asarray(v, float) * 100 + 0.5).astype(np.int64)


@pytest.fixture(scope="module")
def ev_pd(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    return e.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def ord_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = _cents(o["o_totalprice"].to_numpy())
    return o


class TestTierAgreement12:
    def test_corpus_bleu(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_corpus_bleu").iloc[0]
        d = pd.read_parquet(f"{sf_dir}/documents.parquet")
        toks = {r.doc_id: [w for w in r.text.split(" ") if w] for r in d.itertuples()}
        pairs = []
        for doc_id, tk in toks.items():
            partner = doc_id ^ 1
            if partner in toks:
                cand = tk[: max(1, (4 * len(tk)) // 5)]
                pairs.append((cand, toks[partner]))
        ref = bleu2_corpus(pairs)
        for k in ("c_len", "r_len", "clip1", "tot1", "clip2", "tot2"):
            assert got[k] == ref[k], k
        assert_close_dp(got["p1"], ref["p1"], 6)
        assert_close_dp(got["p2"], ref["p2"], 6)
        assert_close_dp(got["bleu2"], ref["bleu2"], 6)

    def test_backtest_seasonal_naive(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "ts_backtest_seasonal_naive").iloc[0]
        daily = (
            ord_pd.assign(day=pd.to_datetime(ord_pd["o_orderdate"]).dt.normalize())
            .groupby("day")["cents"]
            .sum()
        )
        ref = seasonal_naive_metrics(daily)
        assert got["n_evals"] == ref["n_evals"]
        assert_close_dp(got["mape"], ref["mape"], 6)
        assert_close_dp(got["smape"], ref["smape"], 6)
        assert_close_dp(got["bias_dollars"], ref["bias_dollars"], 4)
        assert_close_dp(got["rmse_dollars"], ref["rmse_dollars"], 4)

    def test_dau_stickiness(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_dau_stickiness").set_index("day")
        du = (
            ev_pd.assign(day=ev_pd["ts"].dt.normalize())[["day", "user_id"]]
            .drop_duplicates()
        )
        dau = du.groupby("day")["user_id"].nunique()
        for day in dau.index:
            wau = du[
                (du["day"] >= day - pd.Timedelta(days=6)) & (du["day"] <= day)
            ]["user_id"].nunique()
            row = got.loc[day]
            assert (row["dau"], row["wau"]) == (dau[day], wau)
            assert_close_dp(row["stickiness"], dau[day] / wau, 6, day)
            assert 0 < row["stickiness"] <= 1.0  # defining bounds

    def test_new_vs_returning(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_new_vs_returning").set_index("day")
        du = (
            ev_pd.assign(day=ev_pd["ts"].dt.normalize())[["day", "user_id"]]
            .drop_duplicates()
        )
        first = du.groupby("user_id")["day"].min()
        for day, g in du.groupby("day"):
            new = int((g["user_id"].map(first) == day).sum())
            row = got.loc[day]
            assert (row["dau"], row["new_users"], row["returning_users"]) == (
                len(g), new, len(g) - new,
            )
            assert_close_dp(row["pct_new"], new / len(g), 6, day)
        # first day: everyone is new; total new users == distinct users
        assert got.iloc[0]["pct_new"] == pytest.approx(1.0)
        assert int(got["new_users"].sum()) == du["user_id"].nunique()

    def test_ltv_cohort_curves(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_ltv_cohort_curves")
        p = ev_pd[ev_pd["event_type"] == "purchase"].copy()
        p["day"] = p["ts"].dt.normalize()
        p["c"] = _cents(p["value"].to_numpy())
        c0 = p.groupby("user_id")["day"].min()
        p["c0"] = p["user_id"].map(c0)
        p["age"] = (p["day"] - p["c0"]).dt.days
        sized = c0.value_counts()
        rev = p.groupby(["c0", "age"])["c"].sum().sort_index()
        cum = rev.groupby(level=0).cumsum()
        assert len(got) == len(rev)
        for _, r in got.iterrows():
            key = (r["cohort_day"], r["age_days"])
            assert r["n_users"] == sized[r["cohort_day"]]
            assert_close_dp(
                r["cum_rev_per_user"],
                cum[key] / 100.0 / sized[r["cohort_day"]],
                4,
                key,
            )
        # cumulative LTV is nondecreasing within each cohort
        for _, g in got.groupby("cohort_day"):
            v = g.sort_values("age_days")["cum_rev_per_user"].to_numpy()
            assert np.all(np.diff(v) >= -1e-9)

    def test_period_growth(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "ts_period_growth").set_index("month")
        o = ord_pd.assign(
            month=pd.to_datetime(ord_pd["o_orderdate"]).dt.to_period("M")
        )
        rev = o.groupby("month")["cents"].sum()
        for m, v in rev.items():
            row = got.loc[m.to_timestamp()]
            assert row["rev_cents"] == v
            for off, col in ((1, "mom_pct"), (12, "yoy_pct")):
                prev = m - off
                if prev in rev.index:
                    assert_close_dp(row[col], (v - rev[prev]) * 100.0 / rev[prev], 4, (m, col))
                else:
                    assert pd.isna(row[col]), (m, col)

    def test_freshness_sla(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "dq_freshness_sla").set_index("event_type")
        us = ev_pd["ts"].astype("datetime64[ns]").astype("int64") // 1000
        e = ev_pd.assign(us=us)
        last = e.groupby("event_type")["us"].max()
        corpus = int(last.max())
        for et, lu in last.items():
            lag = (corpus - int(lu)) // 1_000_000
            row = got.loc[et]
            assert row["n_events"] == int((e["event_type"] == et).sum())
            assert row["lag_s"] == lag
            assert bool(row["sla_breach"]) == (lag > 3600)

    def test_key_gaps(self, spark, sf_dir, ord_pd):
        from etl_file_sync_spark.queries import REGISTRY

        got = REGISTRY["dq_key_gaps"].build(spark, sf_dir).toPandas()
        keys = np.sort(ord_pd["o_orderkey"].unique())
        n_missing = int(keys[-1] - keys[0] + 1 - len(keys))
        holes = []
        for a, b in zip(keys[:-1], keys[1:]):
            if b - a > 1:
                holes.append((int(a + 1), int(b - 1), int(b - a - 1)))
        ref = sorted(holes, key=lambda h: (-h[2], h[0]))[:5]
        # a dense key space (this tier) legitimately yields ZERO holes —
        # the replica must agree on that too
        assert len(got) == min(5, len(holes))
        assert n_missing == sum(h[2] for h in holes)
        for (s, e_, ln), (_, r) in zip(ref, got.iterrows()):
            assert (r["gap_start"], r["gap_end"], r["gap_len"]) == (s, e_, ln)
            assert (r["n_keys"], r["n_missing"]) == (len(keys), n_missing)
        # the tier's key space is dense, so ALSO run the real query on a
        # punctured copy of orders to exercise the hole-finding and
        # top-5-ranking path against the replica
        import os

        punct = ord_pd[
            (ord_pd["o_orderkey"] % 7 != 3) & (ord_pd["o_orderkey"] % 11 != 5)
        ]
        tmp = "/tmp/keygaps_tier"
        os.makedirs(tmp, exist_ok=True)
        punct.drop(columns=["cents"]).to_parquet(f"{tmp}/orders.parquet")
        got2 = REGISTRY["dq_key_gaps"].build(spark, tmp).toPandas()
        k2 = np.sort(punct["o_orderkey"].unique())
        holes2 = [
            (int(a + 1), int(b - 1), int(b - a - 1))
            for a, b in zip(k2[:-1], k2[1:])
            if b - a > 1
        ]
        ref2 = sorted(holes2, key=lambda h: (-h[2], h[0]))[:5]
        assert holes2 and len(got2) == min(5, len(holes2))
        miss2 = int(k2[-1] - k2[0] + 1 - len(k2))
        for (s, e_, ln), (_, r) in zip(ref2, got2.iterrows()):
            assert (r["gap_start"], r["gap_end"], r["gap_len"]) == (s, e_, ln)
            assert (r["n_keys"], r["n_missing"]) == (len(k2), miss2)

    def test_referential_integrity(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_referential_integrity").set_index("fk")
        li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
        cu = pd.read_parquet(f"{sf_dir}/customer.parquet")
        na = pd.read_parquet(f"{sf_dir}/nation.parquet")
        probes = {
            "lineitem.l_orderkey -> orders": (li["l_orderkey"], set(ord_pd["o_orderkey"])),
            "orders.o_custkey -> customer": (ord_pd["o_custkey"], set(cu["c_custkey"])),
            "customer.c_nationkey -> nation": (cu["c_nationkey"], set(na["n_nationkey"])),
        }
        for fk, (child, parents) in probes.items():
            orphans = int((~child.isin(parents)).sum())
            row = got.loc[fk]
            assert (row["child_rows"], row["orphan_rows"]) == (len(child), orphans)
            assert_close_dp(row["orphan_rate"], orphans / len(child), 6, fk)
            assert bool(row["holds"]) == (orphans == 0)

    def test_functional_dependency(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_functional_dependency").set_index("fd")
        part = pd.read_parquet(f"{sf_dir}/part.parquet")
        cases = {
            "orders: o_orderkey -> o_orderstatus": (ord_pd, "o_orderkey", "o_orderstatus"),
            "orders: o_custkey -> o_orderpriority": (ord_pd, "o_custkey", "o_orderpriority"),
            "part: p_brand -> p_type": (part, "p_brand", "p_type"),
        }
        for fd, (df, det, dep) in cases.items():
            nd = df.groupby(det)[dep].nunique()
            row = got.loc[fd]
            assert (row["n_keys"], row["n_violating"], row["max_dependents"]) == (
                len(nd), int((nd > 1).sum()), int(nd.max()),
            )
            assert_close_dp(row["violation_rate"], (nd > 1).mean(), 6, fd)
