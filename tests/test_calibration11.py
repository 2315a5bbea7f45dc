"""Independent-truth batch 11 (method in tests/test_calibration.py):
the 20 registry queries whose only prior check was the DuckDB oracle
pair get their first INDEPENDENT pandas/numpy/pure-Python replication —
behavior sequence mining (regex funnels, inter-event gaps, last-touch
attribution, streak islands, top paths, transition matrix), the DQ
profile face (calibration curve, constraint checks, equi-depth
histogram, key skew, table profile, median/MAD outliers), the
structural stats (correlation matrix with a planted-recovery MC check,
crosstab, decile bands), the time-series resamplers (gapfill /
per-user resample interpolation, day-of-week seasonal index), retention
cohorts, and precision/recall. These are the queries where a convention
error mirrored into both engines' SQL-ish spellings would survive every
oracle layer; each replica here is built from the textbook definition,
not the query's algebra."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest
from tests.conftest import assert_close_dp, query_pd

Z_SEED = 111111


def _cents(v) -> np.ndarray:
    return np.floor(np.asarray(v, float) * 100 + 0.5).astype(np.int64)


def pdisc_median(vals: np.ndarray):
    """percentile_disc(0.5): smallest value whose cumulative share
    reaches 0.5 — sorted[(n-1)//2]."""
    s = np.sort(vals)
    return s[(len(s) - 1) // 2]


@pytest.fixture(scope="module")
def ev_pd(sf_dir):
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    return e.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def ord_pd(sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o["cents"] = _cents(o["o_totalprice"].to_numpy())
    return o


class TestTierAgreement11:
    # ------------------------------------------------ behavior face

    def test_event_regex(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_event_regex").iloc[0]
        sym = {"view": "v", "click": "c", "purchase": "p", "signup": "s"}
        paths = [
            "".join(sym.get(t, "o") for t in g["event_type"])
            for _, g in ev_pd.groupby("user_id")
        ]
        funnel = sum(bool(re.search(r"v[^p]*c[^p]*p", p)) for p in paths)
        repeat = sum(bool(re.search(r"p.*p", p)) for p in paths)
        vc = sum((len(p) - len(p.replace("vc", ""))) // 2 for p in paths)
        assert got["n_users"] == len(paths)
        assert got["n_funnel_users"] == funnel
        assert got["n_repeat_buyers"] == repeat
        assert got["n_view_click_adjacencies"] == vc
        assert got["max_session_len"] == max(len(p) for p in paths)

    def test_inter_event_gaps(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_inter_event_gaps").set_index("event_type")
        us = ev_pd["ts"].astype("datetime64[ns]").astype("int64") // 1000
        e = ev_pd.assign(us=us)
        e["gap"] = e.groupby("user_id")["us"].diff()
        g = e.dropna(subset=["gap"])
        for et, gg in g.groupby("event_type"):
            v = gg["gap"].to_numpy(float)
            row = got.loc[et]
            assert row["n_gaps"] == len(v)
            assert_close_dp(row["med_gap_us"], np.percentile(v, 50), 4, et)
            assert_close_dp(row["p90_gap_us"], np.percentile(v, 90), 4, et)
            assert row["max_gap_us"] == int(v.max())

    def test_last_touch_attribution(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_last_touch_attribution").set_index(
            "touch_type"
        )
        agg: dict = {}
        for _, g in ev_pd.groupby("user_id"):
            last_touch = None  # (ts, type)
            for _, r in g.iterrows():
                if r["event_type"] == "purchase":
                    if (
                        last_touch is not None
                        and last_touch[0] >= r["ts"] - pd.Timedelta(days=7)
                    ):
                        key = last_touch[1]
                    else:
                        key = "none"
                    n, c = agg.get(key, (0, 0))
                    agg[key] = (n + 1, c + int(_cents([r["value"]])[0]))
                if r["event_type"] in ("view", "click"):
                    last_touch = (r["ts"], r["event_type"])
        assert set(got.index) == set(agg)
        for k, (n, c) in agg.items():
            assert got.loc[k, "n_purchases"] == n
            assert_close_dp(got.loc[k, "total_value"], c / 100.0, 2, k)

    def test_streak_islands(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_streak_islands")
        days = (
            ev_pd.assign(day=ev_pd["ts"].dt.normalize())[["user_id", "day"]]
            .drop_duplicates()
            .sort_values(["user_id", "day"])
        )
        rows = []
        for uid, g in days.groupby("user_id"):
            d = g["day"].to_numpy()
            runs, cur = [], 1
            for i in range(1, len(d)):
                if (d[i] - d[i - 1]) == np.timedelta64(1, "D"):
                    cur += 1
                else:
                    runs.append(cur)
                    cur = 1
            runs.append(cur)
            rows.append((uid, len(d), len(runs), max(runs)))
        ref = sorted(rows, key=lambda r: (-r[3], r[0]))[:20]
        assert len(got) == min(20, len(rows))
        for (uid, nd, ns, ls), (_, r) in zip(ref, got.iterrows()):
            assert (r["user_id"], r["n_active_days"], r["n_streaks"], r["longest_streak"]) == (
                uid, nd, ns, ls,
            )

    def test_top_paths(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_top_paths")
        paths = (
            ev_pd.groupby("user_id")["event_type"]
            .apply(lambda s: ">".join(s.head(3)))
            .value_counts()
        )
        ref = sorted(paths.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        for (p, n), (_, r) in zip(ref, got.iterrows()):
            assert (r["path"], r["n_users"]) == (p, n)

    def test_transition_matrix(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "behavior_transition_matrix").set_index(
            ["from_type", "to_type"]
        )
        e = ev_pd.copy()
        e["next"] = e.groupby("user_id")["event_type"].shift(-1)
        tr = e.dropna(subset=["next"]).groupby(["event_type", "next"]).size()
        outs = tr.groupby(level=0).sum()
        assert len(got) == len(tr)
        for (f, t_), n in tr.items():
            row = got.loc[(f, t_)]
            assert row["n"] == n
            assert_close_dp(row["p"], n / outs[f], 4, (f, t_))

    def test_retention_cohorts(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "retention_cohorts").set_index(
            ["cohort_week", "week_offset"]
        )
        e = ev_pd.copy()
        # Spark date_trunc('week') = Monday start; pandas dayofweek 0=Mon
        e["week"] = e["ts"].dt.normalize() - pd.to_timedelta(
            e["ts"].dt.dayofweek, unit="D"
        )
        first = e.groupby("user_id")["week"].min()
        uw = e[["user_id", "week"]].drop_duplicates()
        uw = uw.assign(cw=uw["user_id"].map(first))
        uw["off"] = ((uw["week"] - uw["cw"]).dt.days // 7).astype(int)
        ref = uw.groupby(["cw", "off"]).size()
        assert len(got) == len(ref)
        for (cw, off), n in ref.items():
            assert got.loc[(cw, off), "users"] == n

    # ------------------------------------------------ dq face

    def test_calibration_curve(self, spark, sf_dir):
        import etl_file_sync_spark.queries.eval_face as EF

        got = query_pd(spark, sf_dir, "dq_calibration_curve").set_index("bucket")
        s = EF._scored(spark, sf_dir).toPandas()
        s["bucket"] = np.minimum(np.floor(s["score"] * 10), 9).astype(int)
        for b, g in s.groupby("bucket"):
            ten_k = np.floor(g["score"].to_numpy() * 10000 + 0.5).astype(np.int64)
            row = got.loc[b]
            assert row["n"] == len(g)
            assert_close_dp(row["mean_predicted"], ten_k.sum() / (10000.0 * len(g)), 6, b)
            assert_close_dp(row["observed_rate"], g["label"].mean(), 6, b)

    def test_constraint_checks(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_constraint_checks").set_index("check_name")
        li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
        dup = ord_pd["o_orderkey"].value_counts()
        ref = {
            "orders_pk_unique": int((dup[dup > 1] - 1).sum()),
            "orders_pk_not_null": int(ord_pd["o_orderkey"].isna().sum()),
            "lineitem_fk_orders": int(
                (~li["l_orderkey"].dropna().isin(set(ord_pd["o_orderkey"]))).sum()
            ),
            "status_accepted_values": int(
                (~ord_pd["o_orderstatus"].isin(["O", "F", "P"])).sum()
                + ord_pd["o_orderstatus"].isna().sum()
            ),
        }
        assert set(got.index) == set(ref)
        for k, v in ref.items():
            assert got.loc[k, "n_violations"] == v, k

    def test_histogram_equidepth(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_histogram_equidepth").set_index("bucket")
        o = ord_pd.sort_values(["cents", "o_orderkey"]).reset_index(drop=True)
        n = len(o)
        base, extra = divmod(n, 10)
        sizes = [base + (1 if i < extra else 0) for i in range(10)]
        start = 0
        for i, sz in enumerate(sizes, start=1):
            chunk = o.iloc[start : start + sz]
            start += sz
            row = got.loc[i]
            assert row["n"] == sz
            assert row["lo_cents"] == chunk["cents"].min()
            assert row["hi_cents"] == chunk["cents"].max()
        # defining property: equi-depth buckets differ by at most 1
        assert got["n"].max() - got["n"].min() <= 1

    def test_key_skew(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_key_skew")
        counts = ord_pd.groupby("o_custkey").size()
        total, nkeys = int(counts.sum()), len(counts)
        ref = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        assert len(got) == min(20, nkeys)
        for (k, c), (_, r) in zip(ref, got.iterrows()):
            assert (r["key"], r["cnt"]) == (k, c)
            assert r["share_ppm"] == (c * 1_000_000) // total
            assert bool(r["is_skewed"]) == (c * nkeys > 10.0 * total)

    def test_profile_orders(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "dq_profile_orders").set_index("col_name")
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]:
            s = ord_pd[c]
            row = got.loc[c]
            assert row["n_rows"] == len(s)
            assert row["n_nulls"] == int(s.isna().sum())
            assert row["n_distinct"] == s.dropna().nunique()
            lo, hi = s.dropna().min(), s.dropna().max()
            if c == "o_orderdate":
                # Spark casts DATE to 'YYYY-MM-DD'
                assert str(row["min_val"])[:10] == pd.Timestamp(lo).strftime("%Y-%m-%d")
                assert str(row["max_val"])[:10] == pd.Timestamp(hi).strftime("%Y-%m-%d")
            else:
                assert row["min_val"] == str(lo)
                assert row["max_val"] == str(hi)

    def test_robust_outliers(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "dq_robust_outliers").set_index("doc_id")
        d = pd.read_parquet(f"{sf_dir}/documents.parquet")
        for src, g in d.groupby("source"):
            med = pdisc_median(g["n_chars"].to_numpy())
            adev = np.abs(g["n_chars"].to_numpy() - med)
            mad = pdisc_median(adev)
            for doc_id, nc, dev in zip(g["doc_id"], g["n_chars"], adev):
                row = got.loc[doc_id]
                assert (row["med"], row["mad"]) == (med, mad), doc_id
                assert bool(row["is_outlier"]) == bool(dev > 3.0 * mad), doc_id

    # ------------------------------------------------ stats face

    def test_precision_recall(self, spark, sf_dir):
        import etl_file_sync_spark.queries.eval_face as EF

        got = query_pd(spark, sf_dir, "eval_precision_recall").iloc[0]
        s = EF._scored(spark, sf_dir).toPandas()
        pred = s["score"].to_numpy(float) >= 0.5
        lab = s["label"].to_numpy(int) == 1
        tp = int(np.sum(pred & lab))
        fp = int(np.sum(pred & ~lab))
        fn = int(np.sum(~pred & lab))
        tn = int(np.sum(~pred & ~lab))
        assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
        assert_close_dp(got["precision"], tp / (tp + fp), 6)
        assert_close_dp(got["recall"], tp / (tp + fn), 6)
        assert_close_dp(got["f1"], 2 * tp / (2 * tp + fp + fn), 6)
        assert_close_dp(got["accuracy"], (tp + tn) / len(s), 6)

    def test_correlation_matrix(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "stat_correlation_matrix").set_index(
            ["col_x", "col_y"]
        )
        li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
        cols = {
            "quantity": "l_quantity",
            "extendedprice": "l_extendedprice",
            "discount": "l_discount",
            "tax": "l_tax",
        }
        for (a, b) in got.index:
            r = float(
                np.corrcoef(li[cols[a]].to_numpy(float), li[cols[b]].to_numpy(float))[
                    0, 1
                ]
            )
            assert_close_dp(got.loc[(a, b), "pearson_r"], r, 6, (a, b))

    def test_correlation_recovery_mc(self):
        """Property: the query's two-pass centered co-moment spelling
        recovers a planted correlation (bivariate normal, rho = 0.65)."""
        rng = np.random.default_rng(Z_SEED)
        rho, n = 0.65, 200_000
        x = rng.normal(0, 1, n)
        y = rho * x + math.sqrt(1 - rho * rho) * rng.normal(0, 1, n)
        mx, my = x.mean(), y.mean()
        r = float(
            ((x - mx) * (y - my)).sum()
            / math.sqrt(((x - mx) ** 2).sum() * ((y - my) ** 2).sum())
        )
        assert abs(r - rho) < 0.01

    def test_crosstab(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "stat_crosstab").set_index("o_orderstatus")
        ct = pd.crosstab(ord_pd["o_orderstatus"], ord_pd["o_orderpriority"])
        for status in got.index:
            for level, col in (("1-URGENT", "urgent"), ("5-LOW", "low")):
                ref = int(ct.loc[status, level]) if level in ct.columns else 0
                assert got.loc[status, col] == ref, (status, level)

    def test_decile_bands(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "stat_decile_bands").set_index("decile")
        spend = (
            ord_pd.groupby("o_custkey")["cents"].sum().reset_index()
            .sort_values(["cents", "o_custkey"]).reset_index(drop=True)
        )
        n = len(spend)
        dec = 1 + ((np.arange(n)) * 10) // n  # (rn-1)*10//n with rn = i+1
        spend["decile"] = dec
        for d, g in spend.groupby("decile"):
            row = got.loc[d]
            assert row["n_customers"] == len(g)
            assert_close_dp(row["min_spend"], g["cents"].min() / 100.0, 2, d)
            assert_close_dp(row["max_spend"], g["cents"].max() / 100.0, 2, d)
            assert_close_dp(row["total_spend"], g["cents"].sum() / 100.0, 2, d)

    # ------------------------------------------------ time-series face

    def test_gapfill_interpolate(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "ts_gapfill_interpolate")
        e = ev_pd[ev_pd["user_id"] < 30].copy()
        e["day"] = e["ts"].dt.normalize()
        # the bounded-gapfill contract: the spine is the DECLARED
        # reporting window, not the observed min/max span (one corrupt
        # timestamp must not inflate the calendar — see
        # operators/timeseries.py gapfill_interpolate)
        from etl_file_sync_spark.operators.timeseries import (
            EVENTS_REPORT_END,
            EVENTS_REPORT_START,
        )

        d0, d1 = pd.Timestamp(EVENTS_REPORT_START), pd.Timestamp(EVENTS_REPORT_END)
        e = e[(e["day"] >= d0) & (e["day"] <= d1)]
        e["c"] = _cents(e["value"].to_numpy())
        daily = e.groupby(["user_id", "day"])["c"].sum()
        span = pd.date_range(d0, d1, freq="D")
        rows = {}
        for uid in sorted(e["user_id"].unique()):
            ser = daily.loc[uid].reindex(span)
            obs = ser.dropna()
            for day in span:
                v = ser.loc[day]
                if not pd.isna(v):
                    filled = float(v)
                else:
                    prev = obs[obs.index < day]
                    nxt = obs[obs.index > day]
                    if len(prev) and len(nxt):
                        pd_, pc = prev.index[-1], prev.iloc[-1]
                        nd, nc = nxt.index[0], nxt.iloc[0]
                        filled = pc + (nc - pc) * (day - pd_).days / (nd - pd_).days
                    elif len(prev):
                        filled = float(prev.iloc[-1])
                    elif len(nxt):
                        filled = float(nxt.iloc[0])
                    else:
                        filled = None
                rows[(uid, day)] = (None if pd.isna(v) else int(v), filled)
        assert len(got) == len(rows)
        for _, r in got.iterrows():
            cents, filled = rows[(r["user_id"], r["day"])]
            if cents is None:
                assert pd.isna(r["cents"]) and bool(r["is_interpolated"])
            else:
                assert r["cents"] == cents and not r["is_interpolated"]
            if filled is None:
                assert pd.isna(r["filled_cents"])
            else:
                assert_close_dp(r["filled_cents"], filled, 2, (r["user_id"], r["day"]))

    def test_resample_interpolate(self, spark, sf_dir, ev_pd):
        got = query_pd(spark, sf_dir, "ts_resample_interpolate")
        e = ev_pd[ev_pd["user_id"] % 10 == 0].copy()
        e["day"] = e["ts"].dt.normalize()
        daily = e.groupby(["user_id", "day"]).size()
        rows = {}
        for uid in sorted(e["user_id"].unique()):
            ser = daily.loc[uid]
            span = pd.date_range(ser.index.min(), ser.index.max(), freq="D")
            ser = ser.reindex(span)
            obs = ser.dropna()
            for day in span:
                v = ser.loc[day]
                if not pd.isna(v):
                    val = float(v)
                else:
                    prev = obs[obs.index < day]
                    nxt = obs[obs.index > day]
                    pd_, pc = prev.index[-1], prev.iloc[-1]
                    nd, nc = nxt.index[0], nxt.iloc[0]
                    val = pc + (nc - pc) * (day - pd_).days / (nd - pd_).days
                rows[(uid, day)] = (pd.isna(v), val)
        assert len(got) == len(rows)
        for _, r in got.iterrows():
            interp, val = rows[(r["user_id"], r["day"])]
            assert bool(r["interpolated"]) == interp
            assert_close_dp(r["value"], val, 6, (r["user_id"], r["day"]))

    def test_seasonal_dow(self, spark, sf_dir, ord_pd):
        got = query_pd(spark, sf_dir, "ts_seasonal_dow").set_index("dow")
        o = ord_pd.copy()
        o["day"] = pd.to_datetime(o["o_orderdate"]).dt.normalize()
        daily = o.groupby("day")["cents"].sum()
        # Spark dayofweek-1: 0=Sunday..6=Saturday; pandas 0=Monday
        dows = (daily.index.dayofweek + 1) % 7
        total_days, total_cents = len(daily), int(daily.sum())
        for d in sorted(set(dows)):
            sel = daily[dows == d]
            row = got.loc[d]
            assert (row["n_days"], row["sum_cents"]) == (len(sel), int(sel.sum()))
            assert_close_dp(row["mean_cents"], sel.sum() / len(sel), 2, d)
            assert_close_dp(
                row["seasonal_index"],
                (int(sel.sum()) * total_days) / (len(sel) * total_cents),
                6,
                d,
            )
        # seasonal indices average to ~1 when weighted by day counts
        w = got["n_days"].to_numpy(float)
        si = got["seasonal_index"].to_numpy(float)
        assert abs(float((w * si).sum() / w.sum()) - 1.0) < 1e-4
