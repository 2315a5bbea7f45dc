"""Monte-Carlo calibration, batch 6 (method in tests/test_calibration.py):
evaluation metrics and multiple-testing control. pass@k's unbiased
closed form is checked against actual sampling; nDCG/MAP/MRR against
brute-force definitions; the Murphy decomposition REL - RES + UNC =
Brier exactly on grid-valued forecasts; log-loss/Brier propriety
(minimized in expectation at the true probability); lift/gains edge
identities; and Benjamini-Hochberg / Holm are verified to control FDR /
FWER over simulated mixed null-alternative p-value vectors, with the
adjusted-p window formulations pinned to the step-up/step-down
procedures they restate."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from tests.conftest import query_pd

Z_SEED = 606060


# ================================================================ stats


def pass_at_k(n: int, c: int, k: int) -> float:
    """Unbiased pass@k (Chen et al. 2021): 1 - C(n-c, k)/C(n, k)."""
    if n - c < k:
        return 1.0
    out = 1.0
    for i in range(k):
        out *= (n - c - i) / (n - i)
    return 1.0 - out


def dcg_at_k(gains_in_rank_order: np.ndarray, k: int) -> float:
    g = gains_in_rank_order[:k]
    return float(np.sum(g / np.log2(np.arange(2, len(g) + 2))))


def average_precision(rels_in_rank_order: np.ndarray) -> float:
    """Brute-force AP: mean over relevant items of precision@their rank."""
    nrel = int(np.sum(rels_in_rank_order))
    if nrel == 0:
        return float("nan")
    cum = np.cumsum(rels_in_rank_order)
    rk = np.arange(1, len(rels_in_rank_order) + 1)
    return float(np.sum((cum / rk) * rels_in_rank_order) / nrel)


def brier_decomposition(f_i: np.ndarray, label: np.ndarray) -> dict:
    """Murphy decomposition over decile bins; forecasts as integer
    1e4-grains (the engine's exact-integer convention)."""
    score = f_i / 10000.0
    bucket = np.minimum(np.floor(score * 10), 9).astype(int)
    df = pd.DataFrame({"b": bucket, "f": f_i, "y": label})
    cells = df.groupby("b").agg(
        n=("y", "size"), sf=("f", "sum"), so=("y", "sum"),
        se2=("f", lambda s: int(np.sum((s.to_numpy() - df.loc[s.index, "y"].to_numpy() * 10000) ** 2))),
    )
    nn = float(cells["n"].sum())
    oo = float(cells["so"].sum())
    brier = float(cells["se2"].sum()) / (1e8 * nn)
    conf = cells["sf"] / (10000.0 * cells["n"])
    acc = cells["so"] / cells["n"]
    rel = float(np.sum(cells["n"] / nn * (conf - acc) ** 2))
    res = float(np.sum(cells["n"] / nn * (acc - oo / nn) ** 2))
    unc = (oo / nn) * (1 - oo / nn)
    return {"brier": brier, "reliability": rel, "resolution": res, "uncertainty": unc}


def bh_adjust(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Benjamini-Hochberg step-up adjusted p (suffix-min of p*m/rank) and
    rejections at 0.05."""
    m = len(p)
    order = np.argsort(p, kind="mergesort")
    adj_sorted = p[order] * m / np.arange(1, m + 1)
    adj_sorted = np.minimum.accumulate(adj_sorted[::-1])[::-1]
    adj_sorted = np.minimum(adj_sorted, 1.0)
    adj = np.empty(m)
    adj[order] = adj_sorted
    return adj, adj <= 0.05


def holm_adjust(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Holm step-down adjusted p (prefix-max of p*(m-rank+1))."""
    m = len(p)
    order = np.argsort(p, kind="mergesort")
    adj_sorted = p[order] * (m - np.arange(m))
    adj_sorted = np.maximum.accumulate(adj_sorted)
    adj_sorted = np.minimum(adj_sorted, 1.0)
    adj = np.empty(m)
    adj[order] = adj_sorted
    return adj, adj <= 0.05


# ===================================================== null calibration


class TestCalibration6:
    def test_pass_at_k_matches_sampling(self):
        rng = np.random.default_rng(Z_SEED)
        for n, c, k in ((10, 2, 3), (20, 1, 3), (5, 4, 3), (8, 0, 3), (6, 5, 1)):
            hits = 0
            reps = 20000
            for _ in range(reps):
                picks = rng.choice(n, size=k, replace=False)
                hits += bool(np.any(picks < c))  # first c samples "pass"
            assert abs(hits / reps - pass_at_k(n, c, k)) < 0.012, (n, c, k)

    def test_ndcg_properties(self):
        rng = np.random.default_rng(Z_SEED + 1)
        for _ in range(200):
            gains = rng.integers(0, 20, size=30).astype(float)
            ideal = np.sort(gains)[::-1]
            idcg = dcg_at_k(ideal, 10)
            perm = rng.permutation(gains)
            dcg = dcg_at_k(perm, 10)
            assert dcg <= idcg + 1e-12
            if idcg > 0:
                assert abs(dcg_at_k(ideal, 10) / idcg - 1.0) < 1e-12  # perfect = 1

    def test_map_mrr_brute(self):
        rng = np.random.default_rng(Z_SEED + 2)
        # perfect ranking: all relevant first -> AP = 1
        assert average_precision(np.array([1, 1, 1, 0, 0])) == 1.0
        # known small case: rel at ranks 1 and 3 -> (1/1 + 2/3)/2
        assert abs(average_precision(np.array([1, 0, 1, 0])) - (1 + 2 / 3) / 2) < 1e-12
        # MAP of random rankings stays within [0, 1] and equals the
        # cum-formula the engine uses
        for _ in range(200):
            rels = (rng.random(20) < 0.3).astype(int)
            if rels.sum() == 0:
                continue
            ap = average_precision(rels)
            cum = np.cumsum(rels)
            rk = np.arange(1, 21)
            ap_engine = float(np.sum(np.where(rels == 1, cum / rk, 0.0)) / rels.sum())
            assert abs(ap - ap_engine) < 1e-12

    def test_brier_decomposition_identity(self):
        rng = np.random.default_rng(Z_SEED + 3)
        # forecasts ON the bin grid (bin centers): Murphy identity EXACT
        for _ in range(100):
            f = rng.choice(np.arange(500, 10000, 1000), size=2000)  # 0.05..0.95
            y = (rng.random(2000) < f / 10000.0).astype(int)
            d = brier_decomposition(f, y)
            assert abs(d["brier"] - (d["reliability"] - d["resolution"] + d["uncertainty"])) < 1e-12
        # off-grid forecasts: the binned identity has a residual
        # var_f|bin - 2 cov(f, y | bin) (Stephenson et al. 2008) — for a
        # calibrated scorer cov = var so the gap goes NEGATIVE; either
        # way |gap| <= 2 * (bin width)^2 / 4 = 0.005
        f = rng.integers(0, 10001, size=5000)
        y = (rng.random(5000) < f / 10000.0).astype(int)
        d = brier_decomposition(f, y)
        gap = d["brier"] - (d["reliability"] - d["resolution"] + d["uncertainty"])
        assert abs(gap) <= 0.005 + 1e-12

    def test_proper_scoring_rules(self):
        rng = np.random.default_rng(Z_SEED + 4)
        p_true = 0.3
        y = (rng.random(200000) < p_true).astype(float)

        def logloss(q):
            qq = min(max(q, 1e-4), 1 - 1e-4)
            return float(-np.mean(y * math.log(qq) + (1 - y) * math.log(1 - qq)))

        def brier(q):
            return float(np.mean((q - y) ** 2))

        for q in (0.1, 0.2, 0.4, 0.5, 0.8):
            assert logloss(q) > logloss(p_true)
            assert brier(q) > brier(p_true)

    def test_bh_controls_fdr(self):
        rng = np.random.default_rng(Z_SEED + 5)
        m0, m1 = 80, 20
        fdps, power = [], []
        for _ in range(1500):
            p = np.concatenate(
                [rng.random(m0), rng.beta(0.08, 1.0, size=m1)]  # nulls + strong alts
            )
            is_null = np.arange(m0 + m1) < m0
            _, rej = bh_adjust(p)
            r = int(rej.sum())
            fdps.append((rej & is_null).sum() / max(r, 1))
            power.append((rej & ~is_null).sum() / m1)
        fdr = float(np.mean(fdps))
        assert fdr <= 0.05 + 0.01, f"BH FDR {fdr:.4f}"
        assert fdr >= 0.01  # not vacuously conservative
        assert float(np.mean(power)) > 0.5  # and it actually discovers

    def test_holm_controls_fwer(self):
        rng = np.random.default_rng(Z_SEED + 6)
        m = 100
        fwe = []
        for _ in range(1500):
            p = rng.random(m)  # all nulls
            _, rej = holm_adjust(p)
            fwe.append(bool(rej.any()))
        r = float(np.mean(fwe))
        assert 0.01 <= r <= 0.05 + 0.01, f"Holm FWER {r:.4f}"

    def test_bh_less_conservative_than_holm(self):
        rng = np.random.default_rng(Z_SEED + 7)
        more = 0
        for _ in range(300):
            p = np.concatenate([rng.random(50), rng.beta(0.1, 1.0, size=50)])
            _, rej_bh = bh_adjust(p)
            _, rej_holm = holm_adjust(p)
            # Holm rejections are a subset of BH's at the same level
            assert not (rej_holm & ~rej_bh).any()
            more += int(rej_bh.sum() > rej_holm.sum())
        assert more > 150  # and usually strictly more discoveries


# ==================================================== tier agreement


@pytest.fixture(scope="module")
def doc_scores(sf_dir):
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
    return np.array(scores), np.array(labels)


class TestTierAgreement6:
    def test_pass_at_k(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "eval_pass_at_k").iloc[0]
        ev = events_pd[events_pd["event_type"] == "purchase"]
        per = ev.groupby("user_id").agg(
            n=("value", "size"), c=("value", lambda s: int((s > 200).sum()))
        )
        per = per[per["n"] >= 3]
        p1 = float(np.mean(per["c"] / per["n"]))
        p3 = float(np.mean([pass_at_k(int(n), int(c), 3) for n, c in zip(per["n"], per["c"])]))
        assert got["n_problems"] == len(per)
        assert got["any_success"] == int((per["c"] > 0).sum())
        assert abs(got["pass_at_1"] - p1) < 1.1e-6
        assert abs(got["pass_at_3"] - p3) < 1.1e-6

    def test_ndcg_topk(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "eval_ndcg_topk").set_index("nationkey")
        c = pd.read_parquet(
            f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey", "c_acctbal"]
        )
        o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey"])
        gain = o.groupby("o_custkey").size()
        c["gain"] = c["c_custkey"].map(gain).fillna(0).astype(float)
        for nk, grp in c.groupby("c_nationkey"):
            pred = grp.sort_values(["c_acctbal", "c_custkey"], ascending=[False, True])["gain"].to_numpy()
            ideal = grp.sort_values(["gain", "c_custkey"], ascending=[False, True])["gain"].to_numpy()
            dcg, idcg = dcg_at_k(pred, 10), dcg_at_k(ideal, 10)
            row = got.loc[nk]
            assert abs(row["dcg_10"] - dcg) < 1.1e-6 * max(1.0, dcg)
            assert abs(row["idcg_10"] - idcg) < 1.1e-6 * max(1.0, idcg)
            if idcg > 0:
                assert abs(row["ndcg_10"] - dcg / idcg) < 1.1e-6

    def test_map_mrr(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "eval_map_mrr").iloc[0]
        ev = events_pd.copy()
        ev["rel"] = (ev["event_type"] == "purchase").astype(int)
        aps, rrs = [], []
        for _, g in ev.groupby("user_id"):
            g = g.sort_values(["value", "event_id"], ascending=[False, True])
            rels = g["rel"].to_numpy()
            if rels.sum() == 0:
                continue
            aps.append(average_precision(rels))
            rrs.append(1.0 / (int(np.argmax(rels)) + 1))
        assert got["n_users"] == len(aps)
        assert abs(got["map"] - float(np.mean(aps))) < 1.1e-6
        assert abs(got["mrr"] - float(np.mean(rrs))) < 1.1e-6

    def test_brier_decomposition(self, spark, sf_dir, doc_scores):
        got = query_pd(spark, sf_dir, "eval_brier_decomposition").iloc[0]
        scores, labels = doc_scores
        ref = brier_decomposition(np.round(scores * 10000).astype(int), labels)
        assert got["n_docs"] == len(scores)
        for c in ("brier", "reliability", "resolution", "uncertainty"):
            assert abs(got[c] - ref[c]) < 1.1e-6, c
        # Murphy identity residual on this tier: |var_f|bin - 2cov(f,y|bin)|
        # bounded by 2 * (bin width)^2 / 4
        gap = ref["brier"] - (ref["reliability"] - ref["resolution"] + ref["uncertainty"])
        assert abs(gap) <= 0.005 + 1e-12

    def test_lift_gains(self, spark, sf_dir, doc_scores):
        got = query_pd(spark, sf_dir, "eval_lift_gains").sort_values("bucket").reset_index(drop=True)
        scores, labels = doc_scores
        bucket = np.minimum(np.floor(scores * 10), 9).astype(int)
        df = pd.DataFrame({"b": bucket, "y": labels})
        g = df.groupby("b").agg(n=("y", "size"), pos=("y", "sum")).sort_index(ascending=False)
        g["cum_n"] = g["n"].cumsum()
        g["cum_pos"] = g["pos"].cumsum()
        nt, pt = float(g["n"].sum()), float(g["pos"].sum())
        g = g.sort_index()
        assert list(got["bucket"]) == list(g.index)
        np.testing.assert_allclose(got["cum_gain"], g["cum_pos"] / pt, atol=1.1e-6)
        np.testing.assert_allclose(got["cum_lift"], (g["cum_pos"] / g["cum_n"]) / (pt / nt), atol=1.1e-6)
        np.testing.assert_allclose(got["population_frac"], g["cum_n"] / nt, atol=1.1e-6)
        # edge identities: the full-population row has gain = lift = frac = 1
        full = got.iloc[got["population_frac"].idxmax()]
        assert abs(full["cum_gain"] - 1.0) < 1.1e-6
        assert abs(full["cum_lift"] - 1.0) < 1.1e-6

    def test_logloss_brier(self, spark, sf_dir, doc_scores):
        got = query_pd(spark, sf_dir, "eval_logloss_brier").iloc[0]
        scores, labels = doc_scores
        p = np.clip(scores, 0.0001, 0.9999)
        ll = float(-np.mean(labels * np.log(p) + (1 - labels) * np.log(1 - p)))
        br = float(np.mean((scores - labels) ** 2))
        assert got["n"] == len(scores)
        assert abs(got["log_loss"] - ll) < 1.1e-6
        assert abs(got["brier_score"] - br) < 1.1e-6

    @pytest.mark.parametrize("name,adjust", [("stat_bh_fdr", "bh"), ("stat_holm_stepdown", "holm")])
    def test_bh_holm(self, spark, sf_dir, events_pd, name, adjust):
        got = query_pd(spark, sf_dir, name)
        ev = events_pd.copy()
        ev["c"] = np.round(ev["value"] * 100).astype("int64")
        ev["hr"] = ev["ts"].dt.hour
        n = len(ev)
        s = float(ev["c"].sum())
        ss = float(np.sum(ev["c"].to_numpy(float) ** 2))
        sd = math.sqrt((ss - s * s / n) / (n - 1))
        g = ev.groupby(["event_type", "hr"]).agg(n_g=("c", "size"), s_g=("c", "sum")).reset_index()
        g["z"] = np.round((g["s_g"] / g["n_g"] - s / n) * np.sqrt(g["n_g"]) / sd, 4)
        # published p is the two-sided tail of the ROUNDED z, itself
        # rounded to 6 dp before adjustment (the engine's convention)
        g["p"] = np.round([math.erfc(abs(z) / math.sqrt(2.0)) for z in g["z"]], 6)
        g = g.sort_values(["event_type", "hr"]).reset_index(drop=True)
        key_sorted = got.sort_values(["event_type", "hr"]).reset_index(drop=True)
        np.testing.assert_allclose(key_sorted["z_stat"], g["z"], atol=5.1e-5)
        np.testing.assert_allclose(key_sorted["p_value"], g["p"], atol=2e-6)
        adj, rej = (bh_adjust if adjust == "bh" else holm_adjust)(g["p"].to_numpy())
        col = "p_bh" if adjust == "bh" else "p_holm"
        np.testing.assert_allclose(key_sorted[col], adj, atol=2e-6)
        assert list(key_sorted["reject"]) == list(rej)
