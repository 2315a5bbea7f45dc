"""Monte-Carlo calibration, batch 10 (method in tests/test_calibration.py):
the Markov/decision/ops face. The absorbing-chain machinery
(behavior_markov_absorption / behavior_markov_attribution) is pinned
against the EXACT fundamental-matrix linear solve — np.linalg.solve on
(I-Q)h = b shares no algebra with the engines' 80-step Jacobi /
recursive-CTE iteration — plus the gambler's-ruin closed form, and the
removal-effect attribution is verified on constructed kernels where the
right answer is forced (symmetric channels split credit evenly, a
channel absent from every converting path gets zero, a single-channel
funnel gets everything, shares sum to 1). Also: the MCC-is-Pearson
identity on binary vectors, largest-remainder quota compliance plus a
deterministic exhibit of its known Alabama paradox, the
cancellation-free entropy identity and its closed forms, and half-open
sweep-line concurrency vs brute-force time sampling."""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pandas as pd
import pytest
from tests.conftest import assert_close_dp, query_pd

Z_SEED = 101010


def jacobi_absorption(
    kernel: dict, states: list, hit: str, miss: str, iters: int = 80
) -> dict:
    """The absorption query's exact iteration: h pinned at 1 on `hit`,
    0 on `miss`, empty sums leave sinks at 0."""
    h = {s: (1.0 if s == hit else 0.0) for s in states}
    for _ in range(iters):
        nxt = {}
        for s in states:
            if s == hit:
                nxt[s] = 1.0
            elif s == miss:
                nxt[s] = 0.0
            else:
                nxt[s] = sum(kernel[(s, u)] * h[u] for u in states if (s, u) in kernel)
        h = nxt
    return h


def exact_absorption(kernel: dict, states: list, hit: str, miss: str) -> dict:
    """Fundamental-matrix solve of the same system: for transient s,
    h_s = sum_u P(s,u) h_u with h_hit = 1, h_miss = 0 — rearranged to
    (I - Q) h_T = P(T, hit). Shares NO algebra with the Jacobi loop."""
    trans = [s for s in states if s not in (hit, miss)]
    idx = {s: i for i, s in enumerate(trans)}
    n = len(trans)
    a = np.eye(n)
    b = np.zeros(n)
    for s in trans:
        for u in states:
            p = kernel.get((s, u))
            if p is None:
                continue
            if u == hit:
                b[idx[s]] += p
            elif u != miss and u in idx:
                a[idx[s], idx[u]] -= p
    h = {hit: 1.0, miss: 0.0}
    if n:
        sol = np.linalg.solve(a, b)
        for s in trans:
            h[s] = float(sol[idx[s]])
    return h


def attribution(kernel: dict) -> tuple[float, dict, dict]:
    """behavior_markov_attribution's scenario machinery on a kernel that
    already contains start/purchase/null (with absorbing self-loops):
    returns (base, conversion_without, removal_effects) using the EXACT
    solve per scenario."""
    states = sorted({f for f, _ in kernel} | {t for _, t in kernel})
    chans = [s for s in states if s not in ("start", "purchase", "null")]

    def solve(removed):
        k2 = {
            (f, t): (0.0 if (removed is not None and t == removed) else p)
            for (f, t), p in kernel.items()
        }
        return exact_absorption(k2, states, "purchase", "null")["start"]

    base = solve(None)
    without = {c: solve(c) for c in chans}
    effects = {c: max(base - without[c], 0.0) for c in chans}
    return base, without, effects


def largest_remainder(votes: list[int], seats: int) -> list[int]:
    """Hamilton apportionment, source-index ascending tie-break —
    the query's integer spelling."""
    t = sum(votes)
    base = [(seats * v) // t for v in votes]
    rem = [seats * v - b * t for v, b in zip(votes, base)]
    leftover = seats - sum(base)
    order = sorted(range(len(votes)), key=lambda i: (-rem[i], i))
    out = list(base)
    for i in order[:leftover]:
        out[i] += 1
    return out


def sweepline_max(intervals: list[tuple[int, int]]) -> tuple[int, int]:
    """Half-open [s, e) sweep: returns (max_concurrency, earliest t)."""
    deltas: dict[int, int] = {}
    for s, e in intervals:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e] = deltas.get(e, 0) - 1
    conc, best, at = 0, -1, None
    for t in sorted(deltas):
        conc += deltas[t]
        if conc > best:
            best, at = conc, t
    return best, at


# ===================================================== null calibration


class TestCalibration10:
    def test_jacobi_matches_fundamental_matrix(self):
        """80 Jacobi steps on random absorbing kernels equal the exact
        (I-Q)^-1 solve to ~1e-10 — the iteration count the engine and
        its recursive-CTE oracle share is deep enough that truncation
        cannot move a round(6) output."""
        rng = np.random.default_rng(Z_SEED)
        for _ in range(100):
            n_tr = int(rng.integers(1, 5))
            states = [f"s{i}" for i in range(n_tr)] + ["hit", "miss"]
            kernel = {}
            for i in range(n_tr):
                w = rng.random(n_tr + 2)
                w[-2:] += 0.3  # keep real absorption mass => rho well < 1
                w /= w.sum()
                for j, u in enumerate(states):
                    kernel[(f"s{i}", u)] = float(w[j])
            jac = jacobi_absorption(kernel, states, "hit", "miss")
            ex = exact_absorption(kernel, states, "hit", "miss")
            for s in states:
                assert abs(jac[s] - ex[s]) < 1e-10, s

    def test_gamblers_ruin_closed_form(self):
        """Birth-death chain on 0..N with up-probability p: the
        probability of hitting N before 0 from state i has the closed
        form (1-(q/p)^i)/(1-(q/p)^N) — the textbook absorbing-chain
        answer the solver must reproduce."""
        p, big_n = 0.55, 6
        q = 1 - p
        states = [str(i) for i in range(big_n + 1)]
        kernel = {}
        for i in range(1, big_n):
            kernel[(str(i), str(i + 1))] = p
            kernel[(str(i), str(i - 1))] = q
        ex = exact_absorption(kernel, states, str(big_n), "0")
        r = q / p
        for i in range(big_n + 1):
            truth = (1 - r**i) / (1 - r**big_n)
            assert abs(ex[str(i)] - truth) < 1e-12, i

    def test_attribution_forced_answers(self):
        """Constructed kernels where the attribution answer is forced."""
        # symmetric channels: equal removal effects, 50/50 shares
        k = {
            ("start", "A"): 0.5, ("start", "B"): 0.5,
            ("A", "purchase"): 0.3, ("A", "null"): 0.7,
            ("B", "purchase"): 0.3, ("B", "null"): 0.7,
            ("purchase", "purchase"): 1.0, ("null", "null"): 1.0,
        }
        base, _, eff = attribution(k)
        assert abs(base - 0.3) < 1e-12
        assert abs(eff["A"] - eff["B"]) < 1e-12
        te = sum(eff.values())
        assert abs(eff["A"] / te - 0.5) < 1e-12
        # channel on no converting path: zero effect; the other: all of it
        k = {
            ("start", "A"): 0.5, ("start", "B"): 0.5,
            ("A", "null"): 1.0, ("B", "purchase"): 1.0,
            ("purchase", "purchase"): 1.0, ("null", "null"): 1.0,
        }
        base, without, eff = attribution(k)
        assert abs(base - 0.5) < 1e-12
        assert eff["A"] == 0.0 and abs(without["A"] - 0.5) < 1e-12
        assert abs(eff["B"] - 0.5) < 1e-12
        # single-channel funnel with a self-refresh loop: share = 1 and
        # the removal effect equals the whole base conversion
        k = {
            ("start", "A"): 1.0,
            ("A", "A"): 0.4, ("A", "purchase"): 0.35, ("A", "null"): 0.25,
            ("purchase", "purchase"): 1.0, ("null", "null"): 1.0,
        }
        base, _, eff = attribution(k)
        assert abs(base - 0.35 / 0.6) < 1e-12  # geometric self-loop sum
        assert abs(eff["A"] - base) < 1e-12
        # random kernels: effects bounded by base, shares normalize to 1
        rng = np.random.default_rng(Z_SEED + 1)
        for _ in range(50):
            chans = ["A", "B", "C"]
            k = {("purchase", "purchase"): 1.0, ("null", "null"): 1.0}
            w = rng.random(3)
            w /= w.sum()
            for c, wi in zip(chans, w):
                k[("start", c)] = float(wi)
            for c in chans:
                w = rng.random(5) + 0.05
                w /= w.sum()
                for t, wi in zip(chans + ["purchase", "null"], w):
                    k[(c, t)] = float(wi)
            base, _, eff = attribution(k)
            assert all(0.0 <= e <= base + 1e-12 for e in eff.values())
            te = sum(eff.values())
            if te > 0:
                shares = [e / te for e in eff.values()]
                assert abs(sum(shares) - 1.0) < 1e-12

    def test_mcc_is_pearson_on_binary(self):
        """MCC == the Pearson correlation of the 0/1 prediction and
        label vectors (its defining identity); ~0 for independent
        predictions; +1 / -1 at the perfect / inverted extremes; and
        the closed-form binary kappa equals the general po/pe kappa."""
        rng = np.random.default_rng(Z_SEED + 2)

        def mcc_kappa(pred, lab):
            tp = int(np.sum(pred & lab))
            fp = int(np.sum(pred & ~lab))
            fn = int(np.sum(~pred & lab))
            tn = int(np.sum(~pred & ~lab))
            mcc = (tp * tn - fp * fn) / (
                math.sqrt((tp + fp) * (tp + fn)) * math.sqrt((tn + fp) * (tn + fn))
            )
            # P1*L0 + L1*P0 — the exact po/pe reduction; the pre-fix
            # spelling P1*P0 + L1*L0 is off by (fp-fn)^2 in the
            # denominator (the round-6 finding this batch caught)
            kap = (2.0 * (tp * tn - fp * fn)) / (
                (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)
            )
            return mcc, kap

        vals = []
        for _ in range(200):
            pred = rng.random(500) < 0.4
            lab = rng.random(500) < 0.25
            if pred.all() or (~pred).all() or lab.all() or (~lab).all():
                continue
            mcc, kap = mcc_kappa(pred, lab)
            r = float(np.corrcoef(pred.astype(float), lab.astype(float))[0, 1])
            assert abs(mcc - r) < 1e-12
            po = float(np.mean(pred == lab))
            pe = float(
                np.mean(pred) * np.mean(lab) + (1 - np.mean(pred)) * (1 - np.mean(lab))
            )
            assert abs(kap - (po - pe) / (1 - pe)) < 1e-12
            vals.append(mcc)
        assert abs(float(np.mean(vals))) < 0.01
        lab = rng.random(300) < 0.3
        if 0 < lab.sum() < 300:
            assert mcc_kappa(lab, lab)[0] == pytest.approx(1.0)
            assert mcc_kappa(~lab, lab)[0] == pytest.approx(-1.0)

    def test_largest_remainder_quota_and_alabama(self):
        """Hamilton apportionment satisfies the quota rule on random
        inputs (every allocation is floor(q) or ceil(q) and sums to the
        house size) — and exhibits its KNOWN Alabama paradox: a party
        can LOSE a seat when the house grows. The test finds a concrete
        instance deterministically, documenting the trade-off the
        method ships with (quota compliance over house monotonicity —
        divisor methods choose the reverse)."""
        rng = np.random.default_rng(Z_SEED + 3)
        for _ in range(300):
            k = int(rng.integers(2, 8))
            votes = [int(v) for v in rng.integers(1, 10_000, k)]
            seats = int(rng.integers(k, 200))
            alloc = largest_remainder(votes, seats)
            assert sum(alloc) == seats
            t = sum(votes)
            for v, a in zip(votes, alloc):
                q = Fraction(seats * v, t)
                assert math.floor(q) <= a <= math.ceil(q), (votes, seats)
        found = None
        for votes in ([6, 6, 2], [5, 3, 1], [7, 5, 1], [6, 5, 2], [4, 3, 2]):
            for h in range(3, 40):
                a1 = largest_remainder(votes, h)
                a2 = largest_remainder(votes, h + 1)
                if any(b < a for a, b in zip(a1, a2)):
                    found = (votes, h, a1, a2)
                    break
            if found:
                break
        assert found is not None, "Alabama paradox instance must exist"

    def test_entropy_identity_and_closed_forms(self):
        """The engine's cancellation-free H = ln(n) - sum c*ln(c)/n
        equals -sum p*ln(p) exactly; uniform k-ary hits ln(k)
        (norm_entropy 1), a point mass hits 0."""
        rng = np.random.default_rng(Z_SEED + 4)
        for _ in range(100):
            c = rng.integers(1, 1000, int(rng.integers(2, 30))).astype(float)
            n = c.sum()
            h1 = math.log(n) - float((c * np.log(c)).sum()) / n
            p = c / n
            h2 = -float((p * np.log(p)).sum())
            assert abs(h1 - h2) < 1e-12
        c = np.full(16, 250.0)
        h = math.log(c.sum()) - float((c * np.log(c)).sum()) / c.sum()
        assert abs(h - math.log(16)) < 1e-12
        assert abs(h / math.log(16) - 1.0) < 1e-12
        c = np.array([4000.0])
        h = math.log(c.sum()) - float((c * np.log(c)).sum()) / c.sum()
        assert abs(h) < 1e-12

    def test_sweepline_vs_brute_force(self):
        """Half-open [s, e) sweep-line max concurrency equals dense
        per-second brute force on random interval sets, and back-to-back
        intervals do NOT overlap at the boundary."""
        rng = np.random.default_rng(Z_SEED + 5)
        for _ in range(100):
            n = int(rng.integers(2, 60))
            s = rng.integers(0, 500, n)
            d = rng.integers(1, 100, n)
            iv = [(int(a), int(a + b)) for a, b in zip(s, d)]
            mx, at = sweepline_max(iv)
            t_axis = np.arange(0, 620)
            conc = np.zeros(len(t_axis), dtype=int)
            for a, b in iv:
                conc[a:b] += 1
            assert mx == conc.max()
            assert at == int(np.argmax(conc))
        assert sweepline_max([(0, 10), (10, 20)])[0] == 1


# ==================================================== tier agreement


def _close_floor(got, ref, dp, msg=""):
    """Closeness under the FLOOR reporting grain (the round-8 Markov
    convention, behavior.py grain(): floor(x*10^dp)/10^dp — chosen over
    round because Python round is half-even and DuckDB round is
    half-away-from-zero). got is the floor of an engine double that
    matches ref to fp precision, so it sits up to one full grain BELOW
    ref and never meaningfully above it — the round-half _close bound of
    0.51 grains is wrong by construction for values just under a grain
    boundary (e.g. a base conversion of 1.0 - 2e-16 floors to 0.999999)."""
    g, r = float(got), float(ref)
    slack = 5e-9 * max(1.0, abs(r))
    assert r - 10**-dp - slack <= g <= r + slack, (msg, got, ref)


class TestTierAgreement10:
    def test_markov_absorption_vs_linear_solve(self, spark, sf_dir, events_pd):
        """The registry query's Jacobi answer vs the exact fundamental-
        matrix solve on the kernel recomputed independently in pandas —
        no shared algebra with either engine."""
        got = query_pd(spark, sf_dir, "behavior_markov_absorption").set_index("state")
        e = events_pd.sort_values(["user_id", "ts", "event_id"])
        e["next"] = e.groupby("user_id")["event_type"].shift(-1)
        tr = e.dropna(subset=["next"]).groupby(["event_type", "next"]).size()
        outs = tr.groupby(level=0).sum()
        kernel = {
            (f, t_): c / outs[f] for (f, t_), c in tr.items()
        }
        states = sorted({f for f, _ in kernel} | {t_ for _, t_ in kernel})
        ex = exact_absorption(kernel, states, "error", "purchase")
        assert set(got.index) == set(states)
        for s in states:
            # floor-grain output vs exact solve: the 80-step Jacobi
            # residual is far below the reporting grain
            _close_floor(got.loc[s, "p_error_before_purchase"], ex[s], 6, s)

    def test_markov_attribution_vs_linear_solve(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "behavior_markov_attribution").set_index("channel")
        e = events_pd.dropna(subset=["event_type", "ts"]).sort_values(
            ["user_id", "ts", "event_id"]
        )
        rows = []
        for uid, g in e.groupby("user_id"):
            purch = g[g["event_type"] == "purchase"]
            if len(purch):
                first = purch.iloc[0]
                g = g[
                    (g["ts"] < first["ts"])
                    | ((g["ts"] == first["ts"]) & (g["event_id"] <= first["event_id"]))
                ]
                converts = True
            else:
                converts = False
            seq = g["event_type"].tolist()
            rows.append(("start", seq[0]))
            rows.extend(zip(seq[:-1], seq[1:]))
            if not converts:
                rows.append((seq[-1], "null"))
        tr = pd.Series(rows).value_counts()
        outs = {}
        for (f, t_), c in tr.items():
            outs[f] = outs.get(f, 0) + c
        kernel = {(f, t_): c / outs[f] for (f, t_), c in tr.items()}
        sources = {f for f, _ in kernel}
        targets = {t_ for _, t_ in kernel}
        for s in targets - sources:
            kernel[(s, s)] = 1.0
        base, without, eff = attribution(kernel)
        te = sum(eff.values())
        chans = sorted(
            s for s in (sources | targets) if s not in ("start", "purchase", "null")
        )
        assert sorted(got.index) == chans
        for c in chans:
            row = got.loc[c]
            _close_floor(row["base_conversion"], base, 6, c)
            _close_floor(row["conversion_without"], without[c], 6, c)
            _close_floor(row["removal_effect"], eff[c], 6, c)
            if te > 0:
                _close_floor(row["attribution_share"], eff[c] / te, 6, c)

    def test_mcc(self, spark, sf_dir):
        import etl_file_sync_spark.queries.eval_face as EF

        got = query_pd(spark, sf_dir, "eval_mcc").iloc[0]
        sdf = EF._scored(spark, sf_dir).toPandas()
        pred = sdf["score"].to_numpy(float) >= 0.5
        lab = sdf["label"].to_numpy(int) == 1
        tp = int(np.sum(pred & lab))
        fp = int(np.sum(pred & ~lab))
        fn = int(np.sum(~pred & lab))
        tn = int(np.sum(~pred & ~lab))
        assert (got["tp"], got["fp"], got["fn"], got["tn"]) == (tp, fp, fn, tn)
        r = float(np.corrcoef(pred.astype(float), lab.astype(float))[0, 1])
        assert_close_dp(got["mcc"], r, 6)
        po = (tp + tn) / len(sdf)
        pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / len(sdf) ** 2
        assert_close_dp(got["cohen_kappa_binary"], (po - pe) / (1 - pe), 6)

    def test_largest_remainder(self, spark, sf_dir):
        got = query_pd(spark, sf_dir, "alloc_largest_remainder").sort_values("source")
        d = pd.read_parquet(f"{sf_dir}/documents.parquet")
        counts = d.groupby("source").size().sort_index()
        alloc = largest_remainder([int(v) for v in counts], 10_000)
        assert list(got["source"]) == list(counts.index)
        assert list(got["n_docs"]) == list(counts)
        assert list(got["seats"]) == alloc
        assert int(got["seats"].sum()) == 10_000
        t = int(counts.sum())
        for v, a in zip(counts, got["seats"]):
            q = Fraction(10_000 * int(v), t)
            assert math.floor(q) <= a <= math.ceil(q)

    def test_max_concurrency(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "ops_max_concurrency").set_index("event_type")
        e = events_pd.dropna(subset=["event_type", "ts"])
        us = e["ts"].astype("datetime64[ns]").astype("int64") // 1000
        for et in got.index:
            m = (e["event_type"] == et).to_numpy()
            s = us[m].to_numpy()
            dur = (600 + (e.loc[m, "event_id"].to_numpy() % 600)) * 1_000_000
            mx, at = sweepline_max(list(zip(s.tolist(), (s + dur).tolist())))
            assert got.loc[et, "max_concurrent"] == mx
            assert got.loc[et, "at_us"] == at

    def test_entropy_profile(self, spark, sf_dir, events_pd):
        got = query_pd(spark, sf_dir, "dq_entropy_profile").set_index("col")
        d = pd.read_parquet(f"{sf_dir}/documents.parquet")
        cols = {
            "events.event_type": events_pd["event_type"],
            "events.hour": events_pd["ts"].dt.hour.astype(str),
            "documents.lang": d["lang"],
            "documents.source": d["source"],
        }
        for name, s in cols.items():
            c = s.value_counts().to_numpy(float)
            n = c.sum()
            h = math.log(n) - float((c * np.log(c)).sum()) / n
            row = got.loc[name]
            assert (row["n"], row["n_distinct"]) == (int(n), len(c))
            assert_close_dp(row["entropy_nats"], h, 6, name)
            assert_close_dp(row["norm_entropy"], h / math.log(len(c)), 6, name)
