"""Independent-definition truth tests for batch 7 (Holt-Winters weekly,
Kendall tau-b on the daily frame, Hanley-McNeil AUC CI)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def _daily(sf_dir: str) -> pd.DataFrame:
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    return (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate).dt.normalize(), "c": cents})
        .groupby("day")
        .agg(rev=("c", "sum"), n=("c", "size"))
        .sort_index()
    )


def test_holt_winters_matches_python(spark, sf_dir):
    got = REGISTRY["ts_holt_winters_weekly"].build(spark, sf_dir).collect()
    d = _daily(sf_dir)
    y = d.rev.to_numpy(dtype=float)
    a, bb, g, p = 0.3, 0.1, 0.2, 7
    w1, w2 = y[:p].sum() / p, y[p : 2 * p].sum() / p
    l, b = w1, (w2 - w1) / p
    s = list(y[:p] - w1)
    fits = []
    for yt in y[p:]:
        head = s[0]
        fits.append(l + b + head)
        l_new = a * (yt - head) + (1 - a) * (l + b)
        b = bb * (l_new - l) + (1 - bb) * b
        s = s[1:] + [g * (yt - l_new) + (1 - g) * head]
        l = l_new
    hist = [r for r in got if r["horizon"] == 0]
    fc = [r for r in got if r["horizon"] > 0]
    assert len(hist) == min(28, len(fits))
    for r, f in zip(hist, fits[-28:]):
        assert r["fitted"] == pytest.approx(f, abs=1e-3)
        # y_cents matches the daily frame
        assert r["y_cents"] == int(d.rev[pd.Timestamp(r["day"])])
    assert len(fc) == 7
    for h, r in enumerate(fc, start=1):
        assert r["horizon"] == h
        assert r["fitted"] == pytest.approx(l + h * b + s[h - 1], abs=1e-3)
        assert r["y_cents"] is None
    # forecast days continue the calendar
    last_day = d.index.max()
    assert pd.Timestamp(fc[0]["day"]) == last_day + pd.Timedelta(days=1)


def test_kendall_tau_matches_bruteforce(spark, sf_dir):
    got = REGISTRY["stat_kendall_tau_daily"].build(spark, sf_dir).collect()[0]
    d = _daily(sf_dir)
    x = d.rev.to_numpy()
    yv = d.n.to_numpy()
    n = len(x)
    c = disc = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            prod = (x[j] - x[i]) * (yv[j] - yv[i])
            if prod > 0:
                c += 1
            elif prod < 0:
                disc += 1
            if x[i] == x[j]:
                tx += 1
            if yv[i] == yv[j]:
                ty += 1
    n0 = n * (n - 1) / 2
    tau_b = (c - disc) / math.sqrt((n0 - tx) * (n0 - ty))
    z = 3 * (c - disc) / math.sqrt(n * (n - 1) * (2 * n + 5) / 2)
    assert got["n_days"] == n
    assert got["concordant"] == c and got["discordant"] == disc
    assert got["tau_b"] == pytest.approx(tau_b, abs=1e-6)
    assert got["z_stat"] == pytest.approx(z, abs=1e-4)
    p_ref = math.erfc(abs(got["z_stat"]) / math.sqrt(2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_auc_hanley_ci_matches_formula(spark, sf_dir):
    got = REGISTRY["eval_auc_hanley_ci"].build(spark, sf_dir).collect()[0]
    base = REGISTRY["eval_roc_auc"].build(spark, sf_dir).collect()[0]
    # AUC agrees with the registered sibling on the same frame
    assert got["auc"] == pytest.approx(base["auc"], abs=1e-6)
    assert got["n_pos"] == base["n_pos"] and got["n_neg"] == base["n_neg"]
    a = got["auc"]
    np_, nn = got["n_pos"], got["n_neg"]
    q1, q2 = a / (2 - a), 2 * a * a / (1 + a)
    se = math.sqrt(
        (a * (1 - a) + (np_ - 1) * (q1 - a * a) + (nn - 1) * (q2 - a * a))
        / (np_ * nn)
    )
    assert got["auc_se"] == pytest.approx(se, abs=1e-5)
    assert got["ci_lo"] == pytest.approx(max(0.0, a - 1.959963984540054 * se), abs=2e-5)
    assert got["ci_hi"] == pytest.approx(min(1.0, a + 1.959963984540054 * se), abs=2e-5)
    assert got["ci_lo"] <= got["auc"] <= got["ci_hi"]
