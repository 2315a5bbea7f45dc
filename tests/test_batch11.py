"""Independent-definition truth tests for batch 11 (TOST equivalence,
code detection, error-budget burn)."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_tost_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_tost_equivalence"].build(spark, sf_dir).collect()[0]
    e = read_pq(sf_dir, "events")
    p = e[e.event_type == "purchase"]
    c = (p.value * 100).round().astype("int64")
    a = c[p.user_id % 2 == 0].to_numpy(dtype=float)
    b = c[p.user_id % 2 == 1].to_numpy(dtype=float)
    diff = a.mean() - b.mean()
    se = math.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
    m = 500.0
    z_lo, z_up = (diff + m) / se, (m - diff) / se

    def sf(x):
        return 0.5 * math.erfc(x / math.sqrt(2))

    p_tost = max(sf(z_lo), sf(z_up))
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert got["mean_diff_cents"] == pytest.approx(diff, abs=1e-3)
    assert got["se_cents"] == pytest.approx(se, abs=1e-3)
    assert got["z_lower"] == pytest.approx(z_lo, abs=1e-3)
    assert got["z_upper"] == pytest.approx(z_up, abs=1e-3)
    assert got["p_tost"] == pytest.approx(p_tost, abs=1e-4)
    assert got["equivalent"] == (p_tost < 0.05)


def test_code_detection_matches_python(spark, sf_dir):
    got = {r["source"]: r for r in
           REGISTRY["text_code_detection"].build(spark, sf_dir).collect()}
    d = read_pq(sf_dir, "documents")
    sym_re = re.compile(r"[{}();=<>\[\]]")
    for src, grp in d.groupby("source"):
        syms, digs, scores = [], [], []
        for text in grp.text:
            n = len(text)
            sym = len(sym_re.findall(text))
            dig = sum(ch.isdigit() for ch in text)
            syms.append(round(sym / n, 6))
            digs.append(round(dig / n, 6))
            scores.append(round(sym * 3.0 / n + dig * 1.0 / n, 6))
        r = got[src]
        assert r["n_docs"] == len(grp)
        assert r["avg_symbol_ratio"] == pytest.approx(np.mean(syms), abs=1e-6)
        assert r["avg_digit_ratio"] == pytest.approx(np.mean(digs), abs=1e-6)
        n_codeish = sum(1 for s in scores if s > 0.05)
        assert r["n_codeish"] == n_codeish
        assert r["codeish_rate"] == pytest.approx(n_codeish / len(grp), abs=1e-6)


def test_error_budget_burn_matches_pandas(spark, sf_dir):
    got = REGISTRY["ops_error_budget_burn"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    d = (
        pd.DataFrame(
            {
                "day": pd.to_datetime(e.ts).dt.normalize(),
                "err": (e.event_type == "error").astype(int),
            }
        )
        .groupby("day")
        .agg(events=("err", "size"), errors=("err", "sum"))
        .sort_index()
    )
    d["cum_ev"] = d.events.cumsum()
    d["cum_er"] = d.errors.cumsum()
    assert len(got) == len(d)
    for r, (day, row) in zip(got, d.iterrows()):
        assert pd.Timestamp(r["day"]) == day
        assert r["events"] == row.events and r["errors"] == row.errors
        assert r["error_rate"] == pytest.approx(row.errors / row.events, abs=1e-6)
        assert r["budget_burn"] == pytest.approx(
            row.cum_er / (0.25 * row.cum_ev), abs=1e-6
        )
        assert r["budget_exhausted"] == (row.cum_er * 4 > row.cum_ev)
