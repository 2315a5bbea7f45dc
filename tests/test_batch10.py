"""Independent-definition truth tests for batch 10 (weighted median,
hapax profile, SMD balance)."""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_weighted_median_matches_python(spark, sf_dir):
    got = REGISTRY["agg_weighted_median"].build(spark, sf_dir).collect()[0]
    li = read_pq(sf_dir, "lineitem")
    v = (li.l_extendedprice * 100).round().astype("int64")
    w = li.l_quantity.astype("int64")
    g = pd.DataFrame({"v": v, "w": w}).groupby("v").w.sum().sort_index()
    wt = int(g.sum())
    cw = g.cumsum()

    def lower_quantile(frac_num: int, frac_den: int) -> int:
        return int(cw.index[(cw * frac_den >= frac_num * wt).argmax()])

    assert got["total_weight"] == wt
    assert got["n_distinct_prices"] == len(g)
    assert got["weighted_median_cents"] == lower_quantile(1, 2)
    assert got["weighted_p25_cents"] == lower_quantile(1, 4)
    assert got["weighted_p75_cents"] == lower_quantile(3, 4)
    assert (
        got["weighted_p25_cents"]
        <= got["weighted_median_cents"]
        <= got["weighted_p75_cents"]
    )


def test_hapax_profile_matches_python(spark, sf_dir):
    got = {r["source"]: r for r in
           REGISTRY["text_hapax_profile"].build(spark, sf_dir).collect()}
    d = read_pq(sf_dir, "documents")
    for src, grp in d.groupby("source"):
        cnt: Counter = Counter()
        for text in grp.text:
            cnt.update(tok for tok in text.split(" ") if tok)
        r = got[src]
        vocab = len(cnt)
        tokens = sum(cnt.values())
        hapax = sum(1 for c in cnt.values() if c == 1)
        dis = sum(1 for c in cnt.values() if c == 2)
        assert r["vocab"] == vocab and r["tokens"] == tokens
        assert r["hapax"] == hapax and r["dis"] == dis
        assert r["hapax_rate"] == pytest.approx(hapax / vocab, abs=1e-6)
        assert r["ttr"] == pytest.approx(vocab / tokens, abs=1e-6)


def test_smd_balance_matches_numpy(spark, sf_dir):
    got = {r["stratum"]: r for r in
           REGISTRY["stat_smd_balance"].build(spark, sf_dir).collect()}
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    nn = read_pq(sf_dir, "nation")
    rr = read_pq(sf_dir, "region")
    df = (
        o.merge(c, left_on="o_custkey", right_on="c_custkey")
        .merge(nn, left_on="c_nationkey", right_on="n_nationkey")
        .merge(rr, left_on="n_regionkey", right_on="r_regionkey")
    )
    df["cents"] = (df.o_totalprice * 100).round().astype("int64")
    df["treated"] = (df.o_custkey % 2 == 0).astype(int)
    for stratum, g in df.groupby("r_name"):
        tr = g[g.treated == 1].cents.to_numpy(dtype=float)
        ct = g[g.treated == 0].cents.to_numpy(dtype=float)
        smd = (tr.mean() - ct.mean()) / math.sqrt(
            (tr.var(ddof=1) + ct.var(ddof=1)) / 2
        )
        r = got[stratum]
        assert r["n_treated"] == len(tr) and r["n_control"] == len(ct)
        assert r["smd"] == pytest.approx(smd, abs=1e-6)
        assert r["abs_smd"] == pytest.approx(abs(smd), abs=1e-6)
        assert r["balanced"] == (abs(smd) < 0.1)
