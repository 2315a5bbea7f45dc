"""Independent-definition truth tests for batch 8 (referential
integrity, lift/gains, Cochran-Armitage, PACF)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_referential_integrity_matches_pandas(spark, sf_dir):
    got = {r["fk"]: r for r in
           REGISTRY["dq_referential_integrity"].build(spark, sf_dir).collect()}
    li = read_pq(sf_dir, "lineitem")
    o = read_pq(sf_dir, "orders")
    c = read_pq(sf_dir, "customer")
    n = read_pq(sf_dir, "nation")
    cases = [
        ("lineitem.l_orderkey -> orders", li.l_orderkey, set(o.o_orderkey)),
        ("orders.o_custkey -> customer", o.o_custkey, set(c.c_custkey)),
        ("customer.c_nationkey -> nation", c.c_nationkey, set(n.n_nationkey)),
    ]
    assert len(got) == 3
    for fk, child, parents in cases:
        r = got[fk]
        orphans = int((~child.isin(parents)).sum())
        assert r["child_rows"] == len(child)
        assert r["orphan_rows"] == orphans
        assert r["holds"] == (orphans == 0)
        assert r["orphan_rate"] == pytest.approx(orphans / len(child), abs=1e-6)


def test_lift_gains_matches_python(spark, sf_dir):
    got = REGISTRY["eval_lift_gains"].build(spark, sf_dir).collect()
    from etl_file_sync_spark.queries.eval_face import _scored

    rows = [(r["score"], r["label"]) for r in _scored(spark, sf_dir).collect()]
    buckets: dict[int, list[int]] = {}
    for s, lab in rows:
        b = min(int(s * 10), 9)
        buckets.setdefault(b, [0, 0])
        buckets[b][0] += 1
        buckets[b][1] += lab
    nt = sum(v[0] for v in buckets.values())
    pt = sum(v[1] for v in buckets.values())
    cum_n = cum_pos = 0
    expect = []
    for b in sorted(buckets, reverse=True):
        n, pos = buckets[b]
        cum_n += n
        cum_pos += pos
        expect.append((b, n, pos, cum_pos / pt, (cum_pos / cum_n) / (pt / nt), cum_n / nt))
    assert len(got) == len(expect)
    prev_gain = 0.0
    for r, (b, n, pos, gain, lift, frac) in zip(got, expect):
        assert (r["bucket"], r["n"], r["pos"]) == (b, n, pos)
        assert r["cum_gain"] == pytest.approx(gain, abs=1e-6)
        assert r["cum_lift"] == pytest.approx(lift, abs=1e-6)
        assert r["population_frac"] == pytest.approx(frac, abs=1e-6)
        assert r["cum_gain"] >= prev_gain - 1e-9  # gains are monotone
        prev_gain = r["cum_gain"]
    assert got[-1]["cum_gain"] == pytest.approx(1.0, abs=1e-6)
    assert got[-1]["population_frac"] == pytest.approx(1.0, abs=1e-6)


def test_cochran_armitage_matches_numpy(spark, sf_dir):
    got = REGISTRY["stat_cochran_armitage"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    score = o.o_orderpriority.str[0].astype(int).to_numpy()
    suc = (o.o_totalprice > 250000).astype(int).to_numpy()
    nt, xt = len(score), int(suc.sum())
    t_stat = float((score * suc).sum())
    sn = float(score.sum())
    ssn = float((score**2).sum())
    pbar = xt / nt
    z = (t_stat - pbar * sn) / math.sqrt(pbar * (1 - pbar) * (ssn - sn * sn / nt))
    assert got["n_orders"] == nt and got["n_success"] == xt
    assert got["z_stat"] == pytest.approx(z, abs=1e-4)
    p_ref = math.erfc(abs(got["z_stat"]) / math.sqrt(2))
    assert got["p_value"] == pytest.approx(p_ref, abs=5e-6)


def test_pacf_matches_numpy(spark, sf_dir):
    got = REGISTRY["ts_pacf_durbin"].build(spark, sf_dir).collect()[0]
    o = read_pq(sf_dir, "orders")
    cents = (o.o_totalprice * 100).round().astype("int64")
    y = (
        pd.DataFrame({"day": pd.to_datetime(o.o_orderdate), "c": cents})
        .groupby("day")
        .c.sum()
        .sort_index()
        .to_numpy(dtype=float)
    )
    n = len(y)
    mu = y.mean()
    d = y - mu
    c0 = float((d * d).sum())
    r = [float((d[k:] * d[:-k]).sum()) / c0 for k in (1, 2, 3)]
    assert got["n_days"] == n
    for k in (1, 2, 3):
        assert got[f"acf{k}"] == pytest.approx(r[k - 1], abs=1e-6)
    pacf2 = (r[1] - r[0] ** 2) / (1 - r[0] ** 2)
    phi21 = r[0] * (1 - pacf2)
    pacf3 = (r[2] - phi21 * r[1] - pacf2 * r[0]) / (1 - phi21 * r[0] - pacf2 * r[1])
    assert got["pacf1"] == pytest.approx(r[0], abs=1e-6)
    assert got["pacf2"] == pytest.approx(pacf2, abs=1e-6)
    assert got["pacf3"] == pytest.approx(pacf3, abs=1e-6)
    # all PACF values are valid correlations
    for k in (1, 2, 3):
        assert -1 - 1e-9 <= got[f"pacf{k}"] <= 1 + 1e-9
