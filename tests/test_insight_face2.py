"""Independent-definition truth tests for insight face 2 (LTV cohort
curves, Neyman allocation, term burstiness, Adamic-Adar, language
diversity): the DuckDB oracle proves cross-engine agreement; these
recompute each result from pandas/python-from-scratch definitions over
the same sf0.001 parquet."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd
import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def test_ltv_cohort_curves_match_pandas(spark, sf_dir):
    got = REGISTRY["behavior_ltv_cohort_curves"].build(spark, sf_dir).collect()
    e = read_pq(sf_dir, "events")
    p = e[e.event_type == "purchase"].copy()
    p["day"] = pd.to_datetime(p.ts).dt.normalize()
    p["cents"] = (p.value * 100).round().astype("int64")
    c0 = p.groupby("user_id").day.min().rename("c0")
    p = p.join(c0, on="user_id")
    p["age"] = (p.day - p.c0).dt.days
    rev = p.groupby(["c0", "age"]).cents.sum().sort_index()
    cum = rev.groupby(level="c0").cumsum()
    users = c0.value_counts()
    assert len(got) == len(rev)
    for r in got:
        key = (pd.Timestamp(r["cohort_day"]), r["age_days"])
        expect = cum[key] / 100.0 / users[key[0]]
        assert r["cum_rev_per_user"] == pytest.approx(expect, abs=1e-4)
        assert r["n_users"] == users[key[0]]
    # curves are nondecreasing in age within each cohort
    by_cohort = defaultdict(list)
    for r in sorted(got, key=lambda r: (str(r["cohort_day"]), r["age_days"])):
        by_cohort[str(r["cohort_day"])].append(r["cum_rev_per_user"])
    for vals in by_cohort.values():
        assert all(a <= b + 1e-9 for a, b in zip(vals, vals[1:]))


def test_neyman_allocation_matches_python(spark, sf_dir):
    got = {
        r["source"]: r
        for r in REGISTRY["sample_neyman_allocation"].build(spark, sf_dir).collect()
    }
    d = read_pq(sf_dir, "documents")
    g = d.groupby("source").n_chars.agg(["size", "std"])
    wh = {s: round(int(r["size"]) * float(r["std"]) * 1000) for s, r in g.iterrows()}
    wt = sum(wh.values())
    base = {s: (10000 * w) // wt for s, w in wh.items()}
    rem = {s: 10000 * w - base[s] * wt for s, w in wh.items()}
    leftover = 10000 - sum(base.values())
    order = sorted(wh, key=lambda s: (-rem[s], s))
    alloc = {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }
    assert sum(alloc.values()) == 10000
    for s, r in got.items():
        assert r["alloc_n"] == alloc[s], s
        assert r["n_docs"] == int(g.loc[s, "size"])
        assert r["sd_chars"] == pytest.approx(float(g.loc[s, "std"]), abs=1e-4)
    assert sum(r["alloc_n"] for r in got.values()) == 10000


def test_term_burstiness_matches_pandas(spark, sf_dir):
    got = REGISTRY["text_term_burstiness"].build(spark, sf_dir).collect()
    d = read_pq(sf_dir, "documents")
    n_docs = len(d)
    counts: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for doc_id, text in zip(d.doc_id, d.text):
        for tok in text.split(" "):
            if tok:
                counts[tok][doc_id] += 1
    rows = []
    for term, per in counts.items():
        df = len(per)
        if df < 30:
            continue
        tf = sum(per.values())
        ss = sum(c * c for c in per.values())
        mean = tf / n_docs
        var = (ss - tf * tf / n_docs) / (n_docs - 1)
        rows.append((term, df, tf, var / mean))
    rows.sort(key=lambda r: (-r[3], r[0]))
    assert len(got) == min(20, len(rows))
    for r, (term, df, tf, disp) in zip(got, rows):
        assert r["term"] == term
        assert r["df"] == df and r["tf"] == tf
        assert r["dispersion"] == pytest.approx(disp, abs=1e-5)
        assert r["dispersion"] > 0


def test_adamic_adar_matches_python(spark, sf_dir):
    got = REGISTRY["graph_adamic_adar"].build(spark, sf_dir).collect()
    li = read_pq(sf_dir, "lineitem")
    co: dict[tuple[int, int], int] = defaultdict(int)
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(grp.l_partkey)
        for i, a in enumerate(parts):
            for b in parts[i + 1 :]:
                if a < b:
                    co[(a, b)] += 1
    edges = {p for p, s in co.items() if s >= 2}
    nbr: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        nbr[a].add(b)
        nbr[b].add(a)
    scores = defaultdict(float)
    commons = defaultdict(int)
    for mid, ns in nbr.items():
        if len(ns) > 500:
            continue
        ns_sorted = sorted(ns)
        for i, a in enumerate(ns_sorted):
            for c in ns_sorted[i + 1 :]:
                scores[(a, c)] += 1 / math.log(len(ns))
                commons[(a, c)] += 1
    cand = [
        (a, c, commons[(a, c)], s)
        for (a, c), s in scores.items()
        if (a, c) not in edges
    ]
    cand.sort(key=lambda r: (-round(r[3], 6), r[0], r[1]))
    assert len(got) == min(20, len(cand))
    for r, (a, c, cn, s) in zip(got, cand):
        assert (r["part_a"], r["part_b"]) == (a, c)
        assert r["common_neighbors"] == cn
        assert r["aa_score"] == pytest.approx(s, abs=1e-5)


def test_lang_diversity_matches_numpy(spark, sf_dir):
    got = {
        r["source"]: r
        for r in REGISTRY["corpus_lang_diversity"].build(spark, sf_dir).collect()
    }
    d = read_pq(sf_dir, "documents")
    for src, grp in d.groupby("source"):
        p = grp.lang.value_counts(normalize=True).to_numpy()
        r = got[src]
        assert r["n_docs"] == len(grp)
        assert r["n_langs"] == grp.lang.nunique()
        assert r["simpson"] == pytest.approx(float((p**2).sum()), abs=1e-6)
        assert r["gini_simpson"] == pytest.approx(1 - float((p**2).sum()), abs=1e-6)
        sh = -float((p * np.log(p)).sum())
        assert r["shannon"] == pytest.approx(sh, abs=1e-6)
        if len(p) > 1:
            assert r["pielou_evenness"] == pytest.approx(
                sh / math.log(len(p)), abs=1e-6
            )
            assert 0 <= r["pielou_evenness"] <= 1 + 1e-9
        else:
            assert r["pielou_evenness"] is None
