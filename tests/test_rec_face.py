"""Independent-definition truth tests for batch 6 (PR-AUC, key-gap
audit, item-item cosine, user-user Jaccard): pandas/python-from-scratch
recomputation over the same sf0.001 parquet."""

from __future__ import annotations

import json
import math
from collections import defaultdict

import pytest

from etl_file_sync_spark.queries import REGISTRY
from tests.conftest import read_pq


def _user_items(sf_dir: str) -> set[tuple[int, int]]:
    e = read_pq(sf_dir, "events")
    v = e[e.event_type == "view"]
    return {
        (int(u), int(json.loads(p)["k"]))
        for u, p in zip(v.user_id, v.props)
        if json.loads(p).get("k") is not None
    }


def test_auprc_matches_blockwise_ap(spark, sf_dir):
    got = REGISTRY["eval_auprc"].build(spark, sf_dir).collect()[0]
    # independent spelling: rebuild the scored frame via the registered
    # roc query's own Spark frame would be circular — recompute AP from
    # the (score, label) pairs the sibling eval_roc_auc also consumes
    from etl_file_sync_spark.queries.eval_face import _scored

    pairs = [(r["score"], r["label"]) for r in _scored(spark, sf_dir).collect()]
    blocks: dict[float, list[int]] = defaultdict(lambda: [0, 0])
    for s, lab in pairs:
        blocks[s][0] += lab
        blocks[s][1] += 1
    p_tot = sum(v[0] for v in blocks.values())
    n_tot = sum(v[1] for v in blocks.values()) - p_tot
    cumpos = cumtot = 0
    ap = 0.0
    for s in sorted(blocks, reverse=True):
        pos, tot = blocks[s]
        cumpos += pos
        cumtot += tot
        ap += pos / p_tot * (cumpos / cumtot)
    assert got["n_pos"] == p_tot and got["n_neg"] == n_tot
    assert got["auprc"] == pytest.approx(ap, abs=1e-6)
    assert got["baseline_precision"] == pytest.approx(
        p_tot / (p_tot + n_tot), abs=1e-6
    )
    # AP of a real ranker on this frame should beat the baseline
    assert got["auprc"] > got["baseline_precision"]


def test_key_gaps_match_python(spark, sf_dir):
    got = REGISTRY["dq_key_gaps"].build(spark, sf_dir).collect()
    keys = sorted(set(read_pq(sf_dir, "orders").o_orderkey.astype(int)))
    n_missing = keys[-1] - keys[0] + 1 - len(keys)
    gaps = [
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(keys, keys[1:])
        if b - a > 1
    ]
    gaps.sort(key=lambda g: (-g[2], g[0]))
    assert len(got) == min(5, len(gaps))
    for r, (s, e, ln) in zip(got, gaps):
        assert (r["gap_start"], r["gap_end"], r["gap_len"]) == (s, e, ln)
        assert r["n_keys"] == len(keys)
        assert r["n_missing"] == n_missing


def test_rec_item_cosine_matches_python(spark, sf_dir):
    got = REGISTRY["rec_item_cosine"].build(spark, sf_dir).collect()
    ui = _user_items(sf_dir)
    by_user: dict[int, set[int]] = defaultdict(set)
    freq: dict[int, int] = defaultdict(int)
    for u, i in ui:
        by_user[u].add(i)
        freq[i] += 1
    cooc: dict[tuple[int, int], int] = defaultdict(int)
    for items in by_user.values():
        s = sorted(items)
        for x, a in enumerate(s):
            for b in s[x + 1 :]:
                cooc[(a, b)] += 1
    scored = [
        (a, b, c, c / math.sqrt(freq[a] * freq[b])) for (a, b), c in cooc.items()
    ]
    scored.sort(key=lambda r: (-round(r[3], 6), r[0], r[1]))
    assert len(got) == min(20, len(scored))
    for r, (a, b, c, cos) in zip(got, scored):
        assert (r["item_a"], r["item_b"], r["cooc"]) == (a, b, c)
        assert r["cosine"] == pytest.approx(cos, abs=1e-6)


def test_rec_user_jaccard_matches_python(spark, sf_dir):
    got = REGISTRY["rec_user_jaccard_topk"].build(spark, sf_dir).collect()
    ui = _user_items(sf_dir)
    by_user: dict[int, set[int]] = defaultdict(set)
    for u, i in ui:
        by_user[u].add(i)
    expect = []
    for tgt in sorted(u for u in by_user if u % 37 == 0):
        cands = []
        for nb, items in by_user.items():
            if nb == tgt:
                continue
            inter = len(by_user[tgt] & items)
            if inter >= 2:
                jac = inter / (len(by_user[tgt]) + len(items) - inter)
                cands.append((nb, inter, jac))
        cands.sort(key=lambda c: (-round(c[2], 6), c[0]))
        for rk, (nb, inter, jac) in enumerate(cands[:3], start=1):
            expect.append((tgt, nb, inter, jac, rk))
    assert len(got) == len(expect)
    for r, (tgt, nb, inter, jac, rk) in zip(got, expect):
        assert (r["target_user"], r["neighbor_user"]) == (tgt, nb)
        assert r["shared_items"] == inter
        assert r["jaccard"] == pytest.approx(jac, abs=1e-6)
        assert r["rk"] == rk
