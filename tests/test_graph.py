"""Graph operators: PageRank against numpy power iteration on planted
graphs, triangle counts, and the driver actions of the iterative
operators (PageRank and connected components)."""

from __future__ import annotations

import numpy as np
import pytest

from etl_file_sync_spark.operators.cluster import connected_components
from etl_file_sync_spark.operators.graph import pagerank

CHAIN = [(i, i + 1) for i in range(120)]
MULTI = [(5, 5), (1, 2), (2, 1), (1, 2)]  # self-loop and duplicate edges


def _numpy_pagerank(edge_list, damping=0.85, iters=15):
    """{node: rank} over the nodes that appear in edge_list; duplicate
    edges and self-loops count as parallel edges."""
    nodes = sorted({x for e in edge_list for x in e})
    idx = {x: i for i, x in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for a, b in edge_list:
        A[idx[a], idx[b]] += 1.0
        A[idx[b], idx[a]] += 1.0
    deg = A.sum(1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = (A / deg[:, None]).T @ r
        r = (1 - damping) / n + damping * inflow
    return dict(zip(nodes, r))


@pytest.mark.parametrize(
    "edges",
    [[(0, 1), (1, 2), (2, 3)], [(0, 1), (0, 2), (0, 3), (0, 4)], [(0, 1), (1, 2), (2, 0), (3, 4)], MULTI],
)
def test_pagerank_matches_power_iteration(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.rank for r in pagerank(df, iters=15).collect()}
    exp = _numpy_pagerank(edges)
    assert got.keys() == exp.keys()
    for node, rank in got.items():
        assert rank == pytest.approx(exp[node], abs=1e-9)
    # hub of the star graph must dominate
    if edges == [(0, 1), (0, 2), (0, 3), (0, 4)]:
        assert got[0] == max(got.values())


def test_pagerank_mass_conserved(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_a long, id_b long")
    ranks = pagerank(df, iters=10).collect()
    assert sum(r.rank for r in ranks) == pytest.approx(1.0, abs=1e-9)


def test_empty_graph_keeps_schema(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    cc, pr = connected_components(pairs), pagerank(pairs)
    assert cc.collect() == [] and cc.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert pr.collect() == [] and pr.schema.simpleString() == "struct<node:bigint,rank:double>"


def test_connected_components_drop_self_loop_only_nodes(spark):
    pairs = spark.createDataFrame(MULTI, "id_a long, id_b long")
    assert {r.id: r.component for r in connected_components(pairs).collect()} == {1: 1, 2: 1}


def _driver_calls(monkeypatch):
    """Record the outermost collect/count/first/toPandas/localCheckpoint
    calls (first() calls collect() inside; that counts once)."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls, depth = [], [0]
    for name in ("collect", "count", "first", "toPandas", "localCheckpoint"):
        orig = getattr(DataFrame, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            if not depth[0]:
                eager = k.get("eager", a[0] if a else True)
                calls.append(f"checkpoint(eager={eager})" if _name == "localCheckpoint" else _name)
            depth[0] += 1
            try:
                return _orig(self, *a, **k)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(DataFrame, name, counted)
    return calls


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_connected_components_one_action_per_round(spark, monkeypatch):
    """One eager checkpoint of the symmetric edge list, then per star
    round one lazy checkpoint and the one count that materializes it and
    reads the convergence signal. Each checkpoint persists at most one
    RDD and nothing else is persisted."""
    pairs = spark.createDataFrame(CHAIN, "id_a long, id_b long")
    before = _persisted(spark)
    calls = _driver_calls(monkeypatch)
    connected_components(pairs)
    rounds = calls.count("count")
    assert 1 <= rounds <= 10
    assert calls == ["checkpoint(eager=True)"] + ["checkpoint(eager=False)", "count"] * rounds
    assert len(_persisted(spark) - before) <= 1 + rounds


@pytest.mark.parametrize("iters", [10, 15])
def test_pagerank_driver_actions(spark, monkeypatch, iters):
    """One lazy checkpoint of the edge list, materialized by the one
    n_nodes read, then one eager rank checkpoint per five iterations;
    no count, and no more persisted RDDs than checkpoints."""
    pairs = spark.createDataFrame(CHAIN, "id_a long, id_b long")
    before = _persisted(spark)
    calls = _driver_calls(monkeypatch)
    pagerank(pairs, iters=iters)
    assert calls == ["checkpoint(eager=False)", "first"] + ["checkpoint(eager=True)"] * (iters // 5)
    assert len(_persisted(spark) - before) <= 1 + iters // 5


def test_triangle_counts_on_known_graph(spark):
    """K4 has 4 triangles: every vertex sits in C(3,2)=3 of them; a
    pendant vertex sits in none and must be absent."""
    from etl_file_sync_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 9)], "id_a long, id_b long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_ignore_duplicates_direction_and_self_loops(spark):
    from etl_file_sync_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 2)], "id_a long, id_b long"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 1, 1: 1, 2: 1}
