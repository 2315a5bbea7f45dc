"""Multi-hop proof for the recursive-CTE BFS (queries/advanced.py): the
organic sf data only contains isolated dup pairs, so traversal depth is
asserted here on a planted chain and a planted cycle."""

from __future__ import annotations

from etl_file_sync_spark.queries import REGISTRY
from etl_file_sync_spark.queries.advanced import _BFS_SQL


def _bfs(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    df.createOrReplaceTempView("nd_edges")
    return {(r.src, r.node): r.hops for r in spark.sql(_BFS_SQL).collect()}


def test_bfs_chain_hops(spark):
    # 1-2-3-4 chain: hop distances 1,2,3
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {(1, 2): 1, (1, 3): 2, (1, 4): 3, (2, 3): 1, (2, 4): 2, (3, 4): 1}


def test_bfs_cycle_min_hop(spark):
    # square 1-2-3-4-1: opposite corners are 2 hops, min() collapses the
    # longer walks the UNION ALL recursion also enumerates
    got = _bfs(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
    assert got[(1, 3)] == 2 and got[(2, 4)] == 2
    assert all(h == 1 for k, h in got.items() if k not in {(1, 3), (2, 4)})


def test_bfs_disconnected_components_do_not_mix(spark):
    got = _bfs(spark, [(1, 2), (10, 11)])
    assert got == {(1, 2): 1, (10, 11): 1}


def test_bfs_query_runs_its_edge_plan_once(spark, sf_dir):
    """The registry query checkpoints its Jaccard edges before the
    recursion, so the rounds do not re-run the edge plan: 67 Spark jobs
    at sf0.001, against about 350 when every round re-ran it."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup("bfs_jobs", "sql_recursive_bfs_pairs")
    try:
        rows = REGISTRY["sql_recursive_bfs_pairs"].build(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("bfs_jobs"))
    assert rows and n_jobs <= 100, f"{n_jobs} Spark jobs for sql_recursive_bfs_pairs"
