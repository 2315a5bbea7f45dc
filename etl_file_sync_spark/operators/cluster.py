"""Connected components over near-duplicate pairs → dedup clusters.

The capstone of the dedup pipeline: pair lists (from exact digests,
MinHash, SimHash or embedding similarity) rarely form clean 1:1 matches —
A~B, B~C must collapse into one cluster {A,B,C} with one canonical
survivor.

Algorithm: the ALTERNATING large-star/small-star algorithm from the
map-reduce connected-components literature (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — public). Each round is
two grouped aggregations on node id:

- large-star: every node's strictly-larger neighbors re-point to the
  minimum of its closed neighborhood;
- small-star: every node and its not-larger neighbors re-point to that
  minimum.

Rounds needed are O(log²n) in theory and a handful in practice — versus
O(diameter) for naive min-label propagation, which a 1000-hop revision
chain would defeat. Both steps keep every node, and a round that changes
no edge has reached the fixpoint: a star per component around its
minimum id.

Cost: the symmetric edge list is checkpointed once (the upstream pair
plan runs once). Each round is one lazily checkpointed generation, and
its one driver action both materializes that generation and counts the
edges in only one of it and the previous one; zero means converged.
The checkpoint truncates lineage so plan size stays constant across
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Round budget. Convergence takes O(log²n) rounds, so 20 covers any
# realistic graph; exhausting it raises rather than returning split
# components.
MAX_ROUNDS = 20


def _sym(e: DataFrame) -> DataFrame:
    """Symmetric closure (u,v)+(v,u), no self-loops, distinct."""
    return (
        e.select("u", "v")
        .union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _min_nbr(sym: DataFrame) -> DataFrame:
    """(u, m): minimum of u's closed neighborhood (neighbors + itself)."""
    return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))


def connected_components(pairs: DataFrame) -> DataFrame:
    """pairs(id_a, id_b) → (id, component) with component = min id reachable.

    Deterministic: labels are min-ids, independent of partitioning.
    Self-loop-only nodes have no component (they are not in the graph).
    """
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    cur = _sym(edges).localCheckpoint(eager=True)
    for _ in range(MAX_ROUNDS):
        # large-star: neighbors larger than u attach to min(N[u])
        large = cur.filter(F.col("v") > F.col("u")).join(_min_nbr(cur), "u")
        ls = _sym(large.select(F.col("v").alias("u"), F.col("m").alias("v")))
        # small-star: u and its not-larger neighbors attach to min(N[u])
        mn = _min_nbr(ls)
        small = ls.filter(F.col("v") <= F.col("u")).join(mn, "u").select(F.col("v").alias("u"), "m")
        new = _sym(small.union(mn).withColumnRenamed("m", "v")).localCheckpoint(eager=False)
        # both generations are distinct edge sets: an edge seen once is
        # in only one of them
        changed = new.union(cur).groupBy("u", "v").count().filter("count = 1").count()
        cur = new
        if changed == 0:
            # fixpoint edges are stars (u, root) over every node: the
            # label is the minimum of the closed neighborhood
            return _min_nbr(cur).select(F.col("u").alias("id"), F.col("m").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ROUNDS} star rounds; "
        "raise MAX_ROUNDS (pathological graph for the round budget)"
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse near-dup pairs into clusters; return df with a
    `cluster_id` (min reachable id; singletons keep their own id) and
    `is_canonical` (the cluster survivor)."""
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    out = df.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce("component", F.col(id_col))
    )
    return out.drop("component").withColumn(
        "is_canonical", F.col(id_col) == F.col("cluster_id")
    )
