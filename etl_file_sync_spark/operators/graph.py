"""Graph operators beyond connected components: PageRank.

Iterative dataflow on Spark: each round is one join of the edge list
with the current ranks, then rank/degree contributions summed per
destination — one groupBy on the node id per iteration. The symmetric
edge list, with each source's degree as a column, is checkpointed once;
the ranks are checkpointed every few rounds (the cluster.py pattern) —
without it the plan doubles per iteration and the driver, not the data,
becomes the bottleneck.

The iteration count is fixed by the caller, so the output is
reproducible against an unrolled oracle; dangling mass and
per-component normalization follow the standard formulation below.
Float contribution sums are partition-order dependent in the last ulps
— callers needing bit-stable output across runs round the ranks (the
registry queries do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DAMPING = 0.85
CHECKPOINT_EVERY = 5  # iterations between rank checkpoints


def pagerank(edges: DataFrame, iters: int = 15) -> DataFrame:
    """PageRank over an undirected edge list (id_a, id_b). Returns
    (node, rank) with Σrank = 1 (dangling nodes cannot exist in an
    undirected edge list — every listed node has degree ≥ 1, and is
    some edge's destination). Duplicate edges and self-loops count as
    parallel edges.
    """
    e = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = e.withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
    e = e.localCheckpoint(eager=False)
    n_nodes = e.agg(F.count_distinct("src")).first()[0]  # materializes e
    nodes = e.select(F.col("src").alias("node")).distinct()
    if n_nodes == 0:  # empty graph: no ranks, stable schema
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    for i in range(iters):
        ranks = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING) * F.sum(F.col("rank") / F.col("deg"))
                ).alias("rank")
            )
        )
        if (i + 1) % CHECKPOINT_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (id_a, id_b) — the clustering-coefficient / community-density
    primitive alongside pagerank and connected components.

    Algorithm (the standard distributed formulation): orient every edge
    low→high (kills duplicate wedges), self-join oriented edges on the
    middle vertex to enumerate wedges a<b<c, then LEFT SEMI join the
    wedge's closing edge (a, c). Each triangle is found exactly once;
    a final explode over its 3 members + partial-agg groupBy yields the
    per-node counts. Shuffle shape: two equi-joins on vertex keys + one
    combiner-friendly aggregation — no windows, no cartesian. At
    100 TB the first join keys on the wedge middle, so degree skew is
    the known hot spot; the production mitigation (not needed at this
    scale) is the high-degree-vertex split, same as salted joins.
    """
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("lo"), F.greatest("id_a", "id_b").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b").select("a", "b", "c")
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    triangles = wedges.join(ac, ["a", "c"], "left_semi")
    members = triangles.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return members.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
