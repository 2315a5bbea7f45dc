"""Key-skew diagnostics for joins and aggregations at 100 TB scale.

The engine's skew handling is AQE's runtime skew-join split
(spark.sql.adaptive.skewJoin.enabled, on in session.get_spark), and
Spark's partial aggregation already combines hot keys map-side for
algebraic aggregates. What remains is knowing WHICH keys are hot:
key_skew_report ranks a prospective key's heaviest values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_report(
    df: DataFrame, key_col: str, top: int = 20, skew_factor: float = 10.0
) -> DataFrame:
    """Per-key skew diagnostic for a prospective join/groupBy key: the
    `top` heaviest keys with their row counts, share of total (×1e6,
    integer-exact), and a flag when the key exceeds `skew_factor`× the
    mean key load — the keys an AQE skew split must absorb.

    One partial-agg groupBy + a global top-k (TakeOrderedAndProject);
    totals ride along as a broadcast scalar, so the report costs one
    shuffle regardless of input size.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            F.expr("cnt * 1000000L div _total").alias("share_ppm"),
            (F.col("cnt") * F.col("_nkeys") > F.lit(skew_factor) * F.col("_total")).alias(
                "is_skewed"
            ),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(top)
    )
