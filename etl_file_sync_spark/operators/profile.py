"""Data profiling + constraint validation — the ingest-gate operators a
100 TB pipeline runs before anything else touches the data.

profile_table: one aggregation pass over the whole table producing one
row per named column (null count, exact distinct, min/max as strings).
The single wide agg keeps it one job regardless of column count.

check_constraints: dbt-style declarative checks (not_null / unique /
foreign_key / accepted_values) evaluated as counts of VIOLATIONS, so an
empty-violations result is the green gate.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str]) -> DataFrame:
    """One row per column of ``columns``: (column, n_rows, n_nulls,
    n_distinct, min_val, max_val) — min/max cast to string for a uniform
    schema."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(columns):
        col = F.col(c)
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_c{i}_nulls"))
        aggs.append(F.countDistinct(col).alias(f"_c{i}_nd"))
        aggs.append(F.min(col).cast("string").alias(f"_c{i}_min"))
        aggs.append(F.max(col).cast("string").alias(f"_c{i}_max"))
    wide = df.agg(*aggs)
    # stack over positional aliases: arbitrary source column names (spaces,
    # quotes, keywords) never reach the SQL string — only the label literal
    stack_args = ", ".join(
        f"'{c.replace(chr(39), chr(39) * 2)}', _c{i}_nulls, _c{i}_nd, _c{i}_min, _c{i}_max"
        for i, c in enumerate(columns)
    )
    return wide.selectExpr(
        "_n AS n_rows",
        f"stack({len(columns)}, {stack_args}) AS (column, n_nulls, n_distinct, min_val, max_val)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


@dataclass(frozen=True)
class Constraint:
    name: str
    kind: str  # not_null | unique | foreign_key | accepted_values
    column: str
    ref: DataFrame | None = None
    ref_column: str | None = None
    values: tuple = field(default=())


def check_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate every constraint; returns (check_name, kind, n_violations).

    Each check is its own small aggregate; Spark runs them as independent
    jobs over the (cacheable) input. Violations, not passes, are counted —
    the sum being 0 is the gate condition.
    """
    if not constraints:
        spark = df.sparkSession
        return spark.createDataFrame([], "check_name string, kind string, n_violations long")
    pieces = []
    for c in constraints:
        if c.kind == "not_null":
            viol = df.filter(F.col(c.column).isNull()).agg(F.count(F.lit(1)).alias("n"))
        elif c.kind == "unique":
            viol = (
                df.groupBy(c.column)
                .agg(F.count(F.lit(1)).alias("_c"))
                .filter(F.col("_c") > 1)
                .agg(F.coalesce(F.sum(F.col("_c") - 1), F.lit(0)).alias("n"))
            )
        elif c.kind == "foreign_key":
            assert c.ref is not None and c.ref_column is not None
            # dbt convention: NULL FK values belong to not_null, not to the
            # relationship check (also matches SQL NOT IN semantics)
            viol = (
                df.filter(F.col(c.column).isNotNull())
                .join(
                    c.ref.select(F.col(c.ref_column).alias(c.column)).distinct(),
                    c.column,
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("n"))
            )
        elif c.kind == "accepted_values":
            viol = df.filter(
                ~F.col(c.column).isin(*c.values) | F.col(c.column).isNull()
            ).agg(F.count(F.lit(1)).alias("n"))
        else:
            raise ValueError(f"unknown constraint kind {c.kind!r}")
        pieces.append(
            viol.select(
                F.lit(c.name).alias("check_name"), F.lit(c.kind).alias("kind"), F.col("n").alias("n_violations")
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def robust_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD outlier flags per group — the robust z-score screen
    (|x - median| > k * MAD) used to quarantine length/score anomalies
    before they skew a mixture. percentile_disc-style medians (exact
    data values via two-element interpolation-free selection) keep the
    arithmetic integer-exact and oracle-comparable.

    Two grouped aggregations (median, then MAD over |x - median|), both
    partial-aggregated on the group key; the flags join is co-partitioned
    on the same key. No window over raw rows.
    """
    med = df.groupBy(key_col).agg(
        F.expr(f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {value_col})").alias("med")
    )
    dev = (
        df.join(med, key_col)
        .withColumn("_adev", F.abs(F.col(value_col) - F.col("med")))
    )
    mad = dev.groupBy(key_col).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _adev)").alias("mad")
    )
    return (
        dev.join(mad, key_col)
        .withColumn("is_outlier", F.col("_adev") > F.lit(k) * F.col("mad"))
        .drop("_adev")
    )
