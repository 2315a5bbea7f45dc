"""Derived input frames that two or more statistics faces read.

Each frame is spelled once here and every query that needs it calls
the builder, so a change to a frame's grain, NULL handling or cents
convention lands in every consumer at once. Builders return uncached
frames: a caller that reads a frame twice caches it at its own call
site. A frame only one module reads stays a private helper there.

The reference has no analytics surface; these support the engine-only
statistics faces, whose DuckDB oracles restate each frame in SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.queries.registry import t


def to_cents(col: str) -> Column:
    """A money column as exact integer cents."""
    return F.round(F.col(col) * 100).cast("bigint")


def revenue_cents() -> Column:
    """Exact integer-cents sum of ``o_totalprice`` (an aggregate)."""
    return F.sum(to_cents("o_totalprice")).cast("bigint")


def order_month(alias: str) -> Column:
    """First day of the order's month."""
    return F.trunc(F.col("o_orderdate").cast("date"), "month").alias(alias)


def daily_cents(spark: SparkSession, sf_dir: str, out_col: str, *extra: Column) -> DataFrame:
    """Per-day order revenue: ``day`` and ``out_col`` cents, plus any
    ``extra`` aggregates. A day whose prices are all NULL keeps a NULL
    revenue; series that drop such days filter it themselves."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(revenue_cents().alias(out_col), *extra)
    )


def monthly_cents(spark: SparkSession, sf_dir: str, out_col: str) -> DataFrame:
    """Per-month order revenue: ``month`` and ``out_col`` cents."""
    return t(spark, sf_dir, "orders").groupBy(order_month("month")).agg(
        revenue_cents().alias(out_col)
    )


def variant_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed ``o_totalprice`` values as ``v``, split into the
    even/odd-custkey ``variant`` A/B."""
    return t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()  # observed values only
    ).select(
        F.when(F.col("o_custkey") % 2 == 0, "A").otherwise("B").alias("variant"),
        F.col("o_totalprice").alias("v"),
    )


def value_counts(s: DataFrame, a: str, b: str) -> DataFrame:
    """Per distinct ``v`` of a ``(variant, v)`` frame: ``ca``/``cb``,
    the number of rows of variant ``a``/``b`` holding it."""
    return s.groupBy("v").agg(
        F.sum(F.when(F.col("variant") == a, 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("variant") == b, 1).otherwise(0)).cast("bigint").alias("cb"),
    )


def orders_with_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to their customer and the customer's nation."""
    return (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )


def orders_with_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to their customer, nation and region."""
    return orders_with_nation(spark, sf_dir).join(
        F.broadcast(t(spark, sf_dir, "region")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )


def purchased_over(threshold: int) -> Column:
    """Per-user aggregate: 1 when the user made a purchase worth more
    than ``threshold``, else 0."""
    hit = (F.col("event_type") == "purchase") & (F.col("value") > threshold)
    return F.max(F.when(hit, 1).otherwise(0)).cast("bigint")


def user_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user: ``grp`` (user_id parity) and ``conv``, whether
    the user made a purchase above 200."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(purchased_over(200).alias("conv"))
        .select((F.col("user_id") % 2).cast("bigint").alias("grp"), "conv")
    )


def conversion_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2x2 conversion cells of the even/odd-user split: users
    ``n_a``/``n_b`` and converters ``c_a``/``c_b`` as exact BIGINTs."""
    return user_conversions(spark, sf_dir).agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )


def user_pre_post_cents(spark: SparkSession, sf_dir: str, pre_col: str, post_col: str) -> DataFrame:
    """One row per ``user_id``: event value cents before the 16th of the
    month as ``pre_col``, from the 16th on as ``post_col`` (0 when none)."""
    c = to_cents("value")
    pre = F.dayofmonth("ts") < 16
    return t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, c).otherwise(0)), F.lit(0)).cast("bigint").alias(pre_col),
        F.coalesce(F.sum(F.when(~pre, c).otherwise(0)), F.lit(0)).cast("bigint").alias(post_col),
    )


def user_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per ``user_id``: lifetime ``dur_s``, whole seconds from
    the first to the last event, and ``obs``, whether the user ever hit
    an 'error' event (a death observed, else right-censored)."""
    return t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) div 1000000").alias("dur_s"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("bigint").alias("obs"),
    )


def int8_codes(scale: Column) -> Column:
    """Symmetric int8 codes of the vector column ``v`` whose largest
    absolute coordinate is the column ``amax``: each coordinate over
    ``scale`` (amax / 127), rounded half up and clamped to [-127, 127];
    all zeros when amax is 0."""
    return F.when(
        F.col("amax") == 0, F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.greatest(
                F.lit(-127).cast("bigint"),
                F.least(F.lit(127).cast("bigint"), F.floor(x / scale + F.lit(0.5))),
            ),
        )
    )
