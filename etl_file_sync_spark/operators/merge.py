"""MERGE INTO / CDC upsert emulation without a lakehouse format.

Delta/Iceberg jars aren't in this build, so the engine supplies the
plan-level equivalents:

- merge_upsert: MERGE INTO target USING source ON key
  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
- scd2_apply: slowly-changing-dimension type 2 — close changed rows
  (valid_to = change ts) and append the new versions.

Both are one shuffle on the key (outer join / anti+union) — the same
physical work MERGE does inside a lakehouse, minus the transactional
commit, which belongs to the table format, not the query engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """Upsert: source rows win on key collision; unmatched target rows
    survive. Schemas must match."""
    if set(target.columns) != set(source.columns):
        raise ValueError(f"schema mismatch: {sorted(target.columns)} vs {sorted(source.columns)}")
    untouched = target.join(source.select(key), key, "left_anti")
    return untouched.unionByName(source)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    change_ts_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """SCD type-2: dim has (key, tracked..., valid_from, valid_to NULL for
    current). For each change row, close the current version and append
    the new one; keys NEW to the dimension are inserted as open rows.
    Multiple change rows per key in one batch collapse to the LATEST by
    change timestamp (intra-batch history is below the batch grain).
    `changes` columns: key, tracked..., change_ts_col."""
    from pyspark.sql import Window as W

    cur = dim.filter(F.col("valid_to").isNull())
    hist = dim.filter(F.col("valid_to").isNotNull())

    latest = W.partitionBy(key).orderBy(F.col(change_ts_col).desc())
    chg = (
        changes.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .select(key, *tracked_cols, F.col(change_ts_col).alias("_chg_ts"))
    )
    # rows whose tracked values actually changed
    joined = cur.alias("c").join(chg.alias("n"), key, "inner")
    changed = joined.filter(
        ~F.struct(*[F.col(f"c.{c}") for c in tracked_cols]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in tracked_cols])
        )
    )
    closed = changed.select(
        F.col(key),
        *[F.col(f"c.{c}").alias(c) for c in tracked_cols],
        F.col("c.valid_from").alias("valid_from"),
        F.col("_chg_ts").alias("valid_to"),
    )
    opened = changed.select(
        F.col(key),
        *[F.col(f"n.{c}").alias(c) for c in tracked_cols],
        F.col("_chg_ts").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
    )
    # change rows for keys the dimension has never seen: plain inserts
    inserted = chg.join(cur.select(key), key, "left_anti").select(
        F.col(key),
        *[F.col(c) for c in tracked_cols],
        F.col("_chg_ts").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
    )
    unchanged_cur = cur.join(changed.select(key), key, "left_anti")
    return (
        hist.unionByName(unchanged_cur)
        .unionByName(closed)
        .unionByName(opened)
        .unionByName(inserted)
    )
