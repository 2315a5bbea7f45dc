"""snapshot_diff: keyed audit between two table versions."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.reconcile import snapshot_diff


def diff_summary(diff: DataFrame) -> DataFrame:
    """(status, n) rollup of a snapshot_diff frame — the one-line audit
    record a sync job logs per wave."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, None, 40.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "unchanged", 5: "added"}
    summary = {r.status: r.n for r in diff_summary(snapshot_diff(old, new, ["k"], ["s", "v"])).collect()}
    assert summary == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_snapshot_diff_null_vs_empty_string_differ(spark):
    """The NUL sentinel must keep NULL distinct from '' in the digest."""
    old = spark.createDataFrame([(1, None)], "k int, s string")
    new = spark.createDataFrame([(1, "")], "k int, s string")
    [row] = snapshot_diff(old, new, ["k"], ["s"]).collect()
    assert row.status == "changed"
