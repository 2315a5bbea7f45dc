"""Plan-shape helpers for tests that assert plan QUALITY, not just
result correctness: filters pushed to the scan, dimensions broadcast, no
shuffle where none is needed. They read the explain text through the
private ``DataFrame._jdf`` handle, which the engine itself never touches
(tests/test_private_api.py)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The final (AQE-initial) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans ('' entries dropped).

    Explain output truncates long lists with '...', so entries are read
    up to the closing bracket OR the line end.
    """
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]\n]*)", full_plan(df)):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning check)."""
    cols = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)", full_plan(df)):
        cols.append({c.split(":")[0].strip() for c in m.group(1).split(",") if ":" in c})
    return cols


def join_strategies(df: DataFrame) -> dict[str, int]:
    plan = physical_plan(df)
    return {
        "broadcast_hash": plan.count("BroadcastHashJoin"),
        "sort_merge": plan.count("SortMergeJoin"),
        "shuffled_hash": plan.count("ShuffledHashJoin"),
        "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
    }


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan))
