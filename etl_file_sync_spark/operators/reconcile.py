"""Snapshot reconciliation: keyed diff between two table versions.

The change-data audit a pipeline runs after every sync/merge wave —
"what did this batch add, remove, and mutate?" — and the verification
pass for a migration (old engine output vs new engine output). The
reference has no analytics surface (SURVEY.md §2.2); this is part of
the engine-only extension set alongside MERGE/SCD2 (operators/merge.py).

Scale shape (100 TB): one narrow projection per side (key + row digest —
the digest collapses arbitrarily wide compare-columns to 32 bytes, so
the shuffle carries keys + hashes, never the payload), then ONE
sort-merge full outer join on the key. Status derivation is a null/hash
comparison — whole-stage codegen, no UDFs. At cluster scale both sides
would be bucketed by the key so the join is shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Field separator / null sentinel for the row digest: unit-separator and
# NUL cannot appear in the data columns' string forms, so the digest is
# injective over the compared tuple.
_SEP = "\x1f"
_NULL = "\x00"


def row_digest(cols: Sequence[str]):
    """sha256 over the canonical string form of the compared columns."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    return F.sha2(F.concat_ws(_SEP, *parts), 256)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Keyed diff: returns (key columns..., status) with status one of
    'added' (key only in new), 'removed' (key only in old), 'changed'
    (key in both, digest differs), 'unchanged'.

    Keys must be unique per side (enforce upstream with
    dedup_latest_per_key); duplicate keys would cross-multiply in the
    join, which is the correct relational semantics but rarely the
    intended audit.
    """
    keys = list(key_cols)
    o = old.select(*keys, row_digest(compare_cols).alias("_h_old"))
    n = new.select(*keys, row_digest(compare_cols).alias("_h_new"))
    joined = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") != F.col("_h_new"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(*keys, status.alias("status"))

