"""Restart-idempotent foreachBatch UPSERT state (parquet MERGE stand-in).

The production pattern for foreachBatch exactly-once (Spark structured
streaming docs; Delta/Iceberg MERGE idempotency via txnAppId/txnVersion):
each micro-batch's merged state is written to a directory KEYED BY
BATCH ID, so when the engine re-delivers the last uncommitted batch
after a crash, the replay OVERWRITES its own output instead of
compounding onto it. Recovery never trusts memory: the prior state is
the newest COMMITTED state directory strictly below the replaying batch
id, where "committed" means the ``_SUCCESS`` marker Spark writes last —
an interrupted (torn) write leaves no marker and is invisible.

Re-expressed over plain parquet because the build ships no
Delta/Iceberg jars; with the jars present, ``upsert`` becomes a single
``MERGE INTO`` and everything else stands.

Used by queries/streaming_face.py::stream_upsert_materialize and the
crash-recovery chaos test in tests/test_streaming.py.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def latest_per_user(df: DataFrame) -> DataFrame:
    """One row per user: the (ts, event_id)-max event — the merge kernel.
    Cost is state + batch, never history, because state is already
    1 row/user and the window runs per user-partition."""
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def committed_states(root: str) -> list[int]:
    """Batch ids with a COMMITTED state directory under ``root`` (ascending).
    A directory without Spark's ``_SUCCESS`` marker is a torn write from a
    crash mid-rewrite and must be invisible to recovery."""
    out = []
    for f in os.listdir(root):
        m = re.fullmatch(r"state_(\d+)", f)
        if m and os.path.exists(os.path.join(root, f, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def state_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"state_{batch_id}")


def make_upsert(root: str):
    """foreachBatch body: merge the batch into the newest committed state
    STRICTLY BELOW this batch id and overwrite state_{batch_id}.

    Strictly-below is the idempotency: a re-delivered batch (crash after
    its write, before the checkpoint commit) recomputes from its
    predecessor and overwrites its own directory — byte-for-byte the same
    state as the first attempt, never a double-merge.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        prior = [k for k in committed_states(root) if k < batch_id]
        b = latest_per_user(batch_df)
        if prior:
            cur = batch_df.sparkSession.read.parquet(state_dir(root, prior[-1]))
            b = latest_per_user(cur.unionByName(b))
        b.write.mode("overwrite").parquet(state_dir(root, batch_id))

    return upsert


def final_state(spark: SparkSession, root: str) -> DataFrame:
    """The newest committed state — the serving table."""
    ks = committed_states(root)
    return spark.read.parquet(state_dir(root, ks[-1]))
