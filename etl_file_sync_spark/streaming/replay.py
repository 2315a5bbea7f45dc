"""Replay the events table as a Structured Streaming source.

One scope serves every caller: ``with replay(spark, sf_dir, tail) as
events:`` stages the table as ONE parquet file (plus the tail's extra
micro-batches) in a private directory, ``events()`` returns an admitted
streaming frame over it, and the directory is removed when the scope
exits — nothing staged outlives the query. The ts vintage (int64 nanos
or TIMESTAMP) is decided in one place, catalog.micros_ts. In production
the source is Kafka: swap readStream.format, keep every operator
downstream.
"""

from __future__ import annotations

import os
import tempfile
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.catalog import micros_ts, read_events

# Event-time ADMISSION WINDOW for stateful streaming. The watermark is a
# global monotone high-water mark: ONE event with a far-future timestamp
# (clock skew, a corrupt field, a 2262 default) advances it past every
# real window and the engine then silently drops the entire remaining
# stream as "late" — strictly worse than the row being wrong on its own.
# Pre-epoch/zeroed timestamps are the mirror hazard (they pin state that
# can never be evicted). Production streaming jobs therefore bound
# admissible event time at ingest (the don't-poison-the-watermark
# posture, same family as catalog._sanitize_doubles); rows outside the
# window belong in a DLQ, not in the watermark domain. The time-edge
# poked tier (tests/test_tier_truths.py) pins this: without the window,
# five watermarked queries lost 2-15 rows each to a single poked 2262
# event. Replay-harness flush sentinels are exempt — advancing the
# watermark is their job. Sentinels are identified by ONE reserved id
# (Long.MIN_VALUE), never by sign: "user_id < 0 means synthetic" is a
# data assumption, not a contract — hash-derived int64 user ids are
# negative half the time, and the extreme-id tier showed the sign
# convention silently dropping real users from outer-join results.
ADMIT_MIN_TS = "1990-01-01 00:00:00"
ADMIT_MAX_TS = "2035-01-01 00:00:00"
SENTINEL_UID = -(2**63)  # reserved: replay-harness sentinel user id

# The tails: "none" replays the real events as one micro-batch; "flush"
# adds a far-future sentinel batch; "late" adds a late batch after that.
TAILS = ("none", "flush", "late")
FLUSH_HOURS = 10  # sentinel event time: max(ts) + FLUSH_HOURS
LATE_EVERY_N = 7  # the late batch re-delivers every N-th event ...
LATE_DAYS = 10  # ... with its event time shifted this far into the past


def _admit(df: DataFrame) -> DataFrame:
    """Apply the event-time admission window (NULL ts fails it too)."""
    return df.where(
        (
            (F.col("ts") >= F.lit(ADMIT_MIN_TS).cast("timestamp"))
            & (F.col("ts") < F.lit(ADMIT_MAX_TS).cast("timestamp"))
        )
        | (F.col("user_id") == SENTINEL_UID)
    )


def _stage(sf_dir: str, stage: str, tail: str) -> str:
    """Stage the events table as ONE parquet file, then the tail's files;
    return the events file's path.

    Reads use ``maxFilesPerTrigger=1``, so the staged events are exactly
    micro-batch #1 and each tail file one batch after it. A tier may ship
    ``events.parquet`` as a directory of part files (the layout a cluster
    writer produces); it is coalesced to one file (driver-side rewrite,
    replay-harness scope), since each part as its own micro-batch would
    let the advancing watermark wrongly late-drop rows of later parts. A
    single-file table is symlinked.

    FileStreamSource orders files by MODIFICATION time, not name, so the
    write order IS the replay order: events → flush → late. The sentinel
    rows (user_id = SENTINEL_UID, one 'purchase' + one 'view', ts =
    max(ts) + FLUSH_HOURS) advance every downstream watermark past all
    real event-time state, so outer-join null emissions and
    watermark-scoped dedup state FLUSH deterministically inside one
    processAllAvailable — the replay-side stand-in for a production
    stream's continuing flow; callers filter ``user_id != SENTINEL_UID``.
    The late batch re-delivers every LATE_EVERY_N-th event LATE_DAYS in
    the past (re-keyed to negative event_ids), far below the watermark: a
    correct watermarking operator MUST drop every one of them. It comes
    two batches after the real events because Spark ≥3.5 filters late
    INPUT with the watermark as of one batch earlier
    (eventTimeWatermarkForLateEvents lags eventTimeWatermarkForEviction —
    visible in the StateStoreSave physical node).

    Tail rows are built in pandas on the DRIVER — correct only for the
    test-scale replay files this module exists for.
    """
    src = os.path.join(sf_dir, "events.parquet")
    events_file = os.path.join(stage, "00_events.parquet")
    if os.path.isdir(src):
        pq.write_table(pq.read_table(src), events_file)
        # push the coalesced file firmly BEFORE the tail files written
        # next (a symlink reports its old target's mtime for free)
        past = time.time() - 10
        os.utime(events_file, (past, past))
    else:
        os.symlink(src, events_file)
    if tail == "none":
        return events_file
    # Pin the tail files to the events file's arrow schema: pandas
    # re-infers column types on write, and an all-NULL string column
    # (degenerate extract) would otherwise come back as a null/INT32
    # parquet column the typed stream reader rejects. pandas reads both
    # ts vintages as datetimes, so the tail needs no vintage branch.
    schema = pq.read_schema(events_file)
    pdf = pd.read_parquet(events_file, columns=None if tail == "late" else ["ts"])
    flush_ts = pdf["ts"].max() + pd.Timedelta(hours=FLUSH_HOURS)
    sentinel = pd.DataFrame(
        {
            "event_id": pd.Series([-1, -2], dtype="int64"),
            "ts": pd.Series([flush_ts] * 2, dtype=pdf["ts"].dtype),
            "user_id": pd.Series([SENTINEL_UID] * 2, dtype="int64"),
            "event_type": ["purchase", "view"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    )
    sentinel[schema.names].to_parquet(os.path.join(stage, "01_flush.parquet"), schema=schema)
    if tail == "late":
        late = pdf[pdf["event_id"] % LATE_EVERY_N == 0].copy()
        late["ts"] = late["ts"] - pd.Timedelta(days=LATE_DAYS)
        late["event_id"] = -late["event_id"] - 1_000_000  # re-delivery, not dupes
        time.sleep(0.02)  # distinct mtimes on coarse-granularity filesystems
        late[schema.names].to_parquet(os.path.join(stage, "02_late.parquet"), schema=schema)
    return events_file


@contextmanager
def replay(
    spark: SparkSession, sf_dir: str, tail: str = "none"
) -> Iterator[Callable[[], DataFrame]]:
    """Scope over a staged replay of {sf_dir}/events.parquet; yields
    ``events()``, which returns an admitted streaming frame with a
    microsecond event-time ``ts``. ``tail`` is one of TAILS (see _stage).
    Each ``events()`` call is its own source over the shared stage.
    Drive every stream to completion inside the scope: the stage is
    removed when it exits."""
    if tail not in TAILS:
        raise ValueError(f"unknown replay tail {tail!r}; known: {TAILS}")
    with tempfile.TemporaryDirectory(prefix="events_replay_") as stage:
        schema = read_events(spark, _stage(sf_dir, stage, tail)).schema

        def events() -> DataFrame:
            reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            return _admit(micros_ts(reader.parquet(stage)))

        yield events


def run_to_memory_sink(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and return
    the materialized batch result (checkpoint-free local replay). The
    sink's view is dropped once its rows are checkpointed, so the driver
    does not keep them twice."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = df.sparkSession
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out
