"""Replay the events table as a Structured Streaming source.

FileStreamSource needs a directory, and events.parquet has shipped with
either microsecond or nanosecond timestamps (see catalog._load_events) —
this module owns both quirks so streaming queries and tests share one
code path. In production the source is Kafka: swap readStream.format,
keep every operator downstream.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)

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


def _admit(df: DataFrame) -> DataFrame:
    """Apply the event-time admission window (NULL ts fails it too)."""
    return df.where(
        (
            (F.col("ts") >= F.lit(ADMIT_MIN_TS).cast("timestamp"))
            & (F.col("ts") < F.lit(ADMIT_MAX_TS).cast("timestamp"))
        )
        | (F.col("user_id") == SENTINEL_UID)
    )


def _stage_many(sf_dir: str, stage: str, prefix: str = "events") -> None:
    """Symlink the events table into ``stage`` as plain parquet FILES.

    A tier may ship ``events.parquet`` as a single file OR as a directory
    of part files (the layout a cluster writer produces); FileStreamSource
    lists only plain files and silently skips subdirectories, so a
    directory-shaped table symlinked whole replays ZERO rows. Staging
    file-by-file keeps both layouts equivalent — with no
    ``maxFilesPerTrigger`` every staged file lands in the same first
    micro-batch, so batch composition (and therefore every watermark)
    is identical across layouts.
    """
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(src, f), os.path.join(stage, f"{prefix}_{i:03d}.parquet"))
    else:
        os.symlink(src, os.path.join(stage, f"{prefix}.parquet"))


def _stage_single(sf_dir: str, stage: str, name: str) -> None:
    """Stage the events table as exactly ONE parquet file.

    The flush/late-replay harnesses rely on ``maxFilesPerTrigger=1`` to
    make "all real events" micro-batch #1 — a directory-shaped table must
    therefore be coalesced to one file (driver-side rewrite; replay-
    harness scope, same posture as the pandas staging passes below), or
    each part would become its own micro-batch and the advancing
    watermark would wrongly late-drop rows of later parts.
    """
    src = os.path.join(sf_dir, "events.parquet")
    dst = os.path.join(stage, name)
    if os.path.isdir(src):
        import time

        import pyarrow.parquet as pq

        pq.write_table(pq.read_table(src), dst)
        # FileStreamSource orders batches by mtime; push the coalesced
        # file firmly BEFORE the sentinel/late files written next (the
        # symlink branch gets this for free from the old target mtime)
        past = time.time() - 10
        os.utime(dst, (past, past))
    else:
        os.symlink(src, dst)


def events_stream(spark: SparkSession, sf_dir: str, stage_dir: str | None = None) -> DataFrame:
    """Streaming DataFrame over {sf_dir}/events.parquet with a proper
    microsecond event-time `ts` column."""
    stage = stage_dir or tempfile.mkdtemp(prefix="events_stream_")
    os.makedirs(stage, exist_ok=True)
    if not any(f.endswith(".parquet") for f in os.listdir(stage)):
        _stage_many(sf_dir, stage)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql.types import LongType

    # Sniff the footer once (batch read) to learn which vintage of the
    # testdata this is: int64 nanos (legacy) or a real timestamp column.
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    if isinstance(batch_schema["ts"].dataType, LongType):
        return _admit(
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .parquet(stage)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    # TIMESTAMP_NTZ → TIMESTAMP: watermarks require the latter; with a
    # UTC session TZ the cast is instant-preserving (see catalog.py).
    return _admit(
        spark.readStream.schema(batch_schema)
        .parquet(stage)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def run_to_memory_sink(df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and return
    the materialized batch result (checkpoint-free local replay)."""
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = df.sparkSession
    return spark.table(name).localCheckpoint(eager=True)


def events_stream_with_flush(
    spark: SparkSession, sf_dir: str, flush_hours: int = 10
) -> DataFrame:
    """Streaming events with a far-future sentinel batch staged AFTER the
    real data (maxFilesPerTrigger=1 ⇒ two micro-batches). The sentinel
    rows (user_id = SENTINEL_UID, one 'purchase' + one 'view', ts =
    max(ts) + `flush_hours`) advance every downstream watermark past all
    real event-time state, so outer-join null emissions and
    watermark-scoped dedup state FLUSH deterministically inside one
    processAllAvailable — the replay-side stand-in for a production
    stream's continuing flow. Callers filter
    `user_id != SENTINEL_UID` from results.
    """
    import pandas as pd

    from pyspark.sql.types import LongType

    stage = tempfile.mkdtemp(prefix="events_flush_")
    _stage_single(sf_dir, stage, "00_events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_nanos = isinstance(batch.schema["ts"].dataType, LongType)
    hi = batch.agg(F.max("ts")).collect()[0][0]  # scalar pull, not a hot-path collect
    sent = pd.DataFrame(
        {
            "event_id": pd.Series([-1, -2], dtype="int64"),
            "ts": None,  # filled below per vintage
            "user_id": pd.Series([SENTINEL_UID, SENTINEL_UID], dtype="int64"),
            "event_type": ["purchase", "view"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    )
    if is_nanos:
        sent["ts"] = pd.Series([int(hi) + flush_hours * 3_600_000_000_000] * 2, dtype="int64")
    else:
        sent["ts"] = pd.Series([hi + pd.Timedelta(hours=flush_hours)] * 2).astype("datetime64[us]")
    sent = sent[[f.name for f in batch.schema.fields]]
    sent.to_parquet(os.path.join(stage, "01_flush.parquet"))
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    if is_nanos:
        return _admit(
            reader.schema(EVENTS_RAW_SCHEMA)
            .parquet(stage)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return _admit(
        reader.schema(batch.schema).parquet(stage).withColumn("ts", F.col("ts").cast("timestamp"))
    )


def events_stream_with_late_replay(
    spark: SparkSession,
    sf_dir: str,
    every_n: int = 7,
    late_days: int = 10,
    flush_hours: int = 10,
) -> DataFrame:
    """Streaming events staged as THREE micro-batches (maxFilesPerTrigger=1):

    1. the real events,
    2. the far-future flush sentinel (user_id = SENTINEL_UID) — after this batch
       the watermark is past every real window, so append-mode results
       emit, AND the batch gap matters: Spark ≥3.5 filters late INPUT
       with the watermark as of one batch earlier
       (eventTimeWatermarkForLateEvents lags eventTimeWatermarkForEviction
       — visible in the StateStoreSave physical node), so a late batch
       must arrive ≥2 batches after the data that advanced the watermark,
    3. a LATE batch — every `every_n`-th event re-delivered with its
       event time shifted `late_days` into the past (re-keyed to negative
       event_ids), far below the now-effective late-events watermark: a
       correct watermarking operator MUST drop every one of them.

    The late rows are the oracle's proof obligation: if the engine
    wrongly aggregates them, every touched window's count shifts and the
    value hash mismatches. Callers filter `user_id != SENTINEL_UID`.

    Replay-harness scope: the pandas staging pass below reads the replay
    parquet on the DRIVER — correct only for the test-scale replay files
    this module exists for. A production deployment replaces this module
    with the Kafka source; nothing downstream changes.
    """
    import time

    import pandas as pd

    from pyspark.sql.types import LongType

    stage = tempfile.mkdtemp(prefix="events_late_")
    _stage_single(sf_dir, stage, "00_events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_nanos = isinstance(batch.schema["ts"].dataType, LongType)
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet")
    late = pdf[pdf["event_id"] % every_n == 0].copy()
    if is_nanos:
        late["ts"] = late["ts"].astype("int64") - late_days * 86_400_000_000_000
        hi = int(pdf["ts"].astype("int64").max())
        flush_ts = hi + flush_hours * 3_600_000_000_000
    else:
        late["ts"] = (late["ts"] - pd.Timedelta(days=late_days)).astype("datetime64[us]")
        flush_ts = (pdf["ts"].max() + pd.Timedelta(hours=flush_hours))
    late["event_id"] = -late["event_id"] - 1_000_000  # distinct ids: re-delivery, not dupes
    sent = pd.DataFrame(
        {
            "event_id": pd.Series([-1], dtype="int64"),
            "ts": [flush_ts],
            "user_id": pd.Series([SENTINEL_UID], dtype="int64"),
            "event_type": ["purchase"],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    if not is_nanos:
        sent["ts"] = sent["ts"].astype("datetime64[us]")
    sent = sent[[f.name for f in batch.schema.fields]]
    late = late[[f.name for f in batch.schema.fields]]
    # Pin the staged files to the SOURCE file's arrow schema: pandas
    # re-infers column types on write, and an all-NULL string column
    # (degenerate extract) would otherwise come back as a null/INT32
    # parquet column the typed stream reader rejects.
    import pyarrow.parquet as pq

    # read from the STAGED single file (the source may be a directory)
    src_schema = pq.read_schema(os.path.join(stage, "00_events.parquet"))
    # FileStreamSource orders batches by file MODIFICATION time, so the
    # write order below IS the replay order: events → flush → late.
    sent.to_parquet(os.path.join(stage, "01_flush.parquet"), schema=src_schema)
    time.sleep(0.02)  # distinct mtimes on coarse-granularity filesystems
    late.to_parquet(os.path.join(stage, "02_late.parquet"), schema=src_schema)
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    if is_nanos:
        return _admit(
            reader.schema(EVENTS_RAW_SCHEMA)
            .parquet(stage)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return _admit(
        reader.schema(batch.schema).parquet(stage).withColumn("ts", F.col("ts").cast("timestamp"))
    )
