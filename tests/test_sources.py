"""The ``events_replay`` streaming Python Data Source
(sources/replay_stream_source.py): offset-tracked micro-batches and the
recovery slice."""

from __future__ import annotations


def test_events_replay_source_serves_three_offset_tracked_batches(spark, sf_dir):
    """The SimpleDataSourceStreamReader protocol must slice the file into
    `batches` micro-batches with advancing offsets, and the union of the
    slices must be exactly the file (no drops, no dupes)."""
    from pyspark.sql import functions as F

    from etl_file_sync_spark.sources.replay_stream_source import EventsReplayDataSource

    spark.dataSource.register(EventsReplayDataSource)
    s = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", 3)
        .load()
    )
    q = (
        s.writeStream.outputMode("append").format("memory")
        .queryName("replay_rows").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3, f"expected 3 data micro-batches, got {batches}"
    got = spark.table("replay_rows")
    truth = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert got.count() == truth.count()
    assert got.select("event_id").distinct().count() == truth.count()


def test_events_replay_reader_recovery_slice_matches_read(sf_dir):
    """readBetweenOffsets (the restart/recovery path) must reproduce the
    same rows the original read() served for that offset range."""
    from etl_file_sync_spark.sources.replay_stream_source import EventsReplayStreamReader

    r = EventsReplayStreamReader({"path": f"{sf_dir}/events.parquet", "batches": 4})
    it0, off1 = r.read(r.initialOffset())
    first = list(it0)
    replay = list(r.readBetweenOffsets(r.initialOffset(), off1))
    assert first == replay and len(first) > 0
    it1, off2 = r.read(off1)
    assert off2 == {"batch": 2} and len(list(it1)) > 0
