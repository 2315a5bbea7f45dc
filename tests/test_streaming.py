"""Structured Streaming behaviors beyond the registry queries: streaming
dedup within watermark, session windows in streaming mode, and a custom
stateful operator via applyInPandasWithState."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from etl_file_sync_spark.catalog import load_table
from etl_file_sync_spark.streaming import replay, run_to_memory_sink


def _run_to_completion(df, qname, mode):
    q = df.writeStream.outputMode(mode).format("memory").queryName(qname).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_session_window(spark, sf_dir):
    with replay(spark, sf_dir) as events:
        agg = (
            events()
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        _run_to_completion(agg, "sess_sink", "complete")
    got = spark.sql("SELECT sum(n_events) AS total, count(*) AS n_sessions FROM sess_sink").collect()[0]
    n_total = load_table(spark, sf_dir, "events").count()
    assert got.total == n_total  # every event lands in exactly one session
    # must agree with the batch sessionizer on session count
    from etl_file_sync_spark.queries import REGISTRY

    batch_sessions = REGISTRY["sessionize_events"].build(spark, sf_dir).count()
    assert got.n_sessions == batch_sessions


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dup_src"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b", "b", "c"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:30", "2024-01-01 00:01:00",
                 "2024-01-01 00:01:10", "2024-01-01 00:02:00"]
            ),
        }
    )
    pdf.to_parquet(src / "part.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema("k string, ts timestamp").parquet(str(src))
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    _run_to_completion(deduped, "dedup_sink", "append")
    rows = spark.sql("SELECT k FROM dedup_sink").collect()
    assert sorted(r.k for r in rows) == ["a", "b", "c"]


def test_apply_in_pandas_with_state_running_count(spark, tmp_path):
    """Custom stateful operator: per-key running event count across
    micro-batches (the applyInPandasWithState surface the reference's
    'UDF registration' plugin point maps to for streaming state)."""
    src = tmp_path / "state_src"
    src.mkdir()
    pd.DataFrame({"k": ["x", "y", "x"]}).to_parquet(src / "b0.parquet")

    def count_fn(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"k": [key[0]], "n": [n]})

    stream = spark.readStream.schema("k string").parquet(str(src))
    counted = stream.groupBy("k").applyInPandasWithState(
        count_fn,
        outputStructType="k string, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = counted.writeStream.outputMode("update").format("memory").queryName("state_sink").start()
    try:
        q.processAllAvailable()
        pd.DataFrame({"k": ["x", "z"]}).to_parquet(src / "b1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r.k): r.n for r in spark.sql(
        "SELECT k, max(n) AS n FROM state_sink GROUP BY k").collect()}
    assert rows == {"x": 3, "y": 1, "z": 1}  # state carried across batches


def test_available_now_trigger(spark, sf_dir):
    """Trigger.AvailableNow: drain everything currently available in
    bounded batches, then stop on its own — the batch-over-stream runner
    used for backfills."""
    with replay(spark, sf_dir) as events:
        q = (
            events()
            .groupBy("event_type")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("avail_now_sink")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    total = spark.sql("SELECT sum(count) AS n FROM avail_now_sink").collect()[0].n
    assert total == load_table(spark, sf_dir, "events").count()


def test_streaming_cdc_into_dimension(spark, tmp_path):
    """Composition: a change stream merged into a parquet dimension via
    foreachBatch + merge_upsert — streaming CDC without a lakehouse."""
    from etl_file_sync_spark.operators.merge import merge_upsert

    dim_dir = str(tmp_path / "dim")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").write.parquet(dim_dir)
    src = tmp_path / "changes"
    src.mkdir()
    pd.DataFrame({"k": [2, 3], "v": ["B", "c"]}).to_parquet(src / "c0.parquet")

    def apply_cdc(batch_df, epoch_id):
        current = spark.read.parquet(dim_dir)
        merged = merge_upsert(current, batch_df, "k").localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(dim_dir)

    q = (
        spark.readStream.schema("k long, v string")
        .parquet(str(src))
        .writeStream.foreachBatch(apply_cdc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        pd.DataFrame({"k": [1], "v": ["A"]}).to_parquet(src / "c1.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    final = {(r.k, r.v) for r in spark.read.parquet(dim_dir).collect()}
    assert final == {(1, "A"), (2, "B"), (3, "c")}


def test_two_independent_streams_one_session(spark, tmp_path):
    """Multi-consumer parity: two streaming queries (two 'topics') run
    concurrently in one session with separate checkpoints — the engine's
    analogue of the reference's N supervised consumers."""
    out = {}
    queries = []
    try:
        for topic in ("alpha", "beta"):
            src = tmp_path / topic
            src.mkdir()
            pd.DataFrame({"v": [f"{topic}-1", f"{topic}-2"]}).to_parquet(src / "b.parquet")
            q = (
                spark.readStream.schema("v string")
                .parquet(str(src))
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(f"sink_{topic}")
                .option("checkpointLocation", str(tmp_path / f"ckpt_{topic}"))
                .start()
            )
            queries.append(q)
        for q in queries:
            q.processAllAvailable()
        for topic in ("alpha", "beta"):
            out[topic] = {r.v for r in spark.sql(f"SELECT v FROM sink_{topic}").collect()}
    finally:
        for q in queries:
            q.stop()
    assert out == {"alpha": {"alpha-1", "alpha-2"}, "beta": {"beta-1", "beta-2"}}


def test_left_outer_stream_stream_join_emits_nulls_after_watermark(spark, tmp_path):
    """Watermarked LEFT OUTER stream-stream join: an unmatched left row
    must be emitted WITH NULL right side once the watermark passes its
    join window — the state-eviction semantics that distinguish a
    streaming outer join from buffering forever."""
    import datetime as dt

    lsrc = tmp_path / "lo_left"
    rsrc = tmp_path / "lo_right"
    lsrc.mkdir(); rsrc.mkdir()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # left: two impressions; right: one click matching only imp 'a'
    def _wp(df, path, col):
        df[col] = df[col].astype("datetime64[us]")  # micros: immune to the
        # session-wide nanosAsLong conf the events replay source sets
        df.to_parquet(path)

    _wp(pd.DataFrame({"ad": ["a", "b"], "lts": [t0, t0]}), lsrc / "b0.parquet", "lts")
    _wp(pd.DataFrame({"ad": ["a"], "rts": [t0 + dt.timedelta(seconds=30)]}), rsrc / "b0.parquet", "rts")
    left = (
        spark.readStream.schema("ad string, lts timestamp").parquet(str(lsrc))
        .withWatermark("lts", "1 minute")
    )
    right = (
        spark.readStream.schema("ad string, rts timestamp").parquet(str(rsrc))
        .withWatermark("rts", "1 minute")
        .withColumnRenamed("ad", "r_ad")
    )
    joined = left.join(
        right,
        F.expr("ad = r_ad AND rts BETWEEN lts AND lts + INTERVAL 2 MINUTES"),
        "leftOuter",
    )
    q = joined.writeStream.outputMode("append").format("memory").queryName("lo_sink").start()
    try:
        q.processAllAvailable()
        # advance both watermarks far past the join window so 'b' expires
        late = t0 + dt.timedelta(hours=1)
        _wp(pd.DataFrame({"ad": ["zz"], "lts": [late]}), lsrc / "b1.parquet", "lts")
        _wp(pd.DataFrame({"ad": ["zz2"], "rts": [late]}), rsrc / "b1.parquet", "rts")
        q.processAllAvailable()
        _wp(pd.DataFrame({"ad": ["zz3"], "lts": [late + dt.timedelta(minutes=5)]}), lsrc / "b2.parquet", "lts")
        _wp(pd.DataFrame({"ad": ["zz4"], "rts": [late + dt.timedelta(minutes=5)]}), rsrc / "b2.parquet", "rts")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT ad, rts FROM lo_sink").collect()
    got = {r.ad: r.rts for r in rows}
    assert got.get("a") is not None, "matched pair must carry the click time"
    assert "b" in got and got["b"] is None, "expired unmatched left row must emit with NULL right"


def test_upsert_chaos_crash_recovery(spark, sf_dir, tmp_path):
    """CHAOS for the foreachBatch UPSERT materializer: crash the stream
    at every dangerous point — BEFORE any effect, AFTER the state write
    but before the checkpoint commit (forcing a re-delivery that must
    overwrite, not double-merge), and MID-WRITE (torn state dir with its
    _SUCCESS marker removed, which recovery must treat as absent) — then
    restart on the same checkpoint until drained, and assert the final
    state equals the batch latest-per-user truth."""
    import os

    from etl_file_sync_spark.streaming.upsert import (
        committed_states,
        final_state,
        latest_per_user,
        make_upsert,
        state_dir,
    )

    ev = load_table(spark, str(sf_dir), "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    root = tmp_path / "upsert_root"
    root.mkdir()
    stage = str(tmp_path / "stage")
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    body = make_upsert(str(root))
    # batch -> crash phase; each fires exactly once, the replay must pass
    crashes = {0: "before", 1: "after", 2: "torn"}
    fired: set[int] = set()

    def chaotic(batch_df, batch_id):
        if crashes.get(batch_id) == "before" and batch_id not in fired:
            fired.add(batch_id)
            raise RuntimeError(f"chaos: pre-effect crash at batch {batch_id}")
        body(batch_df, batch_id)
        if crashes.get(batch_id) == "after" and batch_id not in fired:
            fired.add(batch_id)
            raise RuntimeError(f"chaos: post-write crash at batch {batch_id}")
        if crashes.get(batch_id) == "torn" and batch_id not in fired:
            fired.add(batch_id)
            os.remove(os.path.join(state_dir(str(root), batch_id), "_SUCCESS"))
            raise RuntimeError(f"chaos: torn-write crash at batch {batch_id}")

    def run_until_stall():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
            .writeStream.foreachBatch(chaotic)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            return True
        except Exception:
            return False
        finally:
            q.stop()

    restarts = 0
    while not run_until_stall():
        restarts += 1
        assert restarts <= len(crashes) + 2, "upsert stream failed to converge"
    assert restarts == len(crashes), "every injected crash forces exactly one restart"

    # all 4 batches committed, torn dir healed by its replay
    assert committed_states(str(root)) == [0, 1, 2, 3]
    got = (
        final_state(spark, str(root))
        .select("user_id", "event_type", "ts", "value")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    truth = (
        latest_per_user(ev)
        .select("user_id", "event_type", "ts", "value")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, truth)


def test_replay_builds_leave_nothing_behind(spark, sf_dir, tmp_path, monkeypatch):
    """Nothing a streaming query stages outlives it: the replay stages
    (single-file symlink, flush and late tails) and the upsert root are
    removed, and no memory-sink view stays registered."""
    import os
    import tempfile

    from etl_file_sync_spark.queries import REGISTRY
    from etl_file_sync_spark.session import prep

    prep(spark)  # ships the package zip (its own temp file) up front
    for table in spark.catalog.listTables():
        if table.name.endswith("_sink"):
            spark.catalog.dropTempView(table.name)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "stream_tumbling_counts",
        "stream_full_outer_join",
        "stream_late_data_drop",
        "stream_upsert_materialize",
    ):
        REGISTRY[name].build(spark, sf_dir)
    assert os.listdir(tmp_path) == []
    assert [x.name for x in spark.catalog.listTables() if x.name.endswith("_sink")] == []


def test_replay_reads_both_ts_vintages_alike(spark, tmp_path):
    """events.ts has shipped as TIMESTAMP(NANOS) and TIMESTAMP(MICROS):
    the batch table and the replay (late tail: events, flush sentinel,
    late batch) give the same rows for both, nanos truncated to micros."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_file_sync_spark.streaming.replay import FLUSH_HOURS, LATE_DAYS, SENTINEL_UID

    t0 = pd.Timestamp("2024-01-01 12:00:00")
    ts = [t0, t0 + pd.Timedelta(minutes=5), t0 + pd.Timedelta(hours=1, nanoseconds=789)]
    got = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([6, 7, 8], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False),
                "user_id": pa.array([1, 1, 2], pa.int64()),
                "event_type": ["view", "purchase", "view"],
                "value": [1.5, None, 3.0],
                "props": ["{}", None, '{"a": 1}'],
            }
        )
        pq.write_table(table, d / "events.parquet")
        batch = load_table(spark, str(d), "events")
        with replay(spark, str(d), "late") as events:
            stream = run_to_memory_sink(events(), f"vintage_{unit}_sink", "append")
        got[unit] = [
            sorted(tuple(r) for r in frame.select(*batch.columns).collect())
            for frame in (batch, stream)
        ]
    assert got["ns"] == got["us"]
    batch_rows, stream_rows = got["us"]
    assert batch_rows[-1][1] == dt.datetime(2024, 1, 1, 13, 0, 0)  # nanos truncated
    flush = t0 + pd.Timedelta(hours=1 + FLUSH_HOURS)
    late = (t0 + pd.Timedelta(minutes=5) - pd.Timedelta(days=LATE_DAYS)).to_pydatetime()
    assert stream_rows == sorted(
        batch_rows
        + [
            (-1, flush.to_pydatetime(), SENTINEL_UID, "purchase", 0.0, "{}"),
            (-2, flush.to_pydatetime(), SENTINEL_UID, "view", 0.0, "{}"),
            (-1_000_007, late, 1, "purchase", None, None),
        ]
    )
