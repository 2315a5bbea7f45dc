"""Event-time streaming queries over the events table, plus their batch
equivalents (sessionization, sliding windows).

``stream_tumbling_counts`` genuinely runs Structured Streaming (parquet
replay source → watermark → windowed agg → memory sink) and returns the
final result as a batch frame, so the driver's oracle can check it.
Windows are expressed on the epoch-second grid (floor(epoch/width)) in
BOTH engines, which is exactly Spark's window() alignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from etl_file_sync_spark.queries.registry import register, t
from etl_file_sync_spark.streaming.replay import (
    ADMIT_MAX_TS,
    ADMIT_MIN_TS,
    SENTINEL_UID,
    replay,
    run_to_memory_sink,
)


def _admit_sql(col: str = "ts") -> str:
    """Oracle spelling of the streaming admission window — interpolated
    from streaming/replay.py so engine and oracle share ONE source of
    truth (hand-duplicated literals desynchronize silently)."""
    return (
        f"CAST({col} AS TIMESTAMP) >= TIMESTAMP '{ADMIT_MIN_TS}'\n"
        f"      AND CAST({col} AS TIMESTAMP) < TIMESTAMP '{ADMIT_MAX_TS}'"
    )


@register(
    "stream_tumbling_counts",
    f"""
    SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    -- the streaming admission window (streaming/replay.py ADMIT_*):
    -- NULL event times and out-of-window timestamps never reach the
    -- watermark -- mirror that here
    WHERE {_admit_sql()}
    GROUP BY 1, 2
    """,
    "streaming",
    "tumbling-window",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows computed by an actual streaming query.

    Parquet replay → withWatermark(10 min) → window(5 min) agg → memory
    sink in complete mode; processAllAvailable drives it to completion.
    At scale the source is Kafka and the sink incremental — identical
    plan, same state-store windows.
    """
    with replay(spark, sf_dir) as events:
        agg = (
            events()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        )
        return run_to_memory_sink(agg, "stream_tumbling_counts_sink", "complete")


@register(
    "stream_sliding_windows",
    """
    WITH slid AS (
      SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 - i * 300) AS TIMESTAMP) AS window_start,
             event_type, value
      FROM events, UNNEST([0, 1]) AS u(i)
      WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type, count(*) AS n_events
    FROM slid GROUP BY 1, 2
    """,
    "streaming",
    "sliding-window",
)
def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (batch window() — same
    semantics as the streaming operator; each event lands in 2 windows)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@register(
    "sessionize_events",
    """
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
    ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM ev),
    sess AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered)
    SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    "streaming",
    "session-window",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (lag + running sum —
    the batch equivalent of session_window(ts, '30 minutes'))."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-seconds epoch (cast double keeps micros) — matches the
    # oracle's epoch() exactly; unix_timestamp() would truncate to seconds.
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wsum).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "asof_purchase_prev_view",
    """
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'purchase'),
    views AS (
      SELECT user_id, ts AS view_ts, max(value) AS view_value
      FROM ev WHERE event_type = 'view' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts, round(p.value, 2) AS purchase_value,
           v.view_ts AS prev_view_ts, round(v.view_value, 2) AS prev_view_value
    FROM purchases p ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.view_ts <= p.ts
    ORDER BY p.event_id
    """,
    "asof",
    "join",
)
def asof_purchase_prev_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest prior view.

    Spark lacks a native ASOF JOIN; operators.asof composes it from a
    tagged union + last(ignorenulls) window — ONE shuffle on user_id.
    The right side is pre-deduped per (user, ts) for determinism.
    """
    from etl_file_sync_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("view_ts"))
        .agg(F.round(F.max("value"), 2).alias("view_value"))
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="ts",
        right_time="view_ts",
        right_vals=["view_ts", "view_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("view_ts").alias("prev_view_ts"),
        F.col("view_value").alias("prev_view_value"),
    ).orderBy("event_id")


@register(
    "stream_stream_join",
    f"""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
                WHERE {_admit_sql()}),
    p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts AS view_ts FROM ev WHERE event_type = 'view')
    SELECT p.event_id, v.view_id, p.user_id
    FROM p JOIN v ON p.user_id = v.user_id
      AND v.view_ts >= p.ts - INTERVAL 30 MINUTE AND v.view_ts <= p.ts
    ORDER BY p.event_id, v.view_id
    """,
    "streaming",
    "stream-stream-join",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range bounds: purchases
    joined to the same user's views in the preceding 30 minutes. Both
    sides carry watermarks so the join state is bounded — the production
    pattern for clickstream attribution. The oracle restates it as a
    batch interval join over the full table.
    """
    with replay(spark, sf_dir) as events:
        ev = events()
        purchases = (
            ev.filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "1 hour")
        )
        views = (
            ev.filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "1 hour")
        )
        joined = purchases.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("view_ts") <= F.col("ts")),
            "inner",
        ).select("event_id", "view_id", "user_id")
        out = run_to_memory_sink(joined, "stream_stream_join_sink", "append")
        return out.orderBy("event_id", "view_id")


@register(
    "stream_late_data_drop",
    f"""
    SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS n_events
    FROM events
    WHERE {_admit_sql()}
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "streaming",
    "watermark",
    "late-data",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, value-checked: the "late" replay
    tail (streaming/replay.py) stages three micro-batches — the events,
    then a far-future flush sentinel that advances the watermark and
    emits all append-mode windows, then every 7th event re-delivered
    with its event time shifted 10 days into the past. The late batch
    comes two batches after the data that advanced the watermark,
    because Spark filters late input with the watermark as of one batch
    earlier. The 15-minute tumbling counts must equal the oracle's
    counts over the ON-TIME events alone: if the engine aggregates even
    one late row, a window's count (or a phantom past window)
    hash-mismatches.
    """
    with replay(spark, sf_dir, "late") as events:
        agg = (
            events()
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )
        out = run_to_memory_sink(agg, "stream_late_drop_sink", "append")
    # No window after the last admitted event can emit: the sentinel's
    # window ends past the watermark it sets, and the late rows sit 10
    # days behind it.
    return out.orderBy("window_start", "event_type")


@register(
    "rollup_reaggregation",
    """
    WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
                       CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n_events,
           round(sum(cents) / 100.0, 2) AS total_value,
           floor(sum(cents) * 100.0 / count(*)) / 10000.0 AS avg_value
    FROM ev GROUP BY 1, 2
    """,
    "streaming",
    "rollup",
    "continuous-aggregate",
)
def rollup_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly stats computed by
    RE-AGGREGATING minutely partials (sum/count compose; avg is derived
    sum/count, never avg-of-avg). The oracle aggregates the raw events
    directly — equality proves the two-level rollup is lossless, which
    is what lets a 100 TB pipeline maintain cheap minutely partials and
    serve any coarser grain from them.

    Exact-integer cents make the re-aggregated double sum order-proof.
    total_value's round(2) is safe (cents/100 IS a 2-decimal number, so
    no value ever sits on the rounding boundary), but avg_value is a
    raw quotient whose 4th decimal can land exactly on .5 — where the
    engines' round() implementations disagree (boundary tier at
    sf0.01) — so it is reported at the FLOOR grain
    (floor(x·10^4)/10^4), deterministic on identical doubles.
    """
    e = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    minutely = (
        e.groupBy(F.date_trunc("minute", "ts").alias("minute_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    hourly = (
        minutely.groupBy(F.date_trunc("hour", "minute_start").alias("hour_start"), "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("cents").alias("total_cents"))
    )
    return hourly.select(
        "hour_start",
        "event_type",
        "n_events",
        F.round(F.col("total_cents") / 100.0, 2).alias("total_value"),
        (F.floor(F.col("total_cents") * 100.0 / F.col("n_events")) / 10000.0).alias(
            "avg_value"
        ),
    )


@register(
    "stream_dedup_exactly_once",
    f"""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE {_admit_sql()}
    ORDER BY event_id
    """,
    "streaming",
    "dedup",
    "watermark",
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the replayed event stream is UNIONED WITH
    ITSELF (every event arrives twice — the at-least-once delivery the
    operator exists for) and dropDuplicatesWithinWatermark('event_id')
    must emit each event exactly once. State for a key is held only
    inside the watermark horizon, so state size is bounded by the lateness
    budget — the 100 TB-stream answer, vs an unbounded dropDuplicates.
    The oracle is simply the distinct event set.
    """
    with replay(spark, sf_dir) as events:
        deduped = (
            events()
            .unionByName(events())
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type")
        )
        return run_to_memory_sink(deduped, "stream_dedup_sink", "append").orderBy("event_id")


@register(
    "stream_outer_attribution_dedup",
    f"""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
                WHERE {_admit_sql()}),
    p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id, ts AS view_ts FROM ev WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, v.view_id
    FROM p LEFT JOIN v ON p.user_id = v.user_id
      AND v.view_ts >= p.ts - INTERVAL 30 MINUTE AND v.view_ts <= p.ts
    ORDER BY p.event_id, v.view_id
    """,
    "streaming",
    "stream-stream-join",
    "left-outer",
    "dedup",
    "watermark",
)
def stream_outer_attribution_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming: an at-least-once purchase stream
    (unioned with itself — every purchase arrives twice) is exactly-onced
    by dropDuplicatesWithinWatermark, then LEFT OUTER stream-stream
    joined to the view stream with event-time range bounds — purchases
    with no prior view must emit WITH NULL right side once the watermark
    passes their join window (state eviction, not buffering forever).

    Determinism: the "flush" replay tail stages a far-future sentinel
    batch (streaming/replay.py) whose second micro-batch advances both
    watermarks past all real state, so every outer-null row flushes
    inside one processAllAvailable and the full DuckDB oracle (batch
    LEFT JOIN over the distinct event set) hash-checks the result. On a
    live Kafka feed the continuing stream plays the sentinel's role.
    """
    with replay(spark, sf_dir, "flush") as events:
        purchases = (
            events().filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        )
        deduped = (
            purchases.unionByName(purchases)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        views = (
            events()
            .filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "10 minutes")
        )
        joined = deduped.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("view_ts") <= F.col("ts")),
            "leftOuter",
        ).select("event_id", "user_id", "view_id")
        out = run_to_memory_sink(joined, "stream_outer_attr_sink", "append")
    # drop the flush sentinels by their RESERVED id — "user_id >= 0" was
    # a sign convention that silently dropped real hash-range negative
    # users (extreme-id tier)
    return out.filter(F.col("user_id") != SENTINEL_UID).orderBy(
        "event_id", "view_id"
    )


@register(
    "stream_session_windows",
    f"""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
                WHERE {_admit_sql()}),
    flags AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM ev),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flags)
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    "streaming",
    "session-window",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming session windows: session_window(ts, '30 minutes')
    under a watermark, driven through the state store to a memory sink —
    the stateful merge-on-overlap operator itself, not the batch lag
    rewrite (that equivalent is `sessionize_events`). The oracle is the
    gaps-and-islands rewrite with session_window's TOUCHING-MERGES
    semantics: an event landing exactly gap seconds after the last one
    (next window start == current window end) MERGES into the session
    — verified empirically on Spark 4 (events at 00:00 and 00:30 with
    a 30-minute gap form ONE session [00:00, 01:00)), matching
    sessionize_events' strict-> convention. The boundary tier
    (tools/tiers.py) forces gaps exactly at the timeout and
    caught the previous >= mis-model.
    """
    with replay(spark, sf_dir) as events:
        agg = (
            events()
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_last"),
                 F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "session_start", "session_last", "n_events")
        )
        out = run_to_memory_sink(agg, "stream_session_sink", "complete")
        return out.orderBy("user_id", "session_start")


@register(
    "stream_stateful_threshold",
    f"""
    WITH c AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
             row_number()
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
      WHERE {_admit_sql()}
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS cross_ts,
           CAST(min(rn) AS INTEGER) AS n_events_at_cross,
           CAST(min_by(cum_cents, rn) AS BIGINT) AS cum_cents_at_cross
    FROM c WHERE cum_cents >= 50000
    GROUP BY user_id ORDER BY user_id
    """,
    "streaming",
    "stateful",
    "applyInPandasWithState",
)
def stream_stateful_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    user, detect the first event where cumulative spend crosses $500 —
    the alerting/entitlement pattern no built-in windowed agg expresses
    (the emission depends on the running state, not a time window).

    State is (cum_cents, n_events, done); each invocation folds its
    batch sorted by (ts, event_id) into the state and emits at most one
    crossing row per user. The single-file parquet replay delivers one
    micro-batch, which makes the run deterministic and lets the DuckDB
    oracle restate the semantics as a running-sum window; cross-batch
    state carry for the same operator shape is exercised in
    tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold(key, pdfs, state):
        if state.exists:
            cum, n, done = state.get
        else:
            cum, n, done = 0, 0, 0
        if done:
            return
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        # NULL values add nothing to the running sum (SQL sum skips
        # NULLs) but the event still counts — fillna before the int cast
        cents = (batch["value"] * 100).round().fillna(0).astype("int64")
        for ts_v, ev_id, c in zip(batch["ts"], batch["event_id"], cents):
            cum += int(c)
            n += 1
            if cum >= 50000:
                state.update((cum, n, 1))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "cross_ts": [ts_v],
                        "n_events_at_cross": [n],
                        "cum_cents_at_cross": [cum],
                    }
                )
                return
        state.update((cum, n, 0))

    with replay(spark, sf_dir) as events:
        crossed = events().groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType="user_id long, cross_ts timestamp, n_events_at_cross int, cum_cents_at_cross long",
            stateStructType="cum long, n long, done int",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        out = run_to_memory_sink(crossed, "stream_stateful_threshold_sink", "update")
        return out.orderBy("user_id")



@register(
    "stream_full_outer_join",
    f"""
    WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
                WHERE {_admit_sql()}),
    p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
    v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS view_ts FROM ev WHERE event_type = 'view')
    SELECT p.event_id, v.view_id, coalesce(p.user_id, v.v_user) AS user_id
    FROM p FULL OUTER JOIN v ON p.user_id = v.v_user
      AND v.view_ts >= p.ts - INTERVAL 30 MINUTE AND v.view_ts <= p.ts
    ORDER BY p.event_id NULLS LAST, v.view_id NULLS LAST
    """,
    "streaming",
    "stream-stream-join",
    "full-outer",
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER watermarked stream-stream join — completes the
    streaming join-type matrix (inner: stream_stream_join, left outer:
    stream_outer_attribution_dedup): unmatched PURCHASES and unmatched
    VIEWS must both emit with null other-side once the watermark passes
    their join windows. The "flush" replay tail (streaming/replay.py)
    advances both watermarks past all real state so every null-emission
    flushes inside one
    processAllAvailable, making the full batch FULL OUTER oracle apply
    value-exactly."""
    with replay(spark, sf_dir, "flush") as events:
        purchases = (
            events()
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts")
            .withWatermark("ts", "10 minutes")
        )
        views = (
            events()
            .filter(F.col("event_type") == "view")
            .select(F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "10 minutes")
        )
        joined = purchases.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("view_ts") <= F.col("ts")),
            "full_outer",
        ).select(
            "event_id", "view_id", F.coalesce(F.col("user_id"), F.col("v_user")).alias("user_id")
        )
        out = run_to_memory_sink(joined, "stream_full_outer_sink", "append")
    # drop the two sentinel rows by their RESERVED id; both are unmatched
    # singletons ("user_id >= 0" was a sign convention — extreme-id tier)
    return out.filter(F.col("user_id") != SENTINEL_UID).orderBy(
        F.col("event_id").asc_nulls_last(), F.col("view_id").asc_nulls_last()
    )


@register(
    "stream_pyds_replay_counts",
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "streaming",
    "python-data-source",
)
def stream_pyds_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PYTHON DATA SOURCE (Spark 4 SimpleDataSourceStreamReader,
    sources/replay_stream_source.py): the events table replayed through a
    registered custom source in three offset-tracked micro-batches, then
    aggregated under complete mode. The final counts must equal the
    batch truth — a source that drops, duplicates, or re-slices rows
    across its offset ranges hash-mismatches. Value floats are exact:
    sum(value) is order-insensitive at the 2-decimal rounding grain used
    here (values are 2-decimal currency-like to begin with)."""
    from etl_file_sync_spark.sources.replay_stream_source import EventsReplayDataSource

    spark.dataSource.register(EventsReplayDataSource)
    s = (
        spark.readStream.format("events_replay")
        .option("path", f"{sf_dir}/events.parquet")
        .option("batches", 3)
        .load()
    )
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )
    return run_to_memory_sink(agg, "stream_pyds_sink", "complete").orderBy("event_type")


@register(
    "stream_static_enrich",
    f"""
    WITH counts AS (SELECT event_type, count(*) AS c FROM events GROUP BY event_type),
    dim AS (
      SELECT event_type,
             CAST(row_number() OVER (ORDER BY c DESC, event_type) AS BIGINT) AS type_rank
      FROM counts WHERE c > (SELECT avg(c) FROM counts)
    ),
    w AS (
      SELECT CAST(to_timestamp(floor(epoch(CAST(e.ts AS TIMESTAMP)) / 300) * 300) AS TIMESTAMP)
               AS window_start,
             e.event_type, d.type_rank, e.value
      FROM events e JOIN dim d USING (event_type)
      -- dim is batch-side (unfiltered); the STREAM side admits
      WHERE {_admit_sql('e.ts')}
    )
    SELECT window_start, event_type, type_rank,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2, 3
    """,
    "streaming",
    "stream-static-join",
    "enrichment",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast join (round 5): the canonical streaming
    enrichment pattern — a batch-computed dimension (above-average-count
    event types, ranked deterministically by (count desc, type)) joined
    into the live stream, where the inner join both FILTERS the stream
    (below-average types drop) and ENRICHES it (type_rank flows into the
    windowed aggregation's keys). Executed as a real streaming query:
    parquet replay -> withWatermark -> broadcast stream-static join ->
    5-minute tumbling agg -> memory sink. At scale the dim is the
    nightly profile table broadcast to every executor; the stream side
    never shuffles for the join (broadcast hash), only for the windowed
    agg. The oracle restates dim + join + windows over the same events
    batch-side."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    avg_c = counts.agg(F.avg("c").alias("a"))
    from pyspark.sql import Window as W

    # dim is DIMENSION-CARDINALITY bounded (distinct event types): the
    # 1-row avg threshold join and the unpartitioned rank window both
    # run over a handful of aggregate rows, never event-grain data
    dim = (
        counts.join(F.broadcast(avg_c), F.col("c") > F.col("a"))
        .withColumn(
            "type_rank",
            F.row_number().over(W.orderBy(F.col("c").desc(), "event_type")).cast("bigint"),
        )
        .select("event_type", "type_rank")
    )
    with replay(spark, sf_dir) as events:
        joined = events().withWatermark("ts", "10 minutes").join(F.broadcast(dim), "event_type")
        agg = (
            joined.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type", "type_rank")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "type_rank",
                "n_events",
                "total_value",
            )
        )
        return run_to_memory_sink(agg, "stream_static_enrich_sink", "complete")


@register(
    "stream_upsert_materialize",
    """
    WITH ranked AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type AS last_event_type, ts AS last_ts,
           round(value, 2) AS last_value
    FROM ranked WHERE rn = 1 ORDER BY user_id
    """,
    "streaming",
    "upsert",
    "foreachbatch",
)
def stream_upsert_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT materialization — the foreachBatch MERGE pattern
    every CDC/serving pipeline runs: the events stream is replayed in
    THREE genuine micro-batches (maxFilesPerTrigger=1 over a 3-file
    stage), and each batch incrementally merges 'latest event per user'
    into a parquet state table (read-modify-write into an alternating
    per-batch directory — the plain-parquet stand-in for Delta/Iceberg
    MERGE, which is exactly what foreachBatch would call with the jars
    present; see streaming/upsert.py). Latest-per-user inside each
    merge is a user-partitioned row_number (ts, event_id tiebreak), so
    state stays one row per user and the merge cost is
    state + batch, never history. The final state table must equal the
    batch latest-per-key answer, which is the oracle."""
    import os
    import tempfile

    from etl_file_sync_spark.streaming.upsert import final_state, make_upsert

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    # the stage and the state dirs live under one root that the scope
    # removes; the result is checkpointed before it does
    with tempfile.TemporaryDirectory(prefix="stream_upsert_") as root:
        stage = os.path.join(root, "stage")
        # 3 staged files => 3 micro-batches; upsert correctness is
        # replay-order-independent (merge keeps the (ts, event_id) max).
        # The merge itself is RESTART-IDEMPOTENT (streaming/upsert.py:
        # per-batch-id state dirs, _SUCCESS-gated recovery) — crash
        # behavior is chaos-tested in tests/test_streaming.py.
        ev.repartitionByRange(3, "ts").write.mode("overwrite").parquet(stage)
        schema = spark.read.parquet(stage).schema

        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
        q = stream.writeStream.foreachBatch(make_upsert(root)).outputMode("update").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return final_state(spark, root).select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("ts").alias("last_ts"),
            F.round("value", 2).alias("last_value"),
        ).orderBy("user_id").localCheckpoint(eager=True)


@register(
    "stream_alert_rate_threshold",
    f"""
    WITH w AS (
      SELECT CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900)
               AS TIMESTAMP) AS window_start,
             CAST(count(*) AS BIGINT) AS n_errors
      FROM events WHERE event_type = 'error'
        AND {_admit_sql()}
      GROUP BY 1
    )
    SELECT window_start, n_errors FROM w WHERE n_errors >= 2
    ORDER BY window_start
    """,
    "streaming",
    "tumbling-window",
    "decision",
)
def stream_alert_rate_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming alert rule: 15-minute tumbling error counts with a
    HAVING-style threshold filter ON the streaming aggregate — the
    alerting shape a monitoring pipeline deploys (only windows that
    breach the threshold ever reach the sink). Runs as a genuine
    Structured Streaming query (watermark -> window agg -> filter ->
    memory sink, complete mode); at scale the sink is an alert topic
    and the mode update, same plan."""
    with replay(spark, sf_dir) as events:
        agg = (
            events()
            .where(F.col("event_type") == "error")
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "15 minutes").alias("w"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_errors"))
            .where(F.col("n_errors") >= 2)
            .select(F.col("w.start").alias("window_start"), "n_errors")
        )
        return run_to_memory_sink(agg, "stream_alert_rate_sink", "complete").orderBy("window_start")
