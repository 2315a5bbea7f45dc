"""Behavioral analytics + curation-sampling queries (round 3).

Funnels, retention cohorts, and gap-interpolated resampling over the
events stream table; per-domain caps, weighted priority sampling, and
span-level substring dedup over documents. All value-exact against the
DuckDB oracle: counts are BIGINT, every float is produced by a single
correctly-rounded IEEE op on exact integers, and random draws are
md5-seeded.

Reference parity: the reference repo is a Kafka→FTP file-sync pipeline
with no analytics face (/root/reference/README.md:1-60); these queries
belong to the LLM-pipeline / analytics extension surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df
from pyspark.sql import Window as W

from etl_file_sync_spark.queries.registry import register, t


@register(
    "funnel_user_conversion",
    """
    WITH v AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND CAST(e.ts AS TIMESTAMP) > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND CAST(e.ts AS TIMESTAMP) > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT stage, users FROM (
      SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS users FROM v
      UNION ALL
      SELECT 'view>click', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
    ) ORDER BY stage
    """,
    "behavior",
    "funnel",
)
def funnel_user_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: a user advances a stage only
    with an event strictly after their earliest prior-stage event.

    Three per-user aggregations, each co-partitioned on user_id — AQE
    plans the stage-to-stage joins; no all-events self-join.
    """
    e = t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = (
        v.agg(F.lit("view").alias("stage"), F.count(F.lit(1)).cast("long").alias("users"))
        .unionByName(
            c.agg(F.lit("view>click").alias("stage"), F.count(F.lit(1)).cast("long").alias("users"))
        )
        .unionByName(
            p.agg(
                F.lit("view>click>purchase").alias("stage"),
                F.count(F.lit(1)).cast("long").alias("users"),
            )
        )
    )
    return rows.orderBy("stage")


@register(
    "retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, CAST(date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS DATE) AS cw
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS aw
      FROM events
    )
    SELECT f.cw AS cohort_week,
           CAST((a.aw - f.cw) / 7 AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS users
    FROM f JOIN a ON f.user_id = a.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "behavior",
    "retention",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week,
    counted in each later week they were active.

    Two shuffles (per-user min, distinct user-weeks) then a user_id
    equi-join — the cohort dimension never materializes per-event rows.
    """
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cw"))
    a = e.select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("aw")).distinct()
    return (
        f.join(a, "user_id")
        .select(
            # timestamp, not date: DuckDB materializes DATE as
            # datetime64 while Spark DATE stays python date objects —
            # the driver's hash treats those as different kinds.
            F.col("cw").cast("timestamp").alias("cohort_week"),
            (F.datediff(F.col("aw"), F.col("cw")) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "ts_resample_interpolate",
    """
    WITH daily AS (
      -- bounded reporting window (the gapfill contract shared with
      -- ts_gapfill_interpolate): a corrupt timestamp outside it cannot
      -- inflate any user's personal spine
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events WHERE user_id % 10 = 0
        AND CAST(CAST(ts AS TIMESTAMP) AS DATE)
            BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
      GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
      SELECT user_id, CAST(g.gd AS DATE) AS day
      FROM bounds, UNNEST(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS g(gd)
    ),
    joined AS (
      SELECT g.user_id, g.day, d.cnt FROM grid g
      LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    ),
    filled AS (
      SELECT user_id, day, cnt,
        last_value(cnt IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
        last_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(cnt IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
        first_value(CASE WHEN cnt IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT user_id, day,
      CASE WHEN cnt IS NOT NULL THEN CAST(cnt AS DOUBLE)
           ELSE pc + (nc - pc) * (day - pd) / (nd - pd) END AS value,
      (cnt IS NULL) AS interpolated
    FROM filled ORDER BY user_id, day
    """,
    "timeseries",
    "interpolate",
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample of per-user event counts with linear interpolation
    over gap days (between each user's first and last active day).

    The day grid comes from sequence() per user (no calendar table
    shuffle); carry-forward/backward pairs come from one window sort per
    direction. The interpolation arithmetic is integer-exact until a
    single double division, so the oracle matches bit-for-bit.
    Filtered to user_id % 10 = 0 to keep the oracle frame small while
    exercising every code path. Each user's grid spans their own
    observed min/max day WITHIN the declared reporting window — the
    bounded-gapfill contract (operators/timeseries.py): one corrupt
    1970/2262 timestamp otherwise inflates that user's personal spine
    by 4,000x.
    """
    from etl_file_sync_spark.operators.timeseries import (
        EVENTS_REPORT_END,
        EVENTS_REPORT_START,
    )

    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    daily = (
        e.select("user_id", F.col("ts").cast("date").alias("day"))
        .where(
            F.col("day").between(
                F.lit(EVENTS_REPORT_START).cast("date"),
                F.lit(EVENTS_REPORT_END).cast("date"),
            )
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()  # 2 consumers (bounds + grid left-join): one events scan
    )
    bounds = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = bounds.select(
        "user_id", F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    wb = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    wf = W.partitionBy("user_id").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    day_if = F.when(F.col("cnt").isNotNull(), F.col("day"))
    filled = (
        joined.withColumn("pc", F.last("cnt", ignorenulls=True).over(wb))
        .withColumn("pd", F.last(day_if, ignorenulls=True).over(wb))
        .withColumn("nc", F.first("cnt", ignorenulls=True).over(wf))
        .withColumn("nd", F.first(day_if, ignorenulls=True).over(wf))
    )
    value = F.when(F.col("cnt").isNotNull(), F.col("cnt").cast("double")).otherwise(
        F.col("pc")
        + (F.col("nc") - F.col("pc"))
        * F.datediff(F.col("day"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd"))
    )
    return filled.select(
        "user_id",
        F.col("day").cast("timestamp").alias("day"),  # dtype parity with DuckDB DATE
        value.alias("value"),
        F.col("cnt").isNull().alias("interpolated"),
    ).orderBy("user_id", "day")


@register(
    "sample_domain_cap",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10 ORDER BY source, doc_id
    """,
    "sampling",
    "curation",
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source domain at 10 documents, selected by reproducible
    md5 priority (operators/mix.py::domain_cap)."""
    from etl_file_sync_spark.operators.mix import domain_cap

    d = t(spark, sf_dir, "documents")
    return domain_cap(d, cap=10).select("doc_id", "source").orderBy("source", "doc_id")


@register(
    "sample_user_event_cap",
    """
    WITH r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS rn
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (rn <= 100) AS BIGINT) AS n_kept,
           max(ts) FILTER (rn <= 100) AS last_kept_ts
    FROM r GROUP BY user_id ORDER BY user_id
    """,
    "sampling",
    "curation",
    "skew",
)
def sample_user_event_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity admission cap audit (operators/mix.py::
    entity_event_cap): each user's first 100 events by (ts, event_id)
    survive; the report shows per user the organic volume, the kept
    count, and the cap boundary timestamp. This is the bot-account
    mitigation the SCALE.md skew snapshot calls for — per-entity
    ordered windows are inherently one task per entity, so the cap
    (not a salt, which cannot preserve per-entity order) bounds what
    any downstream sequence operator sees from a hot entity."""
    from etl_file_sync_spark.operators.mix import entity_event_cap

    ev = t(spark, sf_dir, "events")
    capped = entity_event_cap(ev, cap=100)
    totals = (
        ev.where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    kept = capped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.max("ts").alias("last_kept_ts"),
    )
    return totals.join(kept, "user_id").orderBy("user_id")


@register(
    "sample_weighted_priority",
    """
    SELECT doc_id, source, n_chars, priority FROM (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(doc_id::VARCHAR || ':w'), 1, 13))::UBIGINT::BIGINT / n_chars
               AS priority
      FROM documents WHERE n_chars > 0
    ) ORDER BY priority, doc_id LIMIT 100
    """,
    "sampling",
    "weighted",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sample of 100 docs without replacement
    (operators/mix.py::weighted_priority_sample): priority = md5-uniform
    / n_chars, k smallest win — longer docs proportionally likelier."""
    from etl_file_sync_spark.operators.mix import weighted_priority_sample

    d = t(spark, sf_dir, "documents")
    return weighted_priority_sample(d, "doc_id", "n_chars", k=100).select(
        "doc_id", "source", "n_chars", "priority"
    )


@register(
    "dedup_span_stats",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    occ AS (
      SELECT doc_id, array_to_string(w[i+1:i+8], ' ') AS span
      FROM d, UNNEST(range(0, len(w) - 7)) AS u(i)
      WHERE len(w) >= 8
    ),
    shared AS (
      SELECT span FROM (SELECT DISTINCT doc_id, span FROM occ)
      GROUP BY span HAVING count(*) >= 2
    ),
    dup AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
      FROM occ WHERE span IN (SELECT span FROM shared) GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM occ GROUP BY doc_id)
    SELECT d2.doc_id AS id,
           CAST(coalesce(t.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN coalesce(t.n_windows, 0) > 0
                THEN coalesce(p.n_dup_windows, 0) / t.n_windows
                ELSE 0.0 END AS dup_frac
    FROM documents d2
    LEFT JOIN totals t ON d2.doc_id = t.doc_id
    LEFT JOIN dup p ON d2.doc_id = p.doc_id
    ORDER BY id
    """,
    "dedup",
    "substring",
)
def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (8-token sliding window) cross-document substring
    duplication audit (operators/dedup.py::ngram_span_stats)."""
    from etl_file_sync_spark.operators.dedup import ngram_span_stats

    d = t(spark, sf_dir, "documents")
    return ngram_span_stats(d, window=8).orderBy("id")


@register(
    "dedup_containment_pairs",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, array_to_string(w[i+1:i+3], ' ') AS s
      FROM d, UNNEST(range(0, greatest(len(w) - 2, 1))) AS u(i)
      WHERE array_to_string(w[i+1:i+3], ' ') <> ''
    ),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_common,
           round(c.n_common / least(sa.n_sh, sb.n_sh), 4) AS containment
    FROM common c
    JOIN sizes sa ON c.id_a = sa.id
    JOIN sizes sb ON c.id_b = sb.id
    WHERE c.n_common / least(sa.n_sh, sb.n_sh) >= 0.8
    ORDER BY id_a, id_b
    """,
    "dedup",
    "contamination",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment (operators/dedup.py::
    containment_pairs) — quote/excerpt/contamination detection that
    symmetric Jaccard misses."""
    from etl_file_sync_spark.operators.dedup import containment_pairs

    d = t(spark, sf_dir, "documents")
    return containment_pairs(d, threshold=0.8).orderBy("id_a", "id_b")


@register(
    "dq_robust_outliers",
    """
    WITH med AS (
      SELECT source, percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med
      FROM documents GROUP BY source
    ),
    dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.med, abs(d.n_chars - m.med) AS adev
      FROM documents d JOIN med m ON d.source = m.source
    ),
    mad AS (
      SELECT source, percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY source
    )
    SELECT v.doc_id, v.source, v.n_chars, CAST(v.med AS BIGINT) AS med,
           CAST(a.mad AS BIGINT) AS mad,
           v.adev > 3.0 * a.mad AS is_outlier
    FROM dev v JOIN mad a ON v.source = a.source
    ORDER BY doc_id
    """,
    "dq",
    "outliers",
)
def dq_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen on document lengths per source
    (operators/profile.py::robust_outliers) — integer-exact medians via
    percentile_disc, no interpolation."""
    from etl_file_sync_spark.operators.profile import robust_outliers

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = robust_outliers(d, "source", "n_chars", k=3.0)
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        F.col("med").cast("long").alias("med"),
        F.col("mad").cast("long").alias("mad"),
        "is_outlier",
    ).orderBy("doc_id")


@register(
    "agg_mode_per_group",
    """
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY source, lang
    ),
    ranked AS (
      SELECT source, lang, cnt,
             row_number() OVER (PARTITION BY source ORDER BY cnt DESC, lang) AS rn
      FROM counts
    )
    SELECT source, lang AS modal_lang, cnt AS n_docs
    FROM ranked WHERE rn = 1 ORDER BY source
    """,
    "aggregation",
    "mode",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent lang per source,
    ties to the lexicographically first value): count + row_number —
    two partial-agg shuffles, no collect, the exact-mode spelling that
    scales where mode() built-ins don't exist."""
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = W.partitionBy("source").orderBy(F.col("cnt").desc(), "lang")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("modal_lang"), F.col("cnt").alias("n_docs"))
        .orderBy("source")
    )


@register(
    "behavior_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(n) AS row_n FROM trans GROUP BY from_type)
    SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
           round(t.n * 1.0 / o.row_n, 4) AS p
    FROM trans t JOIN tot o USING (from_type)
    ORDER BY from_type, to_type
    """,
    "behavior",
    "markov",
    "transition-matrix",
)
def behavior_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (view→click→purchase flows): lead() within (user, time)
    order pairs each event with its successor, one partial-aggregated
    groupBy counts transitions, row-normalized to probabilities. The
    user-keyed window is the same single shuffle sessionization pays; at
    100 TB the matrix itself is |event_types|² rows — broadcast-size
    output from petabyte input, the classic funnel-model build."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.withColumn("next_type", F.lead("event_type").over(w))
    trans = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        trans.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("row_n"), 4).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "behavior_last_touch_attribution",
    """
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    att AS (
      SELECT p.event_id, p.cents,
             (SELECT t.event_type FROM e t
               WHERE t.user_id = p.user_id
                 AND t.event_type IN ('view', 'click')
                 AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
                 AND t.ts >= p.ts - INTERVAL 7 DAY
               ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch
      FROM p
    )
    SELECT coalesce(touch, 'none') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS total_value
    FROM att GROUP BY coalesce(touch, 'none') ORDER BY touch_type
    """,
    "behavior",
    "attribution",
)
def behavior_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    view/click by the same user within 7 days (ties broken by event_id,
    unmatched → 'none'). One per-user event-time window carries the
    last touch struct forward — no self-join, no correlated per-row
    probe; the oracle's LIMIT-1 subquery spelling is equivalent because
    any in-tolerance touch would also be the latest one. Values sum as
    integer cents."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("view", "click"),
            F.struct(F.col("ts").alias("tts"), F.col("event_type").alias("ttype")),
        ),
        ignorenulls=True,
    ).over(w)
    att = (
        e.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "cents",
            F.when(
                F.col("touch").isNotNull()
                & (F.col("touch.tts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
                F.col("touch.ttype"),
            )
            .otherwise("none")
            .alias("touch_type"),
        )
    )
    return (
        att.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum("cents").cast("bigint") / 100.0, 2).alias("total_value"),
        )
        .orderBy("touch_type")
    )


@register(
    "win_cumulative_distinct_users",
    """
    WITH f AS (
      SELECT user_id, CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events GROUP BY user_id
    ),
    d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM f GROUP BY day)
    SELECT CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
    FROM d ORDER BY day
    """,
    "behavior",
    "window",
    "distinct-count",
)
def win_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day via the first-seen trick: a
    running COUNT DISTINCT is a re-scan per day naively, but distinct
    users up to day D = users whose FIRST event is ≤ D — one groupBy
    per user, one per day, then a running sum over the calendar-bounded
    daily frame."""
    f = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").cast("date").alias("day"))
    )
    d = f.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        d.withColumn("cum_users", F.sum("new_users").over(w).cast("bigint"))
        .select(F.col("day").cast("timestamp").alias("day"), "new_users", "cum_users")
        .orderBy("day")
    )


@register(
    "behavior_top_paths",
    """
    WITH e AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, coalesce(string_agg(event_type, '>' ORDER BY rn), '') AS path
      FROM e WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 10
    """,
    "behavior",
    "paths",
)
def behavior_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 opening event paths (first three events per user, ties by
    event_id): the per-user window is naturally partitioned, path
    assembly is an array_sort over at most three structs, and the final
    top-10 is a TakeOrdered — no global sort of the path table."""
    e = t(spark, sf_dir, "events").withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    p = (
        e.filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


@register(
    "behavior_inter_event_gaps",
    """
    WITH s AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           quantile_cont(CAST(gap_us AS BIGINT), 0.5) AS med_gap_us,
           quantile_cont(CAST(gap_us AS BIGINT), 0.9) AS p90_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM s WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    "behavior",
    "window",
    "percentile",
)
def behavior_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell time per event type: each event's gap to the
    SAME USER's previous event (event-time lag window, event_id
    tiebreak), summarized as exact median/p90/max MICROSECONDS per type
    of the later event (med_gap_us/p90_gap_us/max_gap_us) — the cadence
    profile a sessionization threshold is tuned against. The window partitions by user (shuffle on user_id,
    bounded state per user); gaps are exact integer MICROSECONDS
    (sub-second components truncate differently in any seconds
    spelling), so the interpolated percentiles agree bit-for-bit."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.expr("percentile(gap_us, 0.5)").alias("med_gap_us"),
            F.expr("percentile(gap_us, 0.9)").alias("p90_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "behavior_streak_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len
      FROM isl GROUP BY 1, 2
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(streak_len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    ORDER BY longest_streak DESC, user_id LIMIT 20
    """,
    "behavior",
    "gaps-islands",
    "window",
)
def behavior_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day streaks per user — the classic
    gaps-and-islands idiom: distinct (user, day), then day minus the
    per-user row_number is constant exactly within a run of consecutive
    days, so one groupBy on that island key yields every streak without
    self-joins or recursive logic. Top-20 users by longest streak
    (user_id tiebreak → deterministic LIMIT). Windows partition by
    user_id (bounded per-user state, shuffles once on the same key the
    groupBys reuse); TakeOrderedAndProject caps the final sort."""
    e = t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    isl = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(W.partitionBy("user_id").orderBy("day"))).alias(
            "island"
        ),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len")
    )
    return (
        streaks.groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(
            F.sum("streak_len").cast("bigint").alias("n_active_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.max("streak_len").cast("bigint").alias("longest_streak"),
        )
        .orderBy(F.col("longest_streak").desc(), "user_id")
        .limit(20)
    )


@register(
    "behavior_event_regex",
    """
    WITH seq AS (
      SELECT user_id,
             string_agg(CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        ELSE 'o' END, '' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT user_id, length(path) AS n_events,
             CASE WHEN regexp_matches(path, 'v[^p]*c[^p]*p') THEN TRUE ELSE FALSE END AS funnel_hit,
             length(path) - length(regexp_replace(path, 'vc', '', 'g')) AS vc_pairs_x2,
             CASE WHEN regexp_matches(path, 'p.*p') THEN TRUE ELSE FALSE END AS repeat_buyer
      FROM seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN funnel_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel_users,
           CAST(sum(CASE WHEN repeat_buyer THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat_buyers,
           CAST(sum(vc_pairs_x2 // 2) AS BIGINT) AS n_view_click_adjacencies,
           CAST(max(n_events) AS BIGINT) AS max_session_len
    FROM m
    """,
    "behavior",
    "sequence-pattern",
    "regex",
)
def behavior_event_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern mining without the SQL
    extension: each user's event history collapses to a compact
    symbol string (one char per event, ts+event_id ordered — the
    deterministic ordered-string-agg idiom), and ordinary regexes do
    the pattern work: view→click→purchase funnels with no intervening
    purchase (`v[^p]*c[^p]*p`), repeat buyers (`p.*p`), and adjacent
    view→click counts via replace-length arithmetic. One groupBy on
    user_id (the same shuffle key every behavior query reuses);
    per-user strings are session-bounded, and the regex pass is a
    narrow map over the aggregate — the plan a 100 TB event log wants.
    Spark spells the ordered agg as array_sort(collect_list(struct))
    → transform → concat_ws, bit-identical to the oracle's
    string_agg(... ORDER BY)."""
    e = t(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("o")
    )
    seq = (
        e.select("user_id", F.struct("ts", "event_id", sym.alias("s")).alias("ev"))
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("ev")), lambda x: x["s"])
            ).alias("path")
        )
    )
    m = seq.select(
        F.length("path").alias("n_events"),
        F.col("path").rlike("v[^p]*c[^p]*p").alias("funnel_hit"),
        ((F.length("path") - F.length(F.regexp_replace("path", "vc", ""))) / 2)
        .cast("bigint")
        .alias("vc_pairs"),
        F.col("path").rlike("p.*p").alias("repeat_buyer"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("funnel_hit"), 1).otherwise(0)).cast("bigint").alias("n_funnel_users"),
        F.sum(F.when(F.col("repeat_buyer"), 1).otherwise(0)).cast("bigint").alias("n_repeat_buyers"),
        F.sum("vc_pairs").cast("bigint").alias("n_view_click_adjacencies"),
        F.max("n_events").cast("bigint").alias("max_session_len"),
    )


_MARKOV_ITERS = 80

# Admission cap for the driver-side Markov solves. The right quantity
# to cap is the ALPHABET (distinct observed states k): kernel CELLS are
# observed (from, to) pairs, which grow with corpus density at a fixed
# alphabet, so a cell cap would reject a legitimate ~300-type taxonomy
# on a dense corpus (round-7 ADVICE). The pull stays bounded either
# way: collect at most k_max^2 + 1 cells (a kernel over a sane
# alphabet can never exceed k_max^2 cells, so hitting the limit itself
# proves the alphabet is poisoned), then derive k from the pulled rows
# and fail FAST with a clear admission error when k > k_max — an
# alphabet with embedded IDs (the classic cardinality-explosion
# incident) must error clearly, never OOM the driver. The check rides
# the same job as the collect (limit(k_max^2+1), no extra pass); the
# worst admissible pull is 90k small rows (~ a few MB).
_MAX_MARKOV_STATES = 300
_MAX_MARKOV_CELLS = _MAX_MARKOV_STATES * _MAX_MARKOV_STATES


def _collect_kernel(df, what: str) -> list:
    rows = df.limit(_MAX_MARKOV_CELLS + 1).collect()
    k = len({r["f"] for r in rows} | {r["t"] for r in rows})
    if len(rows) > _MAX_MARKOV_CELLS or k > _MAX_MARKOV_STATES:
        raise ValueError(
            f"{what}: observed event-type alphabet has {k} states "
            f"(admission cap {_MAX_MARKOV_STATES}) — not a bounded "
            "taxonomy (embedded IDs?); cap or bucket event_type "
            "upstream before Markov analytics"
        )
    return rows


@register(
    "behavior_markov_absorption",
    f"""
    WITH RECURSIVE ord AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    tr AS (
      SELECT event_type AS f, next_type AS t, CAST(count(*) AS BIGINT) AS c
      FROM ord WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    outs AS (SELECT f, CAST(sum(c) AS BIGINT) AS tot FROM tr GROUP BY f),
    states AS (
      SELECT DISTINCT f AS s FROM tr UNION SELECT DISTINCT t AS s FROM tr
    ),
    p AS (
      -- augmented kernel: target-only states (an absorbing type that
      -- never transitions out, or a sink) get a self-loop so every
      -- state survives each group-by iteration; the CASE override
      -- below pins the absorbing values regardless
      SELECT tr.f, tr.t, tr.c * 1.0 / outs.tot AS p
      FROM tr JOIN outs ON tr.f = outs.f
      UNION ALL
      SELECT s, s, 1.0 FROM states WHERE s NOT IN (SELECT f FROM outs)
    ),
    jac AS (
      -- one reference to the working table per recursive step (DuckDB
      -- contract): h_new(f) = sum over source-targets of p(f,t)*h(t),
      -- absorbing states overridden after the group-by
      -- anchor h MUST be DOUBLE: a bare 1.0 literal types the UNION
      -- column DECIMAL(2,1) and every iteration silently rounds
      SELECT 0 AS it, s,
             CAST(CASE WHEN s = 'error' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS h
      FROM states
      UNION ALL
      SELECT jac.it + 1 AS it, p.f AS s,
             CAST(CASE WHEN p.f = 'error' THEN 1.0
                       WHEN p.f = 'purchase' THEN 0.0
                       ELSE sum(p.p * jac.h) END AS DOUBLE) AS h
      FROM jac JOIN p ON p.t = jac.s
      WHERE jac.it < {_MARKOV_ITERS}
      GROUP BY jac.it, p.f
    )
    SELECT s AS state, floor(h * 1e6) / 1e6 AS p_error_before_purchase
    FROM jac WHERE it = {_MARKOV_ITERS} ORDER BY s
    """,
    "behavior",
    "markov",
)
def behavior_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov-chain risk: from each event type, the
    probability of reaching 'error' before 'purchase' under the
    empirical per-user transition kernel (consecutive-event pairs,
    ordered by ts/event_id within user). The kernel is computed
    DISTRIBUTED (the corpus-scale groupBy); the hitting probabilities
    solve (I-Q)h = b on the observed k x k kernel — collected as a
    k-row metadata pull and iterated 80 Jacobi steps driver-side with
    float64, exactly mirroring the oracle's recursive-CTE iteration
    (same update, same iteration count; 80 steps contract the spectral
    residual far below the round(6) grain — both engines' k-term dot
    products may associate differently, the documented double-sum
    envelope). The driver pull is bounded by an explicit ADMISSION cap
    (_collect_kernel, fail-fast over 300 distinct states — the cap is
    on the ALPHABET k, not on kernel cells, so a dense corpus over a
    legitimate taxonomy always passes), not by trusting the producer's
    alphabet: a healthy event taxonomy is tens of types, and an
    ID-poisoned alphabet must error clearly, never OOM the driver.
    Target-only sink types (possible once the alphabet is open) keep
    h = 0.0 via the float-typed empty sum. The hitting probabilities
    are reported at the FLOOR grain (floor(h*1e6)/1e6) in both the
    driver solve and the oracle's final SELECT: Python round() is
    half-even while DuckDB round() is half-away-from-zero, so a
    probability landing exactly on a .5 at the 6th decimal (possible
    with dyadic kernels, e.g. p=0.5 chains) would diverge by 1e-6
    under round — floor of an identical double is identical
    everywhere (same convention as scalar_try_functions' safe_div)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.withColumn("next_type", F.lead("event_type").over(w))
    tr = (
        ordered.where(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("f"), F.col("next_type").alias("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    outs = tr.groupBy("f").agg(F.sum("c").cast("bigint").alias("tot"))
    p_rows = _collect_kernel(
        tr.join(outs, "f").select(
            "f", "t", (F.col("c") * F.lit(1.0) / F.col("tot")).alias("p")
        ),
        "behavior_markov_absorption",
    )  # kernel cells = observed (from, to) pairs — admission-capped pull
    # every source AND target is a state: a target-only absorbing type
    # must keep its pinned value visible to the iteration
    states = sorted({r["f"] for r in p_rows} | {r["t"] for r in p_rows})
    kernel = {(r["f"], r["t"]): r["p"] for r in p_rows}
    h = {s: (1.0 if s == "error" else 0.0) for s in states}
    for _ in range(_MARKOV_ITERS):
        nxt = {}
        for s in states:
            if s == "error":
                nxt[s] = 1.0
            elif s == "purchase":
                nxt[s] = 0.0
            else:
                # empty sum = 0.0: a sink transient stays at 0 (matches
                # the oracle's self-loop augmentation). The 0.0 start
                # matters: bare sum() of an empty generator is int 0,
                # which survives every iteration and createDataFrame
                # rejects for DoubleType — sink transients only exist
                # on alphabets with target-only types (highcard tier).
                nxt[s] = sum(
                    (kernel[(s, u)] * h[u] for u in states if (s, u) in kernel),
                    0.0,
                )
        h = nxt
    return (
        local_rows_df(
            e.sparkSession,
            [(s, math.floor(h[s] * 1e6) / 1e6) for s in states],
            "state string, p_error_before_purchase double",
        ).orderBy("state")
    )


@register(
    "behavior_dau_stickiness",
    """
    WITH du AS (
      SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
      FROM events
    ),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
    fan AS (
      SELECT CAST(du.day + o.range * INTERVAL 1 DAY AS DATE) AS wday,
             du.user_id
      FROM du, range(7) o
    ),
    wau AS (
      SELECT wday AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      FROM fan GROUP BY wday
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
           round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
    "behavior",
    "distinct-count",
    "window",
)
def behavior_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio per
    active day. Rolling DISTINCT users can't ride a plain window (no
    distinct-over-range), so each (day, user) activity row FANS OUT to
    the 7 future days whose trailing window it belongs to, and WAU is a
    plain count-distinct per fanned day — a bounded 7x row expansion
    (the standard rolling-distinct trick) instead of a 7-way self-join.
    Emitted days are the observed active days only (join back to DAU),
    so early days carry partial windows by definition."""
    du = (
        t(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    offsets = spark.range(7).select(F.col("id").cast("int").alias("o"))
    fan = du.crossJoin(F.broadcast(offsets)).select(
        F.date_add(F.col("day"), F.col("o")).alias("wday"), "user_id"
    )
    wau = fan.groupBy(F.col("wday").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "funnel_time_to_convert",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_view,
             min(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT CAST(first_purchase - first_view AS BIGINT) AS delta_us
      FROM f
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_viewers
      FROM f WHERE first_view IS NOT NULL
    )
    SELECT base.n_viewers,
           CAST(count(*) AS BIGINT) AS n_converters,
           round(count(*) * 1.0 / base.n_viewers, 6) AS conversion_rate,
           round(quantile_cont(delta_us, 0.5) / 3600e6, 4) AS med_hours,
           round(quantile_cont(delta_us, 0.9) / 3600e6, 4) AS p90_hours
    FROM conv, base GROUP BY base.n_viewers
    """,
    "behavior",
    "percentile",
    "decision",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, first view to first
    purchase (converters = viewers whose first purchase is at or after
    their first view), with EXACT median/p90 hours and the viewer
    conversion rate — the latency companion to funnel_user_conversion.
    Timestamps reduce to exact epoch-microsecond BIGINTs before the
    percentile interpolation, so both engines interpolate identical
    integers (the agg_percentiles_exact contract); the percentile
    shuffle carries per-partition digests, not rows."""
    e = t(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros(F.col("ts")))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros(F.col("ts")))
        ).alias("first_purchase"),
    )
    conv = f.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).cast("bigint").alias("delta_us"))
    base = f.where(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewers")
    )
    return (
        conv.crossJoin(F.broadcast(base))  # 1-row viewer-count dimension
        .groupBy("n_viewers")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_converters"),
            F.round(F.count(F.lit(1)) * 1.0 / F.first("n_viewers"), 6).alias(
                "conversion_rate"
            ),
            F.round(F.percentile("delta_us", F.lit(0.5)) / 3600e6, 4).alias(
                "med_hours"
            ),
            F.round(F.percentile("delta_us", F.lit(0.9)) / 3600e6, 4).alias(
                "p90_hours"
            ),
        )
        .select("n_viewers", "n_converters", "conversion_rate", "med_hours", "p90_hours")
    )


@register(
    "ops_error_budget_burn",
    """
    WITH d AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS events,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS errors
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day, events, errors,
             sum(events) OVER (ORDER BY day) AS cum_events,
             sum(errors) OVER (ORDER BY day) AS cum_errors
      FROM d
    )
    SELECT CAST(day AS TIMESTAMP) AS day, events, errors,
           round(errors * 1.0 / events, 6) AS error_rate,
           round(cum_errors * 1.0 / (0.25 * cum_events), 6) AS budget_burn,
           cum_errors * 4 > cum_events AS budget_exhausted
    FROM cum ORDER BY day
    """,
    "behavior",
    "decision",
    "dq",
)
def ops_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-down: daily error rate against a 75%
    non-error objective (the events table carries ~20% organic errors,
    so the budget is 25% of traffic), with the cumulative
    budget-consumed fraction and an exhaustion flag — the SRE companion
    to dq_freshness_sla. The corpus-scale pass is one daily groupBy;
    the running sums ride the calendar-bounded daily frame, and the
    exhaustion verdict is exact integer arithmetic (cum_errors*4 >
    cum_events), immune to division rounding."""
    d = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("errors"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy("day")  # calendar-bounded daily frame
    cum = d.withColumn("cum_events", F.sum("events").over(w)).withColumn(
        "cum_errors", F.sum("errors").over(w)
    )
    return cum.select(
        F.col("day").cast("timestamp").alias("day"),
        "events",
        "errors",
        F.round(F.col("errors") * 1.0 / F.col("events"), 6).alias("error_rate"),
        F.round(F.col("cum_errors") * 1.0 / (0.25 * F.col("cum_events")), 6).alias(
            "budget_burn"
        ),
        (F.col("cum_errors") * 4 > F.col("cum_events")).alias("budget_exhausted"),
    ).orderBy("day")


@register(
    "behavior_markov_attribution",
    f"""
    WITH RECURSIVE r1 AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP)
                 END) OVER (PARTITION BY user_id) AS conv_ts
      FROM events
    ),
    r2 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts = conv_ts
                    THEN event_id END) OVER (PARTITION BY user_id) AS conv_id
      FROM r1
    ),
    j AS (
      SELECT user_id, event_type, ts, event_id,
             conv_ts IS NOT NULL AS converts
      FROM r2
      WHERE conv_ts IS NULL OR ts < conv_ts
         OR (ts = conv_ts AND event_id <= conv_id)
    ),
    seq AS (
      SELECT user_id, event_type, converts,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS next_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
      FROM j
    ),
    pairs AS (
      SELECT 'start' AS f, event_type AS t FROM seq WHERE rn = 1
      UNION ALL
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL
      UNION ALL
      SELECT event_type, CASE WHEN converts THEN NULL ELSE 'null' END
      FROM seq WHERE next_type IS NULL AND NOT converts
    ),
    tr AS (
      SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM pairs
      WHERE t IS NOT NULL GROUP BY f, t
    ),
    outs AS (SELECT f, CAST(sum(c) AS BIGINT) AS tot FROM tr GROUP BY f),
    kern0 AS (
      SELECT tr.f, tr.t, tr.c * 1.0 / outs.tot AS p
      FROM tr JOIN outs ON tr.f = outs.f
    ),
    -- self-loop augmentation: target-only states (purchase, null) hold
    -- their pinned value through the joined-sum update. kernel, states
    -- and scen are MATERIALIZED: DuckDB otherwise inlines them into
    -- every step of the recursive jac CTE (~9 GB RSS at sf0.001). The
    -- step's sum runs in k.t order: the parallel plan would otherwise
    -- add in varying order and flip floor(x * 1e6) at exact boundaries
    kernel AS MATERIALIZED (
      SELECT f, t, p FROM kern0
      UNION ALL
      SELECT t, t, 1.0 FROM (SELECT DISTINCT t FROM kern0
                             WHERE t NOT IN (SELECT f FROM kern0))
    ),
    states AS MATERIALIZED (SELECT DISTINCT f AS s FROM kernel),
    chans AS (
      SELECT s AS ch FROM states
      WHERE s NOT IN ('start', 'purchase', 'null')
    ),
    scen AS MATERIALIZED (
      SELECT 'base' AS scenario, CAST(NULL AS VARCHAR) AS removed
      UNION ALL SELECT ch, ch FROM chans
    ),
    jac AS (
      SELECT scen.scenario, scen.removed, states.s,
             CAST(CASE WHEN states.s = 'purchase' THEN 1.0 ELSE 0.0 END
               AS DOUBLE) AS h,
             CAST(0 AS BIGINT) AS it
      FROM scen, states
      UNION ALL
      SELECT jac.scenario, jac.removed, k.f AS s,
             CAST(sum(CASE WHEN jac.removed IS NOT NULL AND k.t = jac.removed
                      THEN 0.0 ELSE k.p * jac.h END ORDER BY k.t) AS DOUBLE) AS h,
             jac.it + 1
      FROM jac JOIN kernel k ON k.t = jac.s
      WHERE jac.it < {_MARKOV_ITERS}
      GROUP BY jac.scenario, jac.removed, k.f, jac.it
    ),
    fin AS (
      SELECT scenario, s, h FROM jac WHERE it = {_MARKOV_ITERS}
    ),
    base AS (SELECT h AS p_base FROM fin WHERE scenario = 'base' AND s = 'start'),
    eff AS (
      SELECT fin.scenario AS channel, base.p_base,
             fin.h AS conversion_without,
             greatest(base.p_base - fin.h, 0.0) AS removal_effect
      FROM fin, base WHERE fin.scenario <> 'base' AND fin.s = 'start'
    ),
    tot_eff AS (SELECT sum(removal_effect) AS te FROM eff)
    SELECT eff.channel,
           floor(eff.p_base * 1e6) / 1e6 AS base_conversion,
           floor(eff.conversion_without * 1e6) / 1e6 AS conversion_without,
           floor(eff.removal_effect * 1e6) / 1e6 AS removal_effect,
           floor(CASE WHEN tot_eff.te > 0
                 THEN eff.removal_effect / tot_eff.te END * 1e6) / 1e6
             AS attribution_share
    FROM eff, tot_eff ORDER BY eff.channel
    """,
    "behavior",
    "markov",
    "decision",
)
def behavior_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect multi-touch attribution (Anderl et al.):
    per-user journeys truncated at the FIRST purchase (start -> events
    -> purchase, or -> null for non-converters) define the empirical
    transition kernel; base conversion is the absorption probability
    from 'start'; each channel's removal effect is the conversion drop
    when every transition INTO that channel is redirected to null, and
    attribution shares normalize the drops — the causal(ish) upgrade
    over behavior_last_touch_attribution. The kernel is computed
    DISTRIBUTED (two user-partitioned windows + one groupBy); the
    per-scenario absorption solves run driver-side on the enum-BOUNDED
    kernel with the same 80-step Jacobi update and self-loop
    augmentation as behavior_markov_absorption, which the oracle
    replays as one scenario-dimensioned recursive CTE. 5-term double
    sums sit in the documented associativity envelope; reporting is at
    the FLOOR grain (floor(x*1e6)/1e6) in both engines — Python round
    is half-even, DuckDB round half-away-from-zero, so a .5 at the 6th
    decimal would diverge under round (same convention as
    behavior_markov_absorption / safe_div)."""
    e = t(spark, sf_dir, "events").where(
        # rows with no channel or no event time carry no path information;
        # a NULL state would otherwise poison the driver-side kernel sort
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    wu = W.partitionBy("user_id")
    r1 = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .over(wu)
        .alias("conv_ts"),
    )
    r2 = r1.withColumn(
        "conv_id",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") == F.col("conv_ts")),
                F.col("event_id"),
            )
        ).over(wu),
    )
    j = r2.where(
        F.col("conv_ts").isNull()
        | (F.col("ts") < F.col("conv_ts"))
        | ((F.col("ts") == F.col("conv_ts")) & (F.col("event_id") <= F.col("conv_id")))
    ).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.col("conv_ts").isNotNull().alias("converts"),
    )
    ws = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = j.select(
        "user_id",
        "event_type",
        "converts",
        F.lead("event_type").over(ws).alias("next_type"),
        F.row_number().over(ws).alias("rn"),
    )
    starts = seq.where(F.col("rn") == 1).select(
        F.lit("start").alias("f"), F.col("event_type").alias("t")
    )
    mids = seq.where(F.col("next_type").isNotNull()).select(
        F.col("event_type").alias("f"), F.col("next_type").alias("t")
    )
    ends = seq.where(F.col("next_type").isNull() & ~F.col("converts")).select(
        F.col("event_type").alias("f"), F.lit("null").alias("t")
    )
    tr = (
        starts.unionAll(mids)
        .unionAll(ends)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    outs = tr.groupBy("f").agg(F.sum("c").cast("bigint").alias("tot"))
    rows = _collect_kernel(
        tr.join(outs, "f").select(
            "f", "t", (F.col("c") * 1.0 / F.col("tot")).alias("p")
        ),
        "behavior_markov_attribution",
    )  # kernel cells = observed (from, to) pairs — admission-capped pull
    kernel = {(r["f"], r["t"]): r["p"] for r in rows}
    _attr_schema = (
        "channel string, base_conversion double, conversion_without double,"
        " removal_effect double, attribution_share double"
    )
    if not kernel:  # no events at all: no paths, no attribution
        return e.sparkSession.createDataFrame([], _attr_schema)
    sources = {f for f, _ in kernel}
    targets = {t_ for _, t_ in kernel}
    for s in targets - sources:  # self-loop augmentation
        kernel[(s, s)] = 1.0
    states = sorted(sources | targets)
    chans = [s for s in states if s not in ("start", "purchase", "null")]

    def solve(removed: str | None) -> float:
        h = {s: (1.0 if s == "purchase" else 0.0) for s in states}
        for _ in range(_MARKOV_ITERS):
            h = {
                s: sum(
                    0.0 if (removed is not None and u == removed) else kernel[(s, u)] * h[u]
                    for u in states
                    if (s, u) in kernel
                )
                for s in states
            }
        return h["start"]

    p_base = solve(None)
    effects = {c: max(p_base - solve(c), 0.0) for c in chans}
    te = sum(effects.values())
    def grain(x: float) -> float:
        # FLOOR grain, not round(x, 6): Python round is half-even,
        # DuckDB round is half-away-from-zero — a .5 at the 6th decimal
        # (dyadic kernels) would diverge by 1e-6; floor of an identical
        # nonnegative double is identical everywhere.
        return math.floor(x * 1e6) / 1e6

    out = [
        (
            c,
            grain(p_base),
            grain(p_base - effects[c] if effects[c] > 0 else solve(c)),
            grain(effects[c]),
            grain(effects[c] / te) if te > 0 else None,
        )
        for c in sorted(chans)
    ]
    return local_rows_df(e.sparkSession, out, _attr_schema).orderBy("channel")


@register(
    "behavior_new_vs_returning",
    """
    WITH du AS (
      SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
      FROM events
    ),
    first_seen AS (SELECT user_id, min(day) AS d0 FROM du GROUP BY user_id)
    SELECT CAST(du.day AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN du.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN du.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users,
           round(sum(CASE WHEN du.day = f.d0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS pct_new
    FROM du JOIN first_seen f USING (user_id)
    GROUP BY du.day ORDER BY day
    """,
    "behavior",
    "cohort",
    "window",
)
def behavior_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: a user is NEW on their first active
    day and RETURNING after — the day-one health chart next to
    behavior_dau_stickiness (a product whose pct_new never falls is all
    churn, one whose pct_new hits zero has stopped acquiring). One
    distinct pass, one per-user min, one user-keyed join back; all
    counts exact integers."""
    du = (
        t(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    first_seen = du.groupBy("user_id").agg(F.min("day").alias("d0"))
    new = F.when(F.col("day") == F.col("d0"), 1).otherwise(0)
    ret = F.when(F.col("day") > F.col("d0"), 1).otherwise(0)
    return (
        du.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("dau"),
            F.sum(new).cast("bigint").alias("new_users"),
            F.sum(ret).cast("bigint").alias("returning_users"),
            F.round(F.sum(new) * 1.0 / F.count(F.lit(1)), 6).alias("pct_new"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "new_users",
            "returning_users",
            "pct_new",
        )
        .orderBy("day")
    )
