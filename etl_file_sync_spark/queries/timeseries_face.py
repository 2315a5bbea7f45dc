"""Time-series queries over `events`: gap-fill interpolation, EWMA
smoothing, rolling z-score anomalies. All integer-cent daily grain so the
DuckDB oracles reproduce every value (windowed double sums differ between
engines in final ulps; integer cents do not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df

from etl_file_sync_spark.operators import timeseries as TS
from etl_file_sync_spark.operators.rankstats import window_midrank
from etl_file_sync_spark.queries.inputs import daily_cents, monthly_cents, revenue_cents
from etl_file_sync_spark.queries.registry import register, t

_DAILY_TYPE = """
    daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
"""


def _observed_daily(spark: SparkSession, sf_dir: str, out_col: str) -> DataFrame:
    """Daily revenue cents without the unobserved (all-NULL) days: the
    series every daily statistic here runs on."""
    return daily_cents(spark, sf_dir, out_col).where(F.col(out_col).isNotNull())


@register(
    "ts_ewma_daily",
    f"""
    WITH {_DAILY_TYPE},
    g AS (
      SELECT key, day, cents,
             CAST(row_number() OVER (PARTITION BY key ORDER BY day) AS INTEGER) AS rn
      FROM daily
    ),
    s AS (
      SELECT key, day, cents, rn,
             power(0.8, rn) * sum(
               CASE WHEN rn = 1 THEN cents / 0.8
                    ELSE cents * 0.2 / power(0.8, rn) END
             ) OVER (PARTITION BY key ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ewma_cents
      FROM g
    )
    SELECT key AS event_type, CAST(day AS TIMESTAMP) AS day, cents,
           round(ewma_cents / 100.0, 2) AS ewma_value
    FROM s ORDER BY event_type, day
    """,
    "timeseries",
    "ewma",
    "window",
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α=0.2) of daily revenue per event type via the closed-form
    running-sum window (operators/timeseries.py) — one shuffle to daily
    grain, windows reuse the same partitioning, no sequential scan."""
    ev = t(spark, sf_dir, "events")
    series = TS.daily_cents(ev, "event_type")
    return (
        TS.ewma(series, alpha=0.2)
        .select(
            F.col("key").alias("event_type"),
            F.col("day").cast("timestamp").alias("day"),
            "cents",
            F.round(F.col("ewma_cents") / 100.0, 2).alias("ewma_value"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "ts_rolling_zscore",
    f"""
    WITH {_DAILY_TYPE},
    z AS (
      SELECT key, day, cents,
             avg(cents) OVER w AS mean_w,
             stddev_samp(cents) OVER w AS sd_w,
             count(*) OVER w AS n_w
      FROM daily
      WINDOW w AS (PARTITION BY key ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT key AS event_type, CAST(day AS TIMESTAMP) AS day, cents,
           round(CASE WHEN n_w >= 3 AND sd_w > 0
                      THEN (cents - mean_w) / sd_w END, 4) AS z,
           CASE WHEN n_w >= 3 AND sd_w > 0
                THEN abs((cents - mean_w) / sd_w) > 2.0 END AS is_anomaly
    FROM z ORDER BY event_type, day
    """,
    "timeseries",
    "anomaly",
    "window",
)
def ts_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day z-score anomaly flags on daily revenue per event
    type; z is null until 3 points exist (integer-cent inputs keep the
    float window math engine-identical to 1e-12)."""
    ev = t(spark, sf_dir, "events")
    series = TS.daily_cents(ev, "event_type")
    return (
        TS.rolling_zscore(series, window_days=7, z_thresh=2.0)
        .select(
            F.col("key").alias("event_type"),
            F.col("day").cast("timestamp").alias("day"),
            "cents",
            F.round("z", 4).alias("z"),
            "is_anomaly",
        )
        .orderBy("event_type", "day")
    )


@register(
    "ts_gapfill_interpolate",
    """
    WITH daily AS (
      -- bounded reporting window (the gapfill contract): a corrupt
      -- timestamp outside it cannot inflate the spine
      SELECT user_id AS key, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 30
        AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-31'
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    span AS (SELECT DATE '2024-01-01' AS d0, DATE '2024-01-31' AS d1),
    spine AS (
      SELECT k.key, CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT DISTINCT key FROM daily) k CROSS JOIN span s
    ),
    dense AS (
      SELECT sp.key, sp.day, d.cents FROM spine sp
      LEFT JOIN daily d ON sp.key = d.key AND sp.day = d.day
    ),
    nbr AS (
      SELECT key, day, cents,
             last_value(cents IGNORE NULLS) OVER wp AS prev_c,
             last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS prev_d,
             first_value(cents IGNORE NULLS) OVER wn AS next_c,
             first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS next_d
      FROM dense
      WINDOW wp AS (PARTITION BY key ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY key ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key AS user_id, CAST(day AS TIMESTAMP) AS day, cents,
           round(COALESCE(
             CAST(cents AS DOUBLE),
             prev_c + (next_c - prev_c)
               * (date_diff('day', prev_d, day) * 1.0 / date_diff('day', prev_d, next_d)),
             CAST(prev_c AS DOUBLE), CAST(next_c AS DOUBLE)), 2) AS filled_cents,
           cents IS NULL AS is_interpolated
    FROM nbr ORDER BY user_id, day
    """,
    "timeseries",
    "gapfill",
    "interpolation",
)
def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify per-user daily revenue onto the declared reporting window
    (generated sequence spine — no calendar table) and linearly
    interpolate interior gaps; edges fall back to nearest observed
    value. ~45% of the (user, day) cells are absent at this SF, so the
    interpolation path is genuinely exercised. The window is explicit
    (TimescaleDB-style gapfill contract): one corrupt 1970/2262
    timestamp must not inflate the spine 4,000x (time-edge tier)."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    series = TS.daily_cents(ev, "user_id")
    return (
        TS.gapfill_interpolate(
            series, start=TS.EVENTS_REPORT_START, end=TS.EVENTS_REPORT_END
        )
        .select(
            F.col("key").alias("user_id"),
            F.col("day").cast("timestamp").alias("day"),
            "cents",
            "filled_cents",
            "is_interpolated",
        )
        .orderBy("user_id", "day")
    )


_DAILY_REV = """
    daily AS (
      -- a day whose every price is NULL has no observed revenue: it
      -- leaves the series in both engines (sum over all-NULL -> NULL)
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
      HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) IS NOT NULL
    )
"""


@register(
    "ts_autocorrelation",
    f"""
    WITH {_DAILY_REV},
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM daily),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT l.lag, a.cents AS x, b.cents AS y
      FROM r a JOIN lags l ON true JOIN r b ON a.rn = b.rn + l.lag
    ),
    m AS (SELECT lag, count(*) AS n, avg(x) AS mx, avg(y) AS my FROM pairs GROUP BY lag),
    c AS (
      SELECT p.lag,
             sum((p.x - m.mx) * (p.y - m.my)) AS sxy,
             sum((p.x - m.mx) * (p.x - m.mx)) AS sxx,
             sum((p.y - m.my) * (p.y - m.my)) AS syy
      FROM pairs p JOIN m ON p.lag = m.lag GROUP BY p.lag
    )
    SELECT c.lag, CAST(m.n AS BIGINT) AS n_pairs,
           round(c.sxy / sqrt(c.sxx * c.syy), 6) AS acf
    FROM c JOIN m ON c.lag = m.lag ORDER BY c.lag
    """,
    "timeseries",
    "autocorrelation",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1-7) of daily order revenue. The raw table
    reduces to the calendar-bounded daily frame (a few thousand rows at
    ANY corpus scale) before any window runs, so the row_number window
    and the lag self-join are free; revenue is integer cents so the
    paired co-moments are ulp-aligned with the oracle's identical
    two-pass centered algebra."""
    from pyspark.sql import Window as W

    daily = _observed_daily(spark, sf_dir, "cents")
    r = daily.withColumn("rn", F.row_number().over(W.orderBy("day")))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = r.select(F.col("rn").alias("rn_a"), F.col("cents").alias("x"))
    b = r.select(F.col("rn").alias("rn_b"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))  # 7-row lag dimension
        .join(b, F.col("rn_a") == F.col("rn_b") + F.col("lag"))
        .select("lag", "x", "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    c = (
        pairs.join(F.broadcast(m), "lag")
        .groupBy("lag")
        .agg(
            F.first("n_pairs").alias("n_pairs"),
            F.sum(dx * dy).alias("sxy"),
            F.sum(dx * dx).alias("sxx"),
            F.sum(dy * dy).alias("syy"),
        )
    )
    return c.select(
        "lag",
        "n_pairs",
        F.round(F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 6).alias("acf"),
    ).orderBy("lag")


@register(
    "ts_cusum_changepoint",
    f"""
    WITH {_DAILY_REV},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS total FROM daily),
    dev AS (
      SELECT day,
             sum(CAST(cents AS HUGEINT) * (SELECT n FROM tot)) OVER (ORDER BY day)
               - CAST(row_number() OVER (ORDER BY day) AS HUGEINT)
                 * (SELECT total FROM tot) AS d
      FROM daily
    ),
    m AS (SELECT max(abs(d)) AS md FROM dev)
    SELECT (SELECT n FROM tot) AS n_days,
           CAST((SELECT min(day) FROM dev WHERE abs(d) = m.md) AS TIMESTAMP) AS cp_day,
           round(m.md / (100.0 * (SELECT n FROM tot)), 4) AS max_cusum
    FROM m
    """,
    "timeseries",
    "changepoint",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint of daily order revenue: the cumulative
    deviation n*S_k - k*total stays in exact BIGINT cents (one terminal
    division to dollars), so the argmax day is deterministic. Windows
    run on the calendar-bounded daily frame only; the raw orders table
    sees nothing but a partial-aggregated groupBy."""
    from pyspark.sql import Window as W

    daily = (
        _observed_daily(spark, sf_dir, "cents")
        .cache()  # 2 consumers (totals + cumulative branch): one orders scan
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    dev = (
        daily.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .withColumn("k", F.row_number().over(W.orderBy("day")))
        # n*S_k - k*total scales like days * corpus-revenue: at 100 TB
        # daily revenue the BIGINT spelling sits within ~4x of wrapping,
        # so the cross-multiply accumulates in exact DECIMAL instead
        .withColumn(
            "d",
            F.sum(
                F.col("cents").cast("decimal(18,0)") * F.col("n").cast("decimal(18,0)")
            ).over(w)
            - F.col("k").cast("decimal(18,0)") * F.col("total").cast("decimal(18,0)"),
        )
    )
    peak = dev.agg(
        F.max(F.struct(F.abs(F.col("d")).alias("ad"), (-F.unix_date(F.col("day"))).alias("nd"))).alias("s"),
    )
    # n_days from the always-1-row tot aggregate (the oracle's scalar
    # subquery shape), never a first() over the possibly-empty frame
    best = tot.join(F.broadcast(peak), F.lit(True), "left")
    return best.select(
        F.col("n").alias("n_days"),
        F.date_from_unix_date(-F.col("s.nd")).cast("timestamp").alias("cp_day"),
        F.round(F.col("s.ad") / (F.lit(100.0) * F.col("n")), 4).alias("max_cusum"),
    )


@register(
    "ts_seasonal_dow",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
      HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) IS NOT NULL
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS total_days, CAST(sum(cents) AS BIGINT) AS total_cents
      FROM daily
    ),
    dow AS (
      SELECT dayofweek(day) AS dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM daily GROUP BY 1
    )
    SELECT CAST(dow AS BIGINT) AS dow, n_days, sum_cents,
           round(sum_cents * 1.0 / n_days, 2) AS mean_cents,
           round(CAST(CAST(sum_cents AS HUGEINT) * total_days AS DOUBLE)
                 / CAST(CAST(n_days AS HUGEINT) * total_cents AS DOUBLE), 6)
             AS seasonal_index
    FROM dow, tot ORDER BY dow
    """,
    "timeseries",
    "seasonality",
)
def ts_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily revenue (ratio-to-
    overall-mean seasonal index, the multiplicative-decomposition
    building block): two combiner-friendly aggregations (orders → day,
    day → dow) plus a 1-row broadcast totals dimension. The index is
    exact-integer cross-multiplication with ONE division before the
    round — sum_cents·total_days / (n_days·total_cents) — so both
    engines divide bit-identical integers; the cross-products run in
    exact DECIMAL/HUGEINT because they wrap BIGINT at 100 TB revenue.
    dow is 0=Sunday in both spellings (DuckDB dayofweek; Spark
    dayofweek−1)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        revenue_cents().alias("cents")
    ).where(F.col("cents").isNotNull()).cache()  # 2 consumers (totals + day-of-week branch): one orders scan
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_days"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )
    dow = daily.groupBy((F.dayofweek("day") - 1).cast("bigint").alias("dow")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )
    return (
        dow.crossJoin(F.broadcast(tot))
        .select(
            "dow", "n_days", "sum_cents",
            F.round(F.col("sum_cents") * 1.0 / F.col("n_days"), 2).alias("mean_cents"),
            # sum_cents*total_days ~ corpus-cents x calendar-days wraps
            # BIGINT at 100 TB revenue: exact DECIMAL cross-multiply,
            # one double conversion per side of the single division
            F.round(
                (
                    F.col("sum_cents").cast("decimal(18,0)")
                    * F.col("total_days").cast("decimal(18,0)")
                ).cast("double")
                / (
                    F.col("n_days").cast("decimal(18,0)")
                    * F.col("total_cents").cast("decimal(18,0)")
                ).cast("double"),
                6,
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


_HOLT_A, _HOLT_B = 0.5, 0.3
_HOLT_H = 3  # forecast horizon (months)


@register(
    "ts_holt_linear",
    f"""
    WITH RECURSIVE m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
      HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) IS NOT NULL
    ),
    r AS (
      SELECT month, y, CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS rn
      FROM m
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
    -- anchor state from the first two observations; CAST to DOUBLE
    -- (a bare decimal literal would type the whole recursion DECIMAL)
    holt AS (
      SELECT CAST(2 AS BIGINT) AS rn,
             CAST({_HOLT_A} * r2.y + {1 - _HOLT_A} * (CAST(r1.y AS DOUBLE)
                  + (r2.y - CAST(r1.y AS DOUBLE))) AS DOUBLE) AS l,
             CAST({_HOLT_B} * (({_HOLT_A} * r2.y + {1 - _HOLT_A} * (CAST(r1.y AS DOUBLE)
                  + (r2.y - CAST(r1.y AS DOUBLE)))) - CAST(r1.y AS DOUBLE))
                  + {1 - _HOLT_B} * (r2.y - CAST(r1.y AS DOUBLE)) AS DOUBLE) AS b,
             CAST(r1.y AS DOUBLE) + (r2.y - CAST(r1.y AS DOUBLE)) AS fitted
      FROM r r1, r r2 WHERE r1.rn = 1 AND r2.rn = 2
      UNION ALL
      SELECT holt.rn + 1,
             CAST({_HOLT_A} * r.y + {1 - _HOLT_A} * (holt.l + holt.b) AS DOUBLE),
             CAST({_HOLT_B} * (({_HOLT_A} * r.y + {1 - _HOLT_A} * (holt.l + holt.b)) - holt.l)
                  + {1 - _HOLT_B} * holt.b AS DOUBLE),
             holt.l + holt.b
      FROM holt JOIN r ON r.rn = holt.rn + 1
    ),
    hist AS (
      SELECT r.month, r.y, holt.l, holt.b, holt.fitted, CAST(0 AS BIGINT) AS horizon
      FROM holt JOIN r ON r.rn = holt.rn
    ),
    last AS (
      SELECT h.l, h.b, r.month
      FROM holt h JOIN n ON h.rn = n.n JOIN r ON r.rn = h.rn
    ),
    fc AS (
      SELECT CAST(last.month + (i.range + 1) * INTERVAL 1 MONTH AS DATE) AS month,
             CAST(NULL AS BIGINT) AS y,
             last.l AS l, last.b AS b,
             last.l + (i.range + 1) * last.b AS fitted,
             CAST(i.range + 1 AS BIGINT) AS horizon
      FROM last, range({_HOLT_H}) i
    )
    SELECT CAST(month AS TIMESTAMP) AS month, y AS y_cents,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(fitted, 4) AS fitted, horizon
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM fc)
    ORDER BY month
    """,
    "timeseries",
    "smoothing",
    "forecast",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level+trend, alpha=0.5
    beta=0.3) of monthly revenue with a 3-month linear forecast. The
    recurrence is inherently sequential, but the monthly frame is
    CALENDAR-BOUNDED (~80 rows at any corpus scale), so after the one
    corpus-scale groupBy the engine collects the frame (k-row pull, the
    same bounded-frame contract as the Markov kernel) and runs the
    float64 recurrence driver-side; the oracle runs the IDENTICAL
    update as a recursive CTE, so every level/trend/fitted value is the
    same sequence of IEEE ops in both engines — bit-exact under
    round(4). Fitted is the one-step-ahead prediction l+b; forecasts
    carry horizon 1..3."""
    m = (
        monthly_cents(spark, sf_dir, "y")
        .where(F.col("y").isNotNull())  # unobserved months leave the series
    )
    rows = sorted(m.collect(), key=lambda r: r["month"])  # calendar-bounded pull
    a, bcoef = _HOLT_A, _HOLT_B
    out = []
    if len(rows) >= 2:
        y1, y2 = float(rows[0]["y"]), float(rows[1]["y"])
        l_prev, b_prev = y1, y2 - y1
        fitted = l_prev + b_prev
        l = a * rows[1]["y"] + (1 - a) * (l_prev + b_prev)
        b = bcoef * (l - l_prev) + (1 - bcoef) * b_prev
        out.append((rows[1]["month"], rows[1]["y"], l, b, fitted, 0))
        for r in rows[2:]:
            fitted = l + b
            l_new = a * r["y"] + (1 - a) * (l + b)
            b = bcoef * (l_new - l) + (1 - bcoef) * b
            l = l_new
            out.append((r["month"], r["y"], l, b, fitted, 0))
        import datetime

        last_month = rows[-1]["month"]
        for h in range(1, _HOLT_H + 1):
            mth = last_month.month - 1 + h
            nxt = datetime.date(
                last_month.year + mth // 12, mth % 12 + 1, 1
            )
            out.append((nxt, None, l, b, l + h * b, h))
    return (
        local_rows_df(
            m.sparkSession,
            [
                (mm, y, round(l, 4), round(b, 4), round(f, 4), h)
                for mm, y, l, b, f, h in out
            ],
            "month date, y_cents bigint, level double, trend double, "
            "fitted double, horizon bigint",
        )
        .select(
            F.col("month").cast("timestamp").alias("month"),
            "y_cents",
            "level",
            "trend",
            "fitted",
            "horizon",
        )
        .orderBy("month")
    )


@register(
    "ts_stl_decompose_dow",
    f"""
    WITH {_DAILY_REV},
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM daily),
    ma AS (
      SELECT day, cents, rn, n,
             -- d7 = 7*y - (centered 7-day window sum): EXACT BIGINT
             -- detrend scaled by 7, defined only on full windows
             CAST(7 * cents AS BIGINT)
               - CAST(sum(cents) OVER (ORDER BY rn
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS d7
      FROM r
    ),
    -- DuckDB dayofweek is 0=Sun..6; +1 aligns with Spark's 1=Sun..7
    core AS (SELECT dayofweek(day) + 1 AS dow, d7
             FROM ma WHERE rn >= 4 AND rn <= n - 3),
    s_raw AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(d7) AS BIGINT) AS sd7
      FROM core GROUP BY dow
    ),
    ctr AS (SELECT avg(sd7 * 1.0 / n_days) AS grand FROM s_raw),
    s AS (
      SELECT dow, n_days,
             (sd7 * 1.0 / n_days - grand) / 7 AS seasonal_cents
      FROM s_raw, ctr
    ),
    res AS (
      SELECT c.dow,
             sum((c.d7 / 7.0 - s.seasonal_cents) * (c.d7 / 7.0 - s.seasonal_cents))
               AS ssr
      FROM core c JOIN s ON c.dow = s.dow GROUP BY c.dow
    )
    SELECT s.dow, s.n_days,
           round(s.seasonal_cents, 4) AS seasonal_cents,
           round(sqrt(res.ssr / s.n_days), 4) AS resid_rms_cents
    FROM s JOIN res ON s.dow = res.dow ORDER BY s.dow
    """,
    "timeseries",
    "decomposition",
    "seasonal",
)
def ts_stl_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily order revenue
    (the STL shape without loess): trend = centered 7-day moving
    average on full windows only, day-of-week seasonal index = mean of
    the detrended series per dow re-centered to sum to zero, residual
    RMS per dow as the irregular-component readout. The detrended
    series is carried as d7 = 7*y - window_sum7, an EXACT BIGINT, so
    per-dow means are one division each and both engines center from
    identical integers (complements ts_seasonal_dow's multiplicative
    ratio-to-mean index). All windows run on the calendar-bounded
    daily frame — a few thousand rows at any corpus scale."""
    from pyspark.sql import Window as W

    daily = _observed_daily(spark, sf_dir, "cents")
    r = daily.withColumn("rn", F.row_number().over(W.orderBy("day"))).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy())
    )
    ma = r.withColumn(
        "d7",
        (7 * F.col("cents")).cast("bigint")
        - F.sum("cents").over(W.orderBy("rn").rowsBetween(-3, 3)).cast("bigint"),
    )
    core = ma.where((F.col("rn") >= 4) & (F.col("rn") <= F.col("n") - 3)).select(
        F.dayofweek("day").alias("dow"), "d7"
    )
    s_raw = core.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("d7").cast("bigint").alias("sd7"),
    )
    ctr = s_raw.agg(
        F.avg(F.col("sd7") * 1.0 / F.col("n_days")).alias("grand")
    )
    s = s_raw.crossJoin(F.broadcast(ctr)).select(  # 1-row grand-mean dimension
        "dow",
        "n_days",
        ((F.col("sd7") * 1.0 / F.col("n_days") - F.col("grand")) / 7).alias(
            "seasonal_cents"
        ),
    )
    resid = F.col("d7") / 7.0 - F.col("seasonal_cents")
    res = (
        core.join(F.broadcast(s), "dow")
        .groupBy("dow")
        .agg(F.sum(resid * resid).alias("ssr"), F.first("n_days").alias("n_days"),
             F.first("seasonal_cents").alias("seasonal_cents"))
    )
    return res.select(
        "dow",
        "n_days",
        F.round(F.col("seasonal_cents"), 4).alias("seasonal_cents"),
        F.round(F.sqrt(F.col("ssr") / F.col("n_days")), 4).alias("resid_rms_cents"),
    ).orderBy("dow")


@register(
    "ts_page_hinkley",
    f"""
    WITH {_DAILY_REV},
    r AS (
      SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
             CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS s_t
      FROM daily
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss
      FROM daily
    ),
    mv AS (
      SELECT n, s * 1.0 / n AS mu,
             sqrt((ss - s * 1.0 / n * s) / (n - 1)) AS sd
      FROM mom
    ),
    ph AS (
      -- m_t = S_t - t*mu - t*(sd/2) from EXACT integer prefix sums, so
      -- both engines see identical doubles; the t*(sd/2) term is the
      -- classical Page-Hinkley drift allowance delta = sd/2 — without
      -- it m_t is a zero-drift random walk and max PH grows like
      -- sd*sqrt(n), so ANY threshold proportional to sd false-alarms
      -- with probability -> 1 (measured: P(alarm)=1.0 over a 365-day
      -- stationary null). PH_t = m_t - min prefix m_s
      SELECT r.day, mv.n, mv.sd,
             (r.s_t - r.rn * mv.mu - r.rn * (mv.sd / 2))
               - min(r.s_t - r.rn * mv.mu - r.rn * (mv.sd / 2))
                   OVER (ORDER BY r.day) AS ph_t
      FROM r, mv
    )
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           round(max(ph_t), 4) AS max_ph_cents,
           CAST(sum(CASE WHEN ph_t > 8 * sd THEN 1 ELSE 0 END) AS BIGINT)
             AS alarm_days,
           CAST(min(CASE WHEN ph_t > 8 * sd THEN day END) AS TIMESTAMP)
             AS first_alarm_day
    FROM ph
    """,
    "timeseries",
    "drift",
    "changepoint",
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector over daily order revenue (the
    mean-shift companion to ts_cusum_changepoint), with the classical
    drift allowance delta = sd/2 (Page 1954; Gama et al. 2013): the
    cumulative deviation m_t = S_t - t*mu - t*(sd/2) is carried from
    the EXACT BIGINT prefix sum S_t — one multiply-subtract chain per
    row in the same IEEE order in both engines — and
    PH_t = m_t - min_prefix(m_s) alarms above lambda = 8*sd. WITHOUT
    delta, m_t is a zero-drift random walk whose range grows like
    sd*sqrt(n), so any sd-proportional threshold false-alarms with
    probability -> 1 (a 365-day stationary null alarmed on ~236 days;
    round-6 calibration finding). At (delta=sd/2, lambda=8sd) the
    Monte-Carlo operating point is ~1% yearly false-alarm rate, ~87%
    power at a 1-sd mean shift (median delay 73 days), and full power
    at 2 sd (delay ~25 days) — asserted in tests/test_calibration7.py.
    All windows run on the calendar-bounded daily frame."""
    from pyspark.sql import Window as W

    daily = _observed_daily(spark, sf_dir, "cents")
    w = W.orderBy("day")
    r = daily.withColumn("rn", F.row_number().over(w).cast("bigint")).withColumn(
        "s_t", F.sum("cents").over(w).cast("bigint")
    )
    dec = F.col("cents").cast("decimal(18,0)")
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mu = F.col("s") * 1.0 / F.col("n")
    mv = mom.select(
        "n",
        mu.alias("mu"),
        F.sqrt((F.col("ss") - mu * F.col("s")) / (F.col("n") - 1)).alias("sd"),
    )
    # identical IEEE op order to the oracle: s_t - rn*mu - rn*(sd/2)
    m_t = F.col("s_t") - F.col("rn") * F.col("mu") - F.col("rn") * (F.col("sd") / 2)
    ph = (
        r.crossJoin(F.broadcast(mv))  # 1-row moments dimension
        .withColumn("ph_t", m_t - F.min(m_t).over(w))
    )
    return ph.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.round(F.max("ph_t"), 4).alias("max_ph_cents"),
        F.sum(F.when(F.col("ph_t") > 8 * F.col("sd"), 1).otherwise(0))
        .cast("bigint")
        .alias("alarm_days"),
        F.min(F.when(F.col("ph_t") > 8 * F.col("sd"), F.col("day")))
        .cast("timestamp")
        .alias("first_alarm_day"),
    )


_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2  # level / trend / seasonal
_HW_P, _HW_H = 7, 7  # weekly period, 7-day forecast
_HW_TAIL = 28  # history rows emitted


@register(
    "ts_holt_winters_weekly",
    f"""
    WITH RECURSIVE {_DAILY_REV},
    r AS (
      SELECT day, cents AS y,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
      FROM daily
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
    init AS (
      SELECT
        (SELECT sum(CAST(y AS DOUBLE)) / {_HW_P} FROM r WHERE rn <= {_HW_P}) AS l0,
        ((SELECT sum(CAST(y AS DOUBLE)) / {_HW_P} FROM r
           WHERE rn > {_HW_P} AND rn <= {2 * _HW_P})
         - (SELECT sum(CAST(y AS DOUBLE)) / {_HW_P} FROM r WHERE rn <= {_HW_P}))
        / {_HW_P} AS b0,
        (SELECT list(CAST(y AS DOUBLE) ORDER BY rn) FROM r WHERE rn <= {_HW_P})
          AS w1
    ),
    hw AS (
      SELECT CAST({_HW_P} AS BIGINT) AS rn,
             CAST(l0 AS DOUBLE) AS l, CAST(b0 AS DOUBLE) AS b,
             list_transform(w1, v -> v - l0) AS s,
             CAST(NULL AS DOUBLE) AS fitted
      FROM init
      UNION ALL
      SELECT hw.rn + 1,
             CAST({_HW_A} * (r.y - hw.s[1]) + {1 - _HW_A} * (hw.l + hw.b)
               AS DOUBLE),
             CAST({_HW_B} * (({_HW_A} * (r.y - hw.s[1])
                              + {1 - _HW_A} * (hw.l + hw.b)) - hw.l)
                  + {1 - _HW_B} * hw.b AS DOUBLE),
             hw.s[2:{_HW_P}]
               || [CAST({_HW_G} * (r.y - ({_HW_A} * (r.y - hw.s[1])
                                          + {1 - _HW_A} * (hw.l + hw.b)))
                        + {1 - _HW_G} * hw.s[1] AS DOUBLE)],
             hw.l + hw.b + hw.s[1]
      FROM hw JOIN r ON r.rn = hw.rn + 1
    ),
    hist AS (
      SELECT r.day, r.y, hw.fitted, CAST(0 AS BIGINT) AS horizon
      FROM hw JOIN r ON r.rn = hw.rn, n
      WHERE hw.rn > {_HW_P} AND hw.rn > n.n - {_HW_TAIL}
    ),
    last AS (
      SELECT hw.l, hw.b, hw.s, r.day
      FROM hw JOIN n ON hw.rn = n.n JOIN r ON r.rn = hw.rn
    ),
    fc AS (
      SELECT CAST(last.day + (i.range + 1) * INTERVAL 1 DAY AS DATE) AS day,
             CAST(NULL AS BIGINT) AS y,
             last.l + (i.range + 1) * last.b + last.s[CAST(i.range + 1 AS INTEGER)]
               AS fitted,
             CAST(i.range + 1 AS BIGINT) AS horizon
      FROM last, range({_HW_H}) i
    )
    SELECT CAST(day AS TIMESTAMP) AS day, y AS y_cents,
           round(fitted, 4) AS fitted, horizon
    FROM (SELECT * FROM hist UNION ALL SELECT * FROM fc)
    ORDER BY day
    """,
    "timeseries",
    "smoothing",
    "forecast",
)
def ts_holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple-exponential smoothing of daily
    revenue with a weekly (period-7) season and a 7-day forecast —
    ts_holt_linear's seasonal sibling. Initialization is the textbook
    two-week scheme (l0 = week-1 mean, b0 = (week-2 mean - week-1
    mean)/7, s_i = y_i - l0), then the l/b/s recurrences run once per
    day. The daily frame is CALENDAR-BOUNDED (~2.4k rows at any corpus
    scale), so after the one corpus-scale groupBy the engine collects
    it (the bounded-frame contract shared with ts_holt_linear and the
    Markov kernel) and runs the float64 recurrence driver-side; the
    oracle replays the IDENTICAL ops as a recursive CTE whose seasonal
    state rides a rotating 7-element LIST (head = current season,
    updated value appended at the tail), so every level/trend/season is
    the same IEEE sequence in both engines. Emits the last 28 fitted
    days plus horizons 1..7."""
    import datetime

    daily = _observed_daily(spark, sf_dir, "y")
    rows = sorted(daily.collect(), key=lambda r: r["day"])  # calendar-bounded
    a, bb, g, p = _HW_A, _HW_B, _HW_G, _HW_P
    n = len(rows)
    out: list[tuple] = []
    if n >= 2 * p:
        w1 = sum(float(r["y"]) for r in rows[:p]) / p
        w2 = sum(float(r["y"]) for r in rows[p : 2 * p]) / p
        l, b = w1, (w2 - w1) / p
        s = [float(r["y"]) - w1 for r in rows[:p]]
        fits: list[tuple] = []
        for r in rows[p:]:
            y = r["y"]
            s_head = s[0]
            fitted = l + b + s_head
            l_new = a * (y - s_head) + (1 - a) * (l + b)
            b = bb * (l_new - l) + (1 - bb) * b
            s = s[1:] + [g * (y - l_new) + (1 - g) * s_head]
            l = l_new
            fits.append((r["day"], y, fitted, 0))
        out.extend(fits[-_HW_TAIL:] if len(fits) > _HW_TAIL else fits)
        last_day = rows[-1]["day"]
        for h in range(1, _HW_H + 1):
            out.append(
                (
                    last_day + datetime.timedelta(days=h),
                    None,
                    l + h * b + s[h - 1],
                    h,
                )
            )
    sdf = local_rows_df(
        spark, out, "day date, y_cents bigint, fitted double, horizon bigint"
    )
    return sdf.select(
        F.col("day").cast("timestamp").alias("day"),
        "y_cents",
        F.round("fitted", 4).alias("fitted"),
        "horizon",
    ).orderBy("day")


@register(
    "ts_pacf_durbin",
    f"""
    WITH {_DAILY_REV},
    r AS (SELECT day, cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
          FROM daily),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(cents AS DOUBLE)) / count(*) AS mu
          FROM r),
    c0 AS (
      SELECT sum((r.cents - m.mu) * (r.cents - m.mu)) AS c0, max(m.n) AS n
      FROM r, m
    ),
    ck AS (
      SELECT l.lag, sum((a.cents - m.mu) * (b.cents - m.mu)) AS c
      FROM (SELECT unnest(range(1, 4)) AS lag) l
      JOIN r a ON true JOIN r b ON a.rn = b.rn + l.lag, m
      GROUP BY l.lag
    ),
    rk AS (
      SELECT c0.n,
             max(CASE WHEN ck.lag = 1 THEN ck.c END) / max(c0.c0) AS r1,
             max(CASE WHEN ck.lag = 2 THEN ck.c END) / max(c0.c0) AS r2,
             max(CASE WHEN ck.lag = 3 THEN ck.c END) / max(c0.c0) AS r3
      FROM ck, c0 GROUP BY c0.n
    ),
    p2 AS (
      SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS pacf2 FROM rk
    ),
    p3 AS (
      SELECT *, r1 * (1 - pacf2) AS phi21 FROM p2
    )
    SELECT n AS n_days,
           round(r1, 6) AS acf1, round(r2, 6) AS acf2, round(r3, 6) AS acf3,
           round(r1, 6) AS pacf1, round(pacf2, 6) AS pacf2,
           round((r3 - phi21 * r2 - pacf2 * r1)
                 / (1 - phi21 * r1 - pacf2 * r2), 6) AS pacf3
    FROM p3
    """,
    "timeseries",
    "autocorrelation",
)
def ts_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1-3 via the
    Durbin-Levinson recursion unrolled to closed form (pacf1 = r1,
    pacf2 = (r2 - r1^2)/(1 - r1^2), pacf3 from the order-2
    coefficients) — the AR-order diagnostic companion to
    ts_autocorrelation, using the autocovariance ACF with the GLOBAL
    mean (the Box-Jenkins convention, unlike ts_autocorrelation's
    per-lag Pearson). The daily frame is calendar-bounded, so the
    row_number window and lag self-joins never touch row-grain data;
    cents are exact integers so both engines' co-moments are
    ulp-aligned."""
    from pyspark.sql import Window as W

    daily = _observed_daily(spark, sf_dir, "cents")
    r = daily.withColumn(
        "rn", F.row_number().over(W.orderBy("day")).cast("bigint")
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("cents").cast("double")) / F.count(F.lit(1))).alias("mu"),
    )
    rm = r.crossJoin(F.broadcast(m))  # 1-row moments dimension
    c0 = rm.agg(
        F.sum((F.col("cents") - F.col("mu")) * (F.col("cents") - F.col("mu"))).alias(
            "c0"
        ),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = r.select(F.col("rn").alias("rn_a"), F.col("cents").alias("x"))
    b = r.select(F.col("rn").alias("rn_b"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rn_a") == F.col("rn_b") + F.col("lag"))
        .crossJoin(F.broadcast(m))
    )
    ck = pairs.groupBy("lag").agg(
        F.sum((F.col("x") - F.col("mu")) * (F.col("y") - F.col("mu"))).alias("c")
    )
    rk = (
        ck.crossJoin(F.broadcast(c0))
        .groupBy("n")
        .agg(
            (F.max(F.when(F.col("lag") == 1, F.col("c"))) / F.max("c0")).alias("r1"),
            (F.max(F.when(F.col("lag") == 2, F.col("c"))) / F.max("c0")).alias("r2"),
            (F.max(F.when(F.col("lag") == 3, F.col("c"))) / F.max("c0")).alias("r3"),
        )
    )
    pacf2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    p2 = rk.withColumn("pacf2", pacf2)
    p3 = p2.withColumn("phi21", F.col("r1") * (1 - F.col("pacf2")))
    return p3.select(
        F.col("n").alias("n_days"),
        F.round("r1", 6).alias("acf1"),
        F.round("r2", 6).alias("acf2"),
        F.round("r3", 6).alias("acf3"),
        F.round("r1", 6).alias("pacf1"),
        F.round("pacf2", 6).alias("pacf2"),
        F.round(
            (F.col("r3") - F.col("phi21") * F.col("r2") - F.col("pacf2") * F.col("r1"))
            / (1 - F.col("phi21") * F.col("r1") - F.col("pacf2") * F.col("r2")),
            6,
        ).alias("pacf3"),
    )


@register(
    "ts_pettitt_changepoint",
    f"""
    WITH {_DAILY_REV},
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    r AS (
      SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
             (count(*) OVER (ORDER BY cents RANGE BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) - count(*) OVER (PARTITION BY cents))
             + (count(*) OVER (PARTITION BY cents) + 1) / 2.0 AS rk
      FROM daily
    ),
    u AS (
      SELECT day, t,
             2.0 * sum(rk) OVER (ORDER BY t) - t * (n.n + 1) AS u_t
      FROM r, n
    ),
    k AS (SELECT max(abs(u_t)) AS k_stat FROM u WHERE t < (SELECT n FROM n)),
    cp AS (
      SELECT min(u.day) AS change_day
      FROM u, k WHERE abs(u.u_t) = k.k_stat AND u.t < (SELECT n FROM n)
    ),
    halves AS (
      SELECT CAST(sum(CASE WHEN d.day <= cp.change_day THEN d.cents END)
               AS BIGINT) AS s_b,
             CAST(sum(CASE WHEN d.day <= cp.change_day THEN 1 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN d.day > cp.change_day THEN d.cents END)
               AS BIGINT) AS s_a,
             CAST(sum(CASE WHEN d.day > cp.change_day THEN 1 END) AS BIGINT)
               AS n_a
      FROM daily d, cp
    )
    SELECT n.n AS n_days, round(k.k_stat, 2) AS k_stat,
           CAST(cp.change_day AS TIMESTAMP) AS change_day,
           round(least(2 * exp(-6.0 * k.k_stat * k.k_stat
                               / (n.n * n.n * n.n + n.n * n.n)), 1.0), 6)
             AS p_value,
           round(h.s_b * 1.0 / h.n_b, 4) AS mean_before_cents,
           round(h.s_a * 1.0 / h.n_a, 4) AS mean_after_cents
    FROM n, k, cp, halves h
    """,
    "timeseries",
    "changepoint",
    "rank-test",
)
def ts_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint test on daily revenue: U_t =
    2*S_t - t(n+1) with S_t the cumulative MIDRANK sum (tie-exact
    half-integers), K = max|U_t| over interior split points, the
    earliest argmax day as the changepoint, the standard approximation
    p = 2 exp(-6K^2/(n^3+n^2)), and the before/after means — the
    distribution-free companion to ts_cusum_changepoint (robust to the
    heavy right tail CUSUM's mean-shift statistic feels). Every window
    runs on the calendar-bounded daily frame."""
    from pyspark.sql import Window as W

    daily = (
        _observed_daily(spark, sf_dir, "cents")
        # calendar-bounded but consumed by two branches (count dim +
        # rank frame): cache so the orders scan runs once
        .cache()
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = daily.select(
        "day",
        "cents",
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("t"),
        window_midrank("cents").alias("rk"),
    )
    u = (
        r.crossJoin(F.broadcast(n))
        .select(
            "day",
            "t",
            "n",
            (2.0 * F.sum("rk").over(W.orderBy("t")) - F.col("t") * (F.col("n") + 1)).alias(
                "u_t"
            ),
        )
    )
    interior = u.where(F.col("t") < F.col("n"))
    k = interior.agg(F.max(F.abs(F.col("u_t"))).alias("k_stat"))
    cp = (
        interior.crossJoin(F.broadcast(k))
        .where(F.abs(F.col("u_t")) == F.col("k_stat"))
        .agg(F.min("day").alias("change_day"))
    )
    halves = (
        daily.crossJoin(F.broadcast(cp))
        .agg(
            F.sum(F.when(F.col("day") <= F.col("change_day"), F.col("cents")))
            .cast("bigint")
            .alias("s_b"),
            F.sum(F.when(F.col("day") <= F.col("change_day"), 1))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("day") > F.col("change_day"), F.col("cents")))
            .cast("bigint")
            .alias("s_a"),
            F.sum(F.when(F.col("day") > F.col("change_day"), 1))
            .cast("bigint")
            .alias("n_a"),
            F.max("change_day").alias("change_day_keep"),
        )
    )
    kk = F.col("k_stat")
    nn = F.col("n")
    return (
        n.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(halves))
        .select(
            F.col("n").alias("n_days"),
            F.round(kk, 2).alias("k_stat"),
            F.col("change_day_keep").cast("timestamp").alias("change_day"),
            F.round(
                F.least(
                    2 * F.exp(-6.0 * kk * kk / (nn * nn * nn + nn * nn)), F.lit(1.0)
                ),
                6,
            ).alias("p_value"),
            F.round(F.col("s_b") * 1.0 / F.col("n_b"), 4).alias("mean_before_cents"),
            F.round(F.col("s_a") * 1.0 / F.col("n_a"), 4).alias("mean_after_cents"),
        )
    )


@register(
    "ts_backtest_seasonal_naive",
    f"""
    WITH {_DAILY_REV},
    mx AS (SELECT max(day) AS max_day FROM daily),
    j AS (
      SELECT a.day, a.cents AS actual, b.cents AS forecast
      FROM daily a
      JOIN daily b ON b.day = a.day - INTERVAL 7 DAY, mx
      WHERE a.day > mx.max_day - INTERVAL 28 DAY
    )
    SELECT CAST(count(*) AS BIGINT) AS n_evals,
           round(avg(abs(actual - forecast) * 1.0 / actual), 6) AS mape,
           round(avg(2.0 * abs(actual - forecast) / (actual + forecast)), 6)
             AS smape,
           round(avg(forecast - actual) / 100.0, 4) AS bias_dollars,
           round(sqrt(avg((actual - forecast) * 1.0 * (actual - forecast)))
                 / 100.0, 4) AS rmse_dollars
    FROM j
    """,
    "timeseries",
    "forecast",
    "eval",
)
def ts_backtest_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE forecaster (predict today = same
    weekday last week) over the last 28 observed days: MAPE, SMAPE,
    signed bias, RMSE — the baseline every fancier forecaster
    (ts_holt_linear, ts_holt_winters_weekly) must beat before it earns
    deployment, made honest by evaluating only days whose d-7 exists.
    The lag is a date equi-join on the calendar-bounded daily frame
    (no window at all); errors are exact integer differences before
    the final divisions."""
    daily = (
        _observed_daily(spark, sf_dir, "cents")
        # calendar-bounded (~2.4k rows) but consumed THREE times below
        # (actual branch, lag branch, max-day dimension) — cache so the
        # corpus-scale orders groupBy scan runs once, not 3x
        .cache()
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    a = daily.select(F.col("day"), F.col("cents").alias("actual"))
    b = daily.select(
        F.date_add(F.col("day"), 7).alias("day"), F.col("cents").alias("forecast")
    )
    j = (
        a.join(b, "day")
        .crossJoin(F.broadcast(mx))  # 1-row max-day dimension
        .where(F.col("day") > F.date_sub(F.col("max_day"), 28))
    )
    err = F.col("actual") - F.col("forecast")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_evals"),
        F.round(F.avg(F.abs(err) * 1.0 / F.col("actual")), 6).alias("mape"),
        F.round(
            F.avg(2.0 * F.abs(err) / (F.col("actual") + F.col("forecast"))), 6
        ).alias("smape"),
        F.round(F.avg(F.col("forecast") - F.col("actual")) / 100.0, 4).alias(
            "bias_dollars"
        ),
        F.round(F.sqrt(F.avg(err * 1.0 * err)) / 100.0, 4).alias("rmse_dollars"),
    )


@register(
    "ts_variance_ratio",
    f"""
    WITH {_DAILY_REV},
    r AS (SELECT cents,
                 CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
          FROM daily),
    d1 AS (
      SELECT b.cents - a.cents AS d
      FROM r a JOIN r b ON b.rn = a.rn + 1
    ),
    d7 AS (
      SELECT b.cents - a.cents AS d
      FROM r a JOIN r b ON b.rn = a.rn + 7
    ),
    v1 AS (SELECT CAST(count(*) AS BIGINT) AS n1,
                  CAST(sum(d) AS BIGINT) AS s1,
                  CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS ss1 FROM d1),
    v7 AS (SELECT CAST(count(*) AS BIGINT) AS n7,
                  CAST(sum(d) AS BIGINT) AS s7,
                  CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE) AS ss7 FROM d7),
    vr AS (
      SELECT n1,
             ((ss7 - s7 * 1.0 / n7 * s7) / (n7 - 1))
             / (7.0 * ((ss1 - s1 * 1.0 / n1 * s1) / (n1 - 1))) AS ratio
      FROM v1, v7
    ),
    z AS (
      SELECT n1, round(ratio, 6) AS variance_ratio,
             round((ratio - 1) / sqrt(2.0 * (2 * 7 - 1) * (7 - 1)
                                      / (3.0 * 7 * n1)), 4) AS z_stat
      FROM vr
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM z),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT n1 AS n_diffs, variance_ratio, z_stat,
           round((((( 1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
                  - 0.284496736) * tt + 0.254829592) * tt * exp(-xx * xx), 6)
             AS p_value
    FROM pp
    """,
    "timeseries",
    "drift",
    "rank-test",
)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test at horizon q=7 on daily revenue
    increments (observed-day index, not calendar, so gaps don't inject
    phantom zeros): VR = Var(7-step diff) / (7 Var(1-step diff)); under
    a random walk VR = 1, VR < 1 means mean reversion (what a
    stationary seasonal series shows), VR > 1 momentum. Homoscedastic
    z = (VR-1)/sqrt(2(2q-1)(q-1)/(3qn)). Diffs are exact BIGINT cents
    from two rn equi-joins on the calendar-bounded frame; moments are
    exact integer folds (DECIMAL squares) before the double algebra."""
    from pyspark.sql import Window as W

    daily = _observed_daily(spark, sf_dir, "cents")
    r = daily.select(
        "cents", F.row_number().over(W.orderBy("day")).cast("bigint").alias("rn")
    )

    def diffs(lag: int) -> DataFrame:
        a = r.select(F.col("rn").alias("ra"), F.col("cents").alias("ca"))
        b = r.select((F.col("rn") - lag).alias("ra"), F.col("cents").alias("cb"))
        return a.join(b, "ra").select((F.col("cb") - F.col("ca")).alias("d"))

    def moments(df: DataFrame, n_name: str, s_name: str, ss_name: str) -> DataFrame:
        dec = F.col("d").cast("decimal(18,0)")
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.sum("d").cast("bigint").alias(s_name),
            F.sum(dec * dec).cast("double").alias(ss_name),
        )

    v1 = moments(diffs(1), "n1", "s1", "ss1")
    v7 = moments(diffs(7), "n7", "s7", "ss7")
    var1 = (F.col("ss1") - F.col("s1") * 1.0 / F.col("n1") * F.col("s1")) / (
        F.col("n1") - 1
    )
    var7 = (F.col("ss7") - F.col("s7") * 1.0 / F.col("n7") * F.col("s7")) / (
        F.col("n7") - 1
    )
    vr = v1.crossJoin(F.broadcast(v7)).select(
        "n1", (var7 / (7.0 * var1)).alias("ratio")
    )
    q = 7
    z = vr.select(
        "n1",
        F.round("ratio", 6).alias("variance_ratio"),
        F.round(
            (F.col("ratio") - 1)
            / F.sqrt(2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * F.col("n1"))),
            4,
        ).alias("z_stat"),
    )
    from etl_file_sync_spark.operators.pvalues import normal_two_sided_p

    return z.select(
        F.col("n1").alias("n_diffs"),
        "variance_ratio",
        "z_stat",
        F.round(normal_two_sided_p(F.col("z_stat")), 6).alias("p_value"),
    )
