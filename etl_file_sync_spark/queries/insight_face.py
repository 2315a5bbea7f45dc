"""Insight-analytics queries (round 5, batch 3): isotonic calibration,
ROUGE-L, difference-in-differences, mutual information, RFM
segmentation, grouped winsorized means, a KMV distinct-count sketch,
and split-conformal prediction intervals — the model-quality and
business-readout layer on top of the engine's statistics machinery.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2). Conventions as elsewhere: exact integer cents/counts/ranks, one
division before each round(); md5-standardized hashing where a sketch
needs portable randomness; transcendentals (MI's ln) carry the
documented libm-ulp risk under round(6). ROUGE-L is the face's pandas-
UDF showcase: an Arrow-batched numpy DP on the Spark side, value-
checked against a recursive-CTE dynamic program in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import sql_double
from etl_file_sync_spark.operators.rankstats import (
    bucketed_row_number,
    bucketed_row_numbers,
    grouped_bucketed_cumsum,
)
from etl_file_sync_spark.queries.registry import register, t

_BIN_W = 8.0  # isotonic: value-axis bin width


@register(
    "eval_isotonic_calibration",
    f"""
    WITH e AS (
      SELECT CAST(floor(value / {_BIN_W}) AS BIGINT) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS w, CAST(sum(y) AS BIGINT) AS s
      FROM e GROUP BY bin
    ),
    r AS (
      SELECT bin, w, s,
             CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS rn,
             CAST(sum(w) OVER (ORDER BY bin) AS BIGINT) AS pw,
             CAST(sum(s) OVER (ORDER BY bin) AS BIGINT) AS ps
      FROM b
    ),
    pairs AS (
      SELECT a.rn AS i, c.rn AS j,
             (c.ps - a.ps + a.s) * 1.0 / (c.pw - a.pw + a.w) AS m
      FROM r a JOIN r c ON c.rn >= a.rn
    ),
    mn AS (
      SELECT k.rn AS k, p.i, min(p.m) AS mn
      FROM r k JOIN pairs p ON p.i <= k.rn AND p.j >= k.rn
      GROUP BY k.rn, p.i
    ),
    fit AS (SELECT k, max(mn) AS f FROM mn GROUP BY k)
    SELECT r.bin, r.w, r.s,
           round(r.s * 1.0 / r.w, 6) AS raw_rate,
           round(fit.f, 6) AS iso_rate
    FROM r JOIN fit ON fit.k = r.rn
    ORDER BY r.bin
    """,
    "eval",
    "calibration",
    "isotonic",
)
def eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (PAVA solution via the minimax
    formula f(k) = max_{{i<=k}} min_{{j>=k}} mean(i..j), Barlow et al.
    1972) of P(purchase) against the event-value axis, binned to width
    8 — the calibration step that turns a raw score into a monotone
    probability (Zadrozny & Elkan 2002). The corpus-scale work is ONE
    groupBy to the bin frame; the minimax runs on the BIN-BOUNDED frame
    (<= ~50 rows at any scale — the windows/joins there are free and
    say so). Each candidate mean is an exact-integer numerator with
    one division; min/max over identically-computed doubles are
    bit-exact across engines."""
    e = t(spark, sf_dir, "events").select(
        F.floor(F.col("value") / _BIN_W).cast("bigint").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = e.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("w"),
        F.sum("y").cast("bigint").alias("s"),
    )
    # bin-bounded frame (<= ~50 rows): plain windows are fine here
    wsp = Window.orderBy("bin")
    r = b.select(
        "bin",
        "w",
        "s",
        F.row_number().over(wsp).cast("bigint").alias("rn"),
        F.sum("w").over(wsp).cast("bigint").alias("pw"),
        F.sum("s").over(wsp).cast("bigint").alias("ps"),
    ).cache()
    a = r.select(
        F.col("rn").alias("i"),
        F.col("pw").alias("pwi"),
        F.col("ps").alias("psi"),
        F.col("w").alias("wi"),
        F.col("s").alias("si"),
    )
    c = r.select(
        F.col("rn").alias("j"), F.col("pw").alias("pwj"), F.col("ps").alias("psj")
    )
    pairs = a.join(F.broadcast(c), F.col("j") >= F.col("i")).select(
        "i",
        "j",
        (
            (F.col("psj") - F.col("psi") + F.col("si"))
            * F.lit(1.0)
            / (F.col("pwj") - F.col("pwi") + F.col("wi"))
        ).alias("m"),
    )
    k = r.select(F.col("rn").alias("k"))
    mn = (
        k.join(F.broadcast(pairs), (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")))
        .groupBy("k", "i")
        .agg(F.min("m").alias("mn"))
    )
    fit = mn.groupBy("k").agg(F.max("mn").alias("f"))
    return (
        r.join(F.broadcast(fit), F.col("rn") == F.col("k"))
        .select(
            "bin",
            "w",
            "s",
            F.round(F.col("s") * 1.0 / F.col("w"), 6).alias("raw_rate"),
            F.round(F.col("f"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


_ROUGE_CAP = 40


@register(
    "eval_rouge_l",
    f"""
    WITH RECURSIVE toks AS (
      -- a NULL-text document has nothing to evaluate: out of the
      -- pairing frame in both engines (eval-face convention)
      SELECT doc_id,
             list_slice(list_filter(string_split(text, ' '), x -> length(x) > 0),
                        1, {_ROUGE_CAP}) AS tk
      FROM documents WHERE text IS NOT NULL
    ),
    pair AS (
      SELECT c.doc_id, c.tk AS ct, r.tk AS rt
      FROM toks c JOIN toks r ON r.doc_id = xor(c.doc_id, 1)
    ),
    dp AS (
      SELECT doc_id, 0 AS i,
             list_transform(range(0, len(rt) + 1), x -> CAST(0 AS INTEGER)) AS row,
             ct, rt
      FROM pair
      UNION ALL
      SELECT doc_id, i + 1,
             list_reduce(
               [[CAST(0 AS INTEGER)]]
                 || list_transform(range(1, len(rt) + 1), j -> [CAST(j AS INTEGER)]),
               (acc, x) -> acc || [CASE WHEN ct[i + 1] = rt[x[1]]
                                        THEN row[x[1]] + 1
                                        ELSE greatest(row[x[1] + 1], acc[len(acc)]) END]
             ) AS row, ct, rt
      FROM dp WHERE i < len(ct)
    ),
    res AS (
      SELECT doc_id,
             CAST(len(ct) AS BIGINT) AS len_c,
             CAST(len(rt) AS BIGINT) AS len_r,
             CAST(row[len(rt) + 1] AS BIGINT) AS lcs
      FROM dp WHERE i = len(ct)
    )
    SELECT doc_id, len_c, len_r, lcs,
           round(lcs * 1.0 / len_r, 6) AS rouge_recall,
           round(lcs * 1.0 / len_c, 6) AS rouge_precision,
           round(CASE WHEN lcs = 0 THEN 0.0
                      ELSE 2.0 * (lcs * 1.0 / len_r) * (lcs * 1.0 / len_c)
                           / (lcs * 1.0 / len_r + lcs * 1.0 / len_c) END, 6) AS rouge_f
    FROM res ORDER BY doc_id
    """,
    "eval",
    "rouge",
    "pandas-udf",
)
def eval_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (Lin 2004) per candidate/reference pair: candidate = a
    document's first 40 tokens, reference = its xor-1 partner's first
    40 — the same deterministic pairing as eval_corpus_bleu, with a
    real (non-subsequence) LCS. The Spark side runs the DP as an
    Arrow-batched numpy kernel in mapInPandas (the designed slow-path
    escape hatch for operators Catalyst can't express); the oracle runs
    the SAME dynamic program as a recursive CTE carrying the DP row as
    a list, so the pandas-UDF machinery itself is value-checked. LCS,
    lengths are exact integers; P/R/F divide once per reported column.
    The 40-token cap bounds the DP at 1600 cells/pair, keeping per-row
    cost constant — the corpus-scale cost is linear in pairs."""
    # NULL-text documents leave the pairing frame (eval-face
    # convention, mirrored in the oracle); the coalesce below still
    # guards the Arrow kernel against any residual None
    toks = t(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id",
        # NULL text tokenizes to the empty list (the Python DP's zero
        # case) instead of a None the Arrow batch can't take len() of
        F.coalesce(
            F.slice(
                F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0),
                1,
                _ROUGE_CAP,
            ),
            F.array().cast("array<string>"),
        ).alias("tk"),
    )
    ref = toks.select(F.col("doc_id").alias("r_id"), F.col("tk").alias("rt"))
    # repartition BEFORE the Python DP: the single-file source would
    # otherwise feed mapInPandas one task (the JW-blocking lesson —
    # measured 3.4s -> ~1s at sf0.1 on local[32]). Partition count is
    # the session's parallelism, NOT a literal 32 — the driver also
    # benches at lower core counts, and a hard-coded constant would pin
    # the DP stage's task count regardless of cluster size.
    pair = (
        toks.join(ref, F.col("r_id") == F.expr("doc_id ^ 1"))
        .select("doc_id", F.col("tk").alias("ct"), "rt")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )

    def lcs_batches(it):
        import numpy as np
        import pandas as pd

        def lcs(a, b):
            # vectorized LCS row update; candidate-then-running-max is
            # exact because DP rows are nondecreasing (validated against
            # the textbook O(nm) loop in tests/test_insight_face.py).
            # Tokens are interned to int64 ids first — object-dtype
            # string comparison per row was the hot spot (~2x).
            if len(a) == 0 or len(b) == 0:
                return 0
            ids = {tok: i for i, tok in enumerate(b)}
            bn = np.fromiter((ids[tok] for tok in b), dtype=np.int64, count=len(b))
            prev = np.zeros(len(b) + 1, dtype=np.int64)
            for tok in a:
                tid = ids.get(tok, -1)
                cand = np.maximum(prev[1:], np.where(bn == tid, prev[:-1] + 1, 0))
                curr = np.empty_like(prev)
                curr[0] = 0
                curr[1:] = np.maximum.accumulate(cand)
                prev = curr
            return int(prev[-1])

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "len_c": pdf["ct"].map(len).astype("int64"),
                    "len_r": pdf["rt"].map(len).astype("int64"),
                    "lcs": [
                        lcs(list(c), list(r)) for c, r in zip(pdf["ct"], pdf["rt"])
                    ],
                }
            )

    res = pair.mapInPandas(
        lcs_batches, schema="doc_id long, len_c long, len_r long, lcs long"
    )
    rr = F.col("lcs") * 1.0 / F.col("len_r")
    rp = F.col("lcs") * 1.0 / F.col("len_c")
    return res.select(
        "doc_id",
        "len_c",
        "len_r",
        "lcs",
        F.round(rr, 6).alias("rouge_recall"),
        F.round(rp, 6).alias("rouge_precision"),
        F.round(
            F.when(F.col("lcs") == 0, F.lit(0.0)).otherwise(
                F.lit(2.0) * rr * rp / (rr + rp)
            ),
            6,
        ).alias("rouge_f"),
    ).orderBy("doc_id")


@register(
    "stat_diff_in_differences",
    """
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(coalesce(sum(CASE WHEN CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS INTEGER) < 16
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS pre,
             CAST(coalesce(sum(CASE WHEN CAST(date_part('day', CAST(ts AS TIMESTAMP)) AS INTEGER) >= 16
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS BIGINT) AS sp,
             CAST(sum(CAST(pre AS HUGEINT) * pre) AS DOUBLE) AS spp,
             CAST(sum(post) AS BIGINT) AS so,
             CAST(sum(CAST(post AS HUGEINT) * post) AS DOUBLE) AS soo
      FROM u GROUP BY grp
    ),
    w AS (
      SELECT max(CASE WHEN grp = 1 THEN n END) AS n1,
             max(CASE WHEN grp = 0 THEN n END) AS n0,
             max(CASE WHEN grp = 1 THEN sp * 1.0 / n END) AS pre1,
             max(CASE WHEN grp = 1 THEN so * 1.0 / n END) AS post1,
             max(CASE WHEN grp = 0 THEN sp * 1.0 / n END) AS pre0,
             max(CASE WHEN grp = 0 THEN so * 1.0 / n END) AS post0,
             max(CASE WHEN grp = 1 THEN (spp - sp * 1.0 / n * sp) / (n - 1) END) AS vp1,
             max(CASE WHEN grp = 1 THEN (soo - so * 1.0 / n * so) / (n - 1) END) AS vo1,
             max(CASE WHEN grp = 0 THEN (spp - sp * 1.0 / n * sp) / (n - 1) END) AS vp0,
             max(CASE WHEN grp = 0 THEN (soo - so * 1.0 / n * so) / (n - 1) END) AS vo0
      FROM cells
    )
    SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_ctrl,
           round(pre1, 4) AS pre_treat, round(post1, 4) AS post_treat,
           round(pre0, 4) AS pre_ctrl, round(post0, 4) AS post_ctrl,
           round((post1 - pre1) - (post0 - pre0), 4) AS did_cents,
           round(sqrt(vp1 / n1 + vo1 / n1 + vp0 / n0 + vo0 / n0), 4) AS se_cents,
           round(((post1 - pre1) - (post0 - pre0))
                 / sqrt(vp1 / n1 + vo1 / n1 + vp0 / n0 + vo0 / n0), 6) AS t_stat
    FROM w
    """,
    "stats",
    "ab-test",
    "did",
)
def stat_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-user spend: treated = odd-id
    users, periods = day-of-month </>= 16. Effect = (post-pre) of
    treated minus (post-pre) of control, with the independent-samples
    standard error from per-cell sample variances (computed as
    (Σy² − (Σy)²/n)/(n−1) — exact integer Σy and Σy², single
    divisions, identical spelling both engines). One corpus-scale
    groupBy to the user grain; everything after is a 2-row frame."""
    ev = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.dayofmonth("ts") < 16
    u = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(pre, cents).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("pre"),
            F.coalesce(F.sum(F.when(~pre, cents).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("post"),
        )
        .select((F.col("user_id") % 2).cast("bigint").alias("grp"), "pre", "post")
    )
    # squared per-user cents wrap BIGINT at scale (1e8-cent users squared,
    # summed over 1e9 users ~ 1e25): accumulate the squares in exact
    # DECIMAL (the oracle's HUGEINT) and convert once for the variance
    dpre = F.col("pre").cast("decimal(18,0)")
    dpost = F.col("post").cast("decimal(18,0)")
    cells = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sp"),
        F.sum(dpre * dpre).cast("double").alias("spp"),
        F.sum("post").cast("bigint").alias("so"),
        F.sum(dpost * dpost).cast("double").alias("soo"),
    )

    def cell(g, expr):
        return F.max(F.when(F.col("grp") == g, expr))

    mean_p = F.col("sp") * 1.0 / F.col("n")
    mean_o = F.col("so") * 1.0 / F.col("n")
    var_p = (F.col("spp") - F.col("sp") * 1.0 / F.col("n") * F.col("sp")) / (F.col("n") - 1)
    var_o = (F.col("soo") - F.col("so") * 1.0 / F.col("n") * F.col("so")) / (F.col("n") - 1)
    w = cells.agg(
        cell(1, F.col("n")).alias("n1"),
        cell(0, F.col("n")).alias("n0"),
        cell(1, mean_p).alias("pre1"),
        cell(1, mean_o).alias("post1"),
        cell(0, mean_p).alias("pre0"),
        cell(0, mean_o).alias("post0"),
        cell(1, var_p).alias("vp1"),
        cell(1, var_o).alias("vo1"),
        cell(0, var_p).alias("vp0"),
        cell(0, var_o).alias("vo0"),
    )
    did = (F.col("post1") - F.col("pre1")) - (F.col("post0") - F.col("pre0"))
    se = F.sqrt(
        F.col("vp1") / F.col("n1")
        + F.col("vo1") / F.col("n1")
        + F.col("vp0") / F.col("n0")
        + F.col("vo0") / F.col("n0")
    )
    return w.select(
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_ctrl"),
        F.round(F.col("pre1"), 4).alias("pre_treat"),
        F.round(F.col("post1"), 4).alias("post_treat"),
        F.round(F.col("pre0"), 4).alias("pre_ctrl"),
        F.round(F.col("post0"), 4).alias("post_ctrl"),
        F.round(did, 4).alias("did_cents"),
        F.round(se, 4).alias("se_cents"),
        F.round(did / se, 6).alias("t_stat"),
    )


@register(
    "stat_mutual_information",
    """
    WITH e AS (
      SELECT event_type AS x,
             CAST(date_part('dow', CAST(ts AS TIMESTAMP)) AS BIGINT) + 1 AS y
      FROM events
    ),
    xy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY x, y),
    mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM xy GROUP BY x),
    my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM xy GROUP BY y),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM xy),
    terms AS (
      SELECT xy.c, mx.cx, my.cy,
             (xy.c * 1.0 / (SELECT n FROM n))
               * ln((CAST(xy.c AS DOUBLE) * (SELECT n FROM n))
                    / (CAST(mx.cx AS DOUBLE) * my.cy)) AS t
      FROM xy JOIN mx ON xy.x = mx.x JOIN my ON xy.y = my.y
    ),
    hx AS (SELECT -sum((cx * 1.0 / (SELECT n FROM n))
                       * ln(cx * 1.0 / (SELECT n FROM n))) AS h FROM mx),
    hy AS (SELECT -sum((cy * 1.0 / (SELECT n FROM n))
                       * ln(cy * 1.0 / (SELECT n FROM n))) AS h FROM my)
    SELECT CAST((SELECT count(*) FROM xy) AS BIGINT) AS n_cells,
           (SELECT n FROM n) AS n_events,
           round(sum(t), 6) AS mi_nats,
           round((SELECT h FROM hx), 6) AS h_x,
           round((SELECT h FROM hy), 6) AS h_y,
           round(sum(t) / sqrt((SELECT h FROM hx) * (SELECT h FROM hy)), 6) AS nmi
    FROM terms
    """,
    "stats",
    "information",
)
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and day-of-week,
    with marginal entropies and the sqrt-normalized NMI (Strehl &
    Ghosh 2002). Counts are exact integers; each term is one division
    inside ln — the JSD/divergence-face precedent: summation-order and
    libm ulp risk under round(6). Cell space is enum-bounded (5 types x
    7 days); the corpus-scale work is one groupBy."""
    e = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"), F.dayofweek("ts").cast("bigint").alias("y")
    )
    xy = e.groupBy("x", "y").agg(F.count(F.lit(1)).cast("bigint").alias("c")).cache()
    mx = xy.groupBy("x").agg(F.sum("c").cast("bigint").alias("cx"))
    my = xy.groupBy("y").agg(F.sum("c").cast("bigint").alias("cy"))
    n = xy.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        xy.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))  # 1-row totals dimension
        .select(
            (
                (F.col("c") * F.lit(1.0) / F.col("n"))
                * F.log(
                    (F.col("c").cast("double") * F.col("n"))
                    / (F.col("cx").cast("double") * F.col("cy"))
                )
            ).alias("t")
        )
    )
    hx = (
        mx.crossJoin(F.broadcast(n))
        .agg(
            (-F.sum(
                (F.col("cx") * F.lit(1.0) / F.col("n"))
                * F.log(F.col("cx") * F.lit(1.0) / F.col("n"))
            )).alias("h")
        )
    )
    hy = (
        my.crossJoin(F.broadcast(n))
        .agg(
            (-F.sum(
                (F.col("cy") * F.lit(1.0) / F.col("n"))
                * F.log(F.col("cy") * F.lit(1.0) / F.col("n"))
            )).alias("h")
        )
    )
    cells = xy.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    return (
        terms.agg(F.sum("t").alias("mi"))
        .crossJoin(F.broadcast(cells))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(hx.select(F.col("h").alias("h_x_raw"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("h_y_raw"))))
        .select(
            "n_cells",
            F.col("n").alias("n_events"),
            F.round(F.col("mi"), 6).alias("mi_nats"),
            F.round(F.col("h_x_raw"), 6).alias("h_x"),
            F.round(F.col("h_y_raw"), 6).alias("h_y"),
            F.round(
                F.col("mi") / F.sqrt(F.col("h_x_raw") * F.col("h_y_raw")), 6
            ).alias("nmi"),
        )
    )


@register(
    "agg_rfm_segments",
    """
    WITH c AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS r_days,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    sc AS (
      SELECT o_custkey, m,
             ((row_number() OVER (ORDER BY r_days DESC, o_custkey) - 1) * 5)
               // (SELECT n FROM n) + 1 AS r_score,
             ((row_number() OVER (ORDER BY f ASC, o_custkey) - 1) * 5)
               // (SELECT n FROM n) + 1 AS f_score,
             ((row_number() OVER (ORDER BY m ASC, o_custkey) - 1) * 5)
               // (SELECT n FROM n) + 1 AS m_score
      FROM c
    )
    SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(m) * 1.0 / count(*), 4) AS avg_monetary_cents
    FROM sc GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    "aggregation",
    "rfm",
    "distributed-rank",
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    vs the corpus max date), frequency (order count), monetary (exact
    cents); each scored into quintiles 1-5 (5 = most recent / most
    frequent / highest spend) by GLOBAL rank — the three rankings run
    on the bucketed two-phase row_number plan (no single-partition
    window over the customer frame). Quintile = ((rn-1)*5) div n + 1
    with integer division in BOTH engines (the //-vs-round divergence
    gotcha). Output is the bounded <=125-segment cube with exact
    counts."""
    o = t(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    c = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("f"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("m"),
        )
        .crossJoin(F.broadcast(maxd))  # 1-row max-date dimension
        .select(
            "o_custkey",
            F.datediff(F.col("dmax"), F.col("last_d")).cast("bigint").alias("r_days"),
            "f",
            "m",
        )
    )
    # All three rankings LAYERED on one frame (negative key => descending
    # recency rank without a desc order path): one boundary probe
    # instead of three, and the three per-ranking equi-joins back on
    # o_custkey (a shuffle of the customer frame per ranking at scale)
    # disappear — output-identical by the rankstats bucket-independence
    # property. The customer count rides out of the same probe as an
    # exact literal (no extra count action, no broadcast dimension, no
    # caller-side cache — the operator caches).
    ranked, n_rows = bucketed_row_numbers(
        c.withColumn("neg_r", -F.col("r_days")),
        [
            ("neg_r", ["o_custkey"], "rn_r"),
            ("f", ["o_custkey"], "rn_f"),
            ("m", ["o_custkey"], "rn_m"),
        ],
        return_count=True,
    )
    sc = (
        ranked.withColumn("n", F.lit(n_rows).cast("bigint"))
        .select(
            "m",
            (F.expr("((rn_r - 1) * 5) div n") + 1).cast("bigint").alias("r_score"),
            (F.expr("((rn_f - 1) * 5) div n") + 1).cast("bigint").alias("f_score"),
            (F.expr("((rn_m - 1) * 5) div n") + 1).cast("bigint").alias("m_score"),
        )
    )
    return (
        sc.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("m") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
                "avg_monetary_cents"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "stat_winsorized_mean",
    """
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    g AS (
      SELECT pri, cents, CAST(count(*) AS BIGINT) AS w FROM o GROUP BY pri, cents
    ),
    cum AS (
      SELECT pri, cents, w,
             CAST(sum(w) OVER (PARTITION BY pri ORDER BY cents) AS BIGINT) AS cw
      FROM g
    ),
    ng AS (SELECT pri, CAST(sum(w) AS BIGINT) AS n FROM g GROUP BY pri),
    ranks AS (
      SELECT pri, n,
             ((n - 1) * 10) // 100 + 1 AS klo,
             ((n - 1) * 90) // 100 + 1 AS khi
      FROM ng
    ),
    lo AS (
      SELECT c.pri, min(c.cents) AS lo_cents
      FROM cum c JOIN ranks r ON c.pri = r.pri AND c.cw >= r.klo
      GROUP BY c.pri
    ),
    hi AS (
      SELECT c.pri, min(c.cents) AS hi_cents
      FROM cum c JOIN ranks r ON c.pri = r.pri AND c.cw >= r.khi
      GROUP BY c.pri
    )
    SELECT o.pri AS o_orderpriority, r.n,
           CAST(lo.lo_cents AS BIGINT) AS lo_cents,
           CAST(hi.hi_cents AS BIGINT) AS hi_cents,
           round(sum(greatest(lo.lo_cents, least(hi.hi_cents, o.cents))) * 1.0
                 / count(*), 4) AS winsor_mean_cents
    FROM o JOIN ranks r ON o.pri = r.pri
           JOIN lo ON o.pri = lo.pri JOIN hi ON o.pri = hi.pri
    GROUP BY o.pri, r.n, lo.lo_cents, hi.hi_cents
    ORDER BY o_orderpriority
    """,
    "stats",
    "robust",
    "distributed-rank",
)
def stat_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority winsorized mean of order totals: values clamped to
    the group's exact type-1 p10/p90 order statistics (rank
    ((n-1)*q)div 100 + 1 over exact cents), then averaged. The
    per-group quantiles come from the GROUPED bucketed cumulative plan
    (operators/rankstats.py) — a group never funnels through one task
    even though group count (5 priorities) is far below task count.
    Everything is exact integers until the single mean division."""
    o = t(spark, sf_dir, "orders").where(
        # NULL keys would poison the grouped rank plan (rankstats refuses
        # NULL group/order keys); they carry no quantile information
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    ).select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = o.groupBy("pri", "cents").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    cum = grouped_bucketed_cumsum(g, ["pri"], "cents", "w", out_col="cw")
    ng = g.groupBy("pri").agg(F.sum("w").cast("bigint").alias("n"))
    ranks = ng.select(
        "pri",
        "n",
        (F.expr("((n - 1) * 10) div 100") + 1).alias("klo"),
        (F.expr("((n - 1) * 90) div 100") + 1).alias("khi"),
    )
    cr = cum.join(F.broadcast(ranks), "pri")
    # both order statistics in ONE pass over the cumulative frame:
    # min over a conditional is min over the filtered subset, and the
    # rank thresholds are always satisfiable (cw reaches n >= klo, khi),
    # so this is value- and join-cardinality-identical to two filtered
    # passes — but the windowed `cum` subtree executes once, not twice
    # (it is the expensive part: sort + bucket exchange over every
    # distinct cents value).
    loh = cr.groupBy("pri").agg(
        F.min(F.when(F.col("cw") >= F.col("klo"), F.col("cents"))).alias("lo_cents"),
        F.min(F.when(F.col("cw") >= F.col("khi"), F.col("cents"))).alias("hi_cents"),
    )
    return (
        o.join(F.broadcast(ranks), "pri")
        .join(F.broadcast(loh), "pri")
        .groupBy(F.col("pri").alias("o_orderpriority"), "n", "lo_cents", "hi_cents")
        .agg(
            F.round(
                F.sum(
                    F.greatest(F.col("lo_cents"), F.least(F.col("hi_cents"), F.col("cents")))
                )
                * F.lit(1.0)
                / F.count(F.lit(1)),
                4,
            ).alias("winsor_mean_cents")
        )
        .select(
            "o_orderpriority",
            "n",
            F.col("lo_cents").cast("bigint").alias("lo_cents"),
            F.col("hi_cents").cast("bigint").alias("hi_cents"),
            "winsor_mean_cents",
        )
        .orderBy("o_orderpriority")
    )


_KMV_K = 256
_TWO60 = float(1 << 60)


@register(
    "sketch_kmv_distinct",
    f"""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
      FROM documents
    ),
    tri AS (
      SELECT DISTINCT g
      FROM (SELECT unnest(list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
            FROM toks)
    ),
    h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS th FROM tri
    ),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS d FROM h),
    kth AS (
      SELECT max(th) AS kth, CAST(count(*) AS BIGINT) AS k_used
      FROM (SELECT th FROM h ORDER BY th LIMIT {_KMV_K})
    )
    SELECT s.d AS true_distinct, k.k_used,
           CAST(k.kth AS BIGINT) AS kth_hash,
           round(CASE WHEN s.d <= {_KMV_K} THEN s.d * 1.0
                      ELSE ({_KMV_K} - 1) * {_TWO60} / k.kth END, 4) AS est_distinct,
           round((CASE WHEN s.d <= {_KMV_K} THEN s.d * 1.0
                       ELSE ({_KMV_K} - 1) * {_TWO60} / k.kth END - s.d) * 1.0 / s.d,
                 6) AS rel_err
    FROM stats s, kth k
    """,
    "sketch",
    "kmv",
    "distinct-count",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-count
    sketch over corpus trigrams with k=256 and 60-bit md5 hashes — the
    oracle reproduces the exact k-th minimum and therefore the exact
    estimate (vs HLL, which is engine-seeded and rows-only). Estimator
    (k-1)/u_(k) with u = h/2^60; when the true cardinality is <= k the
    sketch IS exact and says so. Plan: explode → distinct (the
    corpus-scale shuffle), then a global min-k = sort-limit
    (TakeOrderedAndProject) — the sketch ships 256 rows at 100 TB."""
    toks = t(spark, sf_dir, "documents").select(
        F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0).alias("tk")
    )
    tri = toks.select(
        F.explode(
            F.when(
                F.size("tk") < 3, F.array().cast("array<string>")
            ).otherwise(
                F.expr(
                    "transform(sequence(1, size(tk) - 2),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1),"
                    " ' ', element_at(tk, i + 2)))"
                )
            )
        ).alias("g")
    ).distinct()
    h = tri.select(
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("th")
    ).distinct().cache()
    stats = h.agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    kth = (
        h.orderBy("th")
        .limit(_KMV_K)
        .agg(F.max("th").alias("kth"), F.count(F.lit(1)).cast("bigint").alias("k_used"))
    )
    est = F.when(
        F.col("d") <= _KMV_K, F.col("d") * F.lit(1.0)
    ).otherwise(F.lit(_KMV_K - 1) * F.lit(_TWO60) / F.col("kth"))
    return (
        stats.crossJoin(F.broadcast(kth))  # two 1-row frames
        .select(
            F.col("d").alias("true_distinct"),
            "k_used",
            F.col("kth").cast("bigint").alias("kth_hash"),
            F.round(est, 4).alias("est_distinct"),
            F.round((est - F.col("d")) * F.lit(1.0) / F.col("d"), 6).alias("rel_err"),
        )
    )


@register(
    "eval_conformal_interval",
    """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 4 AS fold
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    model AS (
      SELECT pri, sum(cents) * 1.0 / count(*) AS yhat,
             CAST(count(*) AS BIGINT) AS n_tr
      FROM o WHERE fold = 0 GROUP BY pri
    ),
    nt AS (SELECT CAST(coalesce(sum(n_tr), 0) AS BIGINT) AS n_train FROM model),
    cal AS (
      SELECT abs(o.cents - m.yhat) AS resid, o.o_orderkey
      FROM o JOIN model m ON o.pri = m.pri WHERE o.fold = 2
    ),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
    r AS (
      SELECT resid, row_number() OVER (ORDER BY resid, o_orderkey) AS rn FROM cal
    ),
    q AS (
      SELECT r.resid AS q_resid
      FROM r, nc
      WHERE r.rn = least(nc.n_cal, (9 * (nc.n_cal + 1) + 9) // 10)
    ),
    test AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN abs(o.cents - m.yhat) <= (SELECT q_resid FROM q)
                           THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM o JOIN model m ON o.pri = m.pri WHERE o.fold % 2 = 1
    )
    SELECT (SELECT n_train FROM nt) AS n_train,
           (SELECT n_cal FROM nc) AS n_cal, t.n_test,
           round((SELECT q_resid FROM q), 4) AS q_resid_cents,
           t.covered,
           round(t.covered * 1.0 / t.n_test, 6) AS coverage
    FROM test t
    """,
    "eval",
    "conformal",
    "distributed-rank",
)
def eval_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk et al. 2005; Lei et
    al. 2018) for a per-priority mean-price model, with a PROPER 3-way
    split: the model fits on fold 0 (o_orderkey % 4 == 0), the residual
    quantile at rank ceil(0.9*(n+1)) comes from the DISJOINT calibration
    fold 2, and marginal coverage is measured on the odd keys. Fitting
    and calibrating on the same rows (the pre-round-6 spelling) shrinks
    the calibration residuals in-sample and loses the finite-sample
    guarantee — Monte Carlo measured ~88.6% coverage vs the proper
    split's 90.1% (tests/test_calibration8.py). Residual ranking runs on
    the bucketed two-phase row_number plan; residuals are
    identically-computed doubles (one division inside the model mean),
    so the rank and quantile agree bit-exactly across engines."""
    o = t(spark, sf_dir, "orders").where(
        # observed targets only: a NULL price has no residual to rank
        F.col("o_totalprice").isNotNull()
    ).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderkey") % 4).alias("fold"),
    ).cache()  # model fit + calibration + test all reuse this
    model = (
        o.where(F.col("fold") == 0)
        .groupBy("pri")
        .agg(
            (F.sum("cents") * F.lit(1.0) / F.count(F.lit(1))).alias("yhat"),
            F.count(F.lit(1)).cast("bigint").alias("n_tr"),
        )
    )
    nt = model.agg(
        F.coalesce(F.sum("n_tr"), F.lit(0)).cast("bigint").alias("n_train")
    )
    cal = (
        o.where(F.col("fold") == 2)
        .join(F.broadcast(model), "pri")
        .select(F.abs(F.col("cents") - F.col("yhat")).alias("resid"), "o_orderkey")
    )
    nc = cal.agg(F.count(F.lit(1)).cast("bigint").alias("n_cal"))
    r = bucketed_row_number(cal, "resid", ["o_orderkey"], out_col="rn")
    q = (
        r.crossJoin(F.broadcast(nc))  # 1-row count dimension
        .where(
            F.col("rn")
            == F.least(F.col("n_cal"), F.expr("(9 * (n_cal + 1) + 9) div 10"))
        )
        .select(F.col("resid").alias("q_resid"))
    )
    test = (
        o.where(F.col("fold") % 2 == 1)
        .join(F.broadcast(model), "pri")
        .crossJoin(F.broadcast(q))  # 1-row quantile dimension
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("yhat")) <= F.col("q_resid"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    # q_resid joins in as the oracle's scalar subquery does — a LEFT
    # join on TRUE so an empty calibration quantile yields NULL, not a
    # first() over the (possibly empty) test frame (which leaked NaN on
    # a 1-row tier where the single order landed on the test half)
    return (
        test.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .join(F.broadcast(q), F.lit(True), "left")
        .select(
            "n_train",
            "n_cal",
            "n_test",
            F.round(F.col("q_resid"), 4).alias("q_resid_cents"),
            "covered",
            F.round(F.col("covered") * F.lit(1.0) / F.col("n_test"), 6).alias("coverage"),
        )
    )


@register(
    "sketch_kmv_jaccard",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
      FROM documents
    ),
    tri AS (
      SELECT DISTINCT doc_id % 2 AS side, g
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(tk) - 1),
                     i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS g
            FROM toks)
    ),
    h AS (
      SELECT g,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS th,
             CAST(max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
             CAST(max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS in_b
      FROM tri GROUP BY g
    ),
    k AS (SELECT * FROM h ORDER BY th LIMIT {_KMV_K}),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS k_used,
             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS overlap
      FROM k
    ),
    truth AS (
      SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS i,
             CAST(count(*) AS BIGINT) AS u
      FROM h
    )
    SELECT est.k_used, est.overlap,
           round(est.overlap * 1.0 / est.k_used, 6) AS jaccard_est,
           round(truth.i * 1.0 / truth.u, 6) AS jaccard_true,
           round(est.overlap * 1.0 / est.k_used - truth.i * 1.0 / truth.u, 6) AS est_err
    FROM est, truth
    """,
    "sketch",
    "kmv",
    "jaccard",
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-resemblance sketch (Broder 1997 / Beyer et al. 2007):
    the Jaccard similarity of the even-doc vs odd-doc trigram sets
    estimated from the k=256 minimum md5 hash values of the UNION —
    the fraction of those bottom-k members present in both sides. The
    oracle reproduces the exact bottom-k set (md5-standardized 60-bit
    hashes), so estimate AND truth are value-checked. Plan: one
    distinct pass to the (trigram, side-flags) frame, a global bottom-k
    = sort-limit, two 1-row reductions — the sketch ships 256 rows at
    100 TB and composes with sketch_kmv_distinct's cardinality
    estimate."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0).alias("tk"),
    )
    tri = toks.select(
        (F.col("doc_id") % 2).alias("side"),
        F.explode(
            F.when(F.size("tk") < 3, F.array().cast("array<string>")).otherwise(
                F.expr(
                    "transform(sequence(1, size(tk) - 2),"
                    " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1),"
                    " ' ', element_at(tk, i + 2)))"
                )
            )
        ).alias("g"),
    ).distinct()
    h = tri.groupBy("g").agg(
        F.max(F.when(F.col("side") == 0, 1).otherwise(0)).cast("bigint").alias("in_a"),
        F.max(F.when(F.col("side") == 1, 1).otherwise(0)).cast("bigint").alias("in_b"),
    ).select(
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint").alias("th"),
        "in_a",
        "in_b",
    ).cache()  # bottom-k + truth reuse the hash frame
    k = h.orderBy("th").limit(_KMV_K)
    est = k.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("overlap"),
    )
    truth = h.agg(
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("i"),
        F.count(F.lit(1)).cast("bigint").alias("u"),
    )
    je = F.col("overlap") * F.lit(1.0) / F.col("k_used")
    jt = F.col("i") * F.lit(1.0) / F.col("u")
    return est.crossJoin(F.broadcast(truth)).select(  # two 1-row frames
        "k_used",
        "overlap",
        F.round(je, 6).alias("jaccard_est"),
        F.round(jt, 6).alias("jaccard_true"),
        F.round(je - jt, 6).alias("est_err"),
    )


def _morton_sql(x: str, y: str) -> str:
    """32-bit Morton (Z-order) interleave of two 16-bit ints, spelled as
    a plain arithmetic sum so DuckDB and Spark compute it identically."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


@register(
    "layout_zorder_buckets",
    f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
      FROM orders
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
    rx AS (
      SELECT o_orderkey,
             ((row_number() OVER (ORDER BY o_custkey, o_orderkey) - 1) * 65536)
               // (SELECT n FROM n) AS x
      FROM o
    ),
    ry AS (
      SELECT o_orderkey,
             ((row_number() OVER (ORDER BY day, o_orderkey) - 1) * 65536)
               // (SELECT n FROM n) AS y
      FROM o
    ),
    z AS (
      SELECT o.o_orderkey, o.o_custkey, o.day,
             CAST({_morton_sql('rx.x', 'ry.y')} AS BIGINT) AS zkey
      FROM o JOIN rx ON o.o_orderkey = rx.o_orderkey
             JOIN ry ON o.o_orderkey = ry.o_orderkey
    )
    SELECT CAST(zkey // 268435456 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(o_custkey) AS BIGINT) AS min_cust,
           CAST(max(o_custkey) AS BIGINT) AS max_cust,
           CAST(min(day) AS BIGINT) AS min_day,
           CAST(max(day) AS BIGINT) AS max_day
    FROM z GROUP BY z_bucket ORDER BY z_bucket
    """,
    "layout",
    "zorder",
    "distributed-rank",
)
def layout_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys for the (customer, order-day)
    plane — the multi-dimensional layout key a lakehouse OPTIMIZE
    ZORDER BY computes so files stay skippable on BOTH dims. Each dim
    normalizes to 16 bits by GLOBAL rank (the bucketed two-phase
    row_number — no single-partition window), the interleave is a pure
    integer expression spelled identically in both engines, and the
    report shows per-top-4-bit-bucket row counts plus each bucket's
    customer AND day ranges — the bounded min/max spans on BOTH
    dimensions per bucket are exactly the file-skipping property a
    linear sort on one key cannot deliver. Everything is exact
    integers."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
        .cast("bigint")
        .alias("day"),
    )
    # Both dimension rankings LAYERED on one frame (no per-dimension
    # equi-join back on the order key at all — the old spelling shuffled
    # the fact frame once per dimension to reassemble (x, y)): one
    # boundary probe serves both rankings, output-identical by the
    # rankstats bucket-independence property. The row count rides out of
    # that probe as an exact literal (no count action, no broadcast
    # dimension, no caller cache — the operator caches internally).
    ranked, n_rows = bucketed_row_numbers(
        o,
        [
            ("o_custkey", ["o_orderkey"], "rn_x"),
            ("day", ["o_orderkey"], "rn_y"),
        ],
        return_count=True,
    )
    z = (
        ranked.withColumn("n", F.lit(n_rows).cast("bigint"))
        .select(
            "o_custkey",
            "day",
            F.expr("((rn_x - 1) * 65536) div n").alias("x"),
            F.expr("((rn_y - 1) * 65536) div n").alias("y"),
        )
        .select(
            "o_custkey",
            "day",
            F.expr(_morton_sql("x", "y")).cast("bigint").alias("zkey"),
        )
    )
    return (
        z.groupBy(F.expr("zkey div 268435456").cast("bigint").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_custkey").cast("bigint").alias("min_cust"),
            F.max("o_custkey").cast("bigint").alias("max_cust"),
            F.min("day").cast("bigint").alias("min_day"),
            F.max("day").cast("bigint").alias("max_day"),
        )
        .orderBy("z_bucket")
    )


_INT8_NQ = 5  # ANN demo: queries are vec_id < 5


@register(
    "sim_topk_int8",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e
    ),
    q AS (
      SELECT vec_id, amax,
             CASE WHEN amax = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> greatest(CAST(-127 AS BIGINT),
                         least(CAST(127 AS BIGINT),
                               CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))))
             END AS qv
      FROM m
    ),
    dq AS (
      SELECT vec_id,
             list_transform(range(1, len(qv) + 1), i -> qv[i] * (amax / 127.0)) AS dv
      FROM q
    ),
    nm AS (
      SELECT vec_id, dv,
             sqrt(list_reduce([0.0] || list_transform(dv, x -> x * x),
                              (a, b) -> a + b)) AS nrm
      FROM dq
    ),
    pairs AS (
      SELECT qr.vec_id AS qid, c.vec_id AS neighbor_id,
             list_reduce([0.0] || list_transform(range(1, len(c.dv) + 1),
                           i -> c.dv[i] * qr.dv[i]), (a, b) -> a + b)
               / (c.nrm * qr.nrm) AS cosine
      FROM nm c, nm qr
      WHERE qr.vec_id < {_INT8_NQ} AND c.vec_id <> qr.vec_id
        AND c.nrm > 0 AND qr.nrm > 0
    ),
    r AS (
      SELECT qid, neighbor_id, cosine,
             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cosine, 6) AS cosine
    FROM r WHERE rank <= 3 ORDER BY qid, rank
    """,
    "similarity",
    "quantization",
    "ann",
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 cosine neighbors computed on the INT8-QUANTIZED vectors
    (embed_int8_quant's symmetric code, dequantized q*scale) — the
    compressed-serving path an ANN index actually scans, here with a
    FULL value oracle because the quantization is deterministic in both
    engines. Dot products fold sequentially in index order (bit-exact
    cross-engine); each per-query top-3 is its own
    TakeOrderedAndProject plan over the candidate frame (the bounded
    union-of-limit-k shape — no single-partition window over all
    candidates), unioned across the {_INT8_NQ} demo queries. Pairs with
    sim_topk_pq's rows-only ADC path: this one trades 4x compression
    (vs PQ's 32x) for exact oracle-checkability."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = t(spark, sf_dir, "embeddings").select("vec_id", v.alias("v"))
    amax = F.array_max(F.transform(F.col("v"), F.abs))
    m = e.select("vec_id", "v", amax.alias("amax"))
    scale = F.col("amax") / F.lit(127.0)
    qv = F.when(
        F.col("amax") == 0, F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint"))
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.greatest(
                F.lit(-127).cast("bigint"),
                F.least(F.lit(127).cast("bigint"), F.floor(x / scale + F.lit(0.5))),
            ),
        )
    )
    dv = F.transform(qv, lambda qq: qq * scale)
    nm = (
        m.select("vec_id", dv.alias("dv"))
        .withColumn(
            "nrm",
            F.sqrt(F.aggregate(F.transform(F.col("dv"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
        )
        .where(F.col("nrm") > 0)
        .cache()  # candidate side reused by all queries
    )
    queries = {r["vec_id"]: r for r in nm.where(F.col("vec_id") < _INT8_NQ).collect()}
    parts = []
    for qid in sorted(queries):
        qr = queries[qid]
        # ONE F.expr literal array per arm instead of 64 F.lit py4j
        # round trips x 5 arms (driver build tax, family-B pattern);
        # sql_double spells each component exactly, ±inf/NaN included
        qdv = F.expr("array(" + ",".join(sql_double(x) for x in qr["dv"]) + ")")
        cos = F.aggregate(
            F.zip_with(F.col("dv"), qdv, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        ) / (F.col("nrm") * F.lit(float(qr["nrm"])))
        topk = (
            nm.where(F.col("vec_id") != qid)
            .select(
                F.lit(qid).cast("bigint").alias("qid"),
                F.col("vec_id").alias("neighbor_id"),
                cos.alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
            .limit(3)
        )
        parts.append(topk)
    if not parts:  # degenerate corpus: no demo queries survive the norm filter
        return spark.createDataFrame(
            [], "qid bigint, rank bigint, neighbor_id bigint, cosine double"
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionAll(p_)
    from pyspark.sql import Window as W

    # rank within each 3-row result — bounded frame
    return out.select(
        "qid",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("neighbor_id")))
        .cast("bigint")
        .alias("rank"),
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
    ).orderBy("qid", "rank")
