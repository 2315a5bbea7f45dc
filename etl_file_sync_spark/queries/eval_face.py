"""Model-evaluation face: the metrics a quality-classifier or filter
model is judged by, computed distributed and value-exact.

ROC-AUC is the Mann-Whitney statistic in disguise (AUC = (R₊ −
n₊(n₊+1)/2) / (n₊·n₋) over midranks of the scores), so it rides the
same bucketed two-phase rank plan as the statistics face — no
single-partition window, exact-half midranks, bit-reproducible. Scores
are the engine's own logistic quality probabilities QUANTIZED to their
4-decimal rounding grain before ranking, so both engines rank identical
values and tie-handling is deterministic.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this extends the engine-only evaluation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.operators import text as X
from etl_file_sync_spark.operators.rankstats import bucketed_cumsums, midranked
from etl_file_sync_spark.queries.inputs import orders_with_region
from etl_file_sync_spark.queries.registry import register, t

_STOPLIST_SQL = "['the','a','and','of','to','in','is','that']"

# shared oracle CTE: the engine's logistic quality score (4-decimal
# grain, identical to text_quality_logistic) + the lang=en label
_SCORED_SQL = f"""
    f AS (
      -- a NULL-text document has no quality score: it leaves the
      -- evaluation frame entirely (both engines), rather than leaking
      -- a NULL score into confusion counts / calibration bins
      SELECT doc_id, lang, string_split(text, ' ') AS raw FROM documents
      WHERE text IS NOT NULL
    ),
    x AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             least(len(raw) / 100.0, 10.0) AS len_score,
             len(list_distinct(raw)) * 1.0 / len(raw) AS ttr,
             len(list_filter(raw, t -> list_contains({_STOPLIST_SQL}, t))) * 1.0 / len(raw) AS stop_frac
      FROM f
    ),
    scored AS (
      SELECT doc_id, label,
             round(1.0 / (1.0 + exp(-(-1.5 + 0.8 * len_score + 2.0 * ttr + 1.5 * stop_frac))), 4) AS score
      FROM x
    )
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label, score): engine logistic quality at the 4-decimal
    grain, labeled by lang=en. NULL-text documents are excluded — they
    have no score to evaluate (mirrored in _SCORED_SQL)."""
    return X.with_logistic_quality(
        t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        F.round("quality_prob", 4).alias("score"),
    )


def _label_rank_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: positives ``np``, negatives ``nn`` and the positives'
    midrank sum ``rp`` of the scored frame, ranked over the DISTINCT
    score values by the bucketed two-phase plan."""
    g = _scored(spark, sf_dir).groupBy("score", "label").agg(F.count(F.lit(1)).alias("c"))
    _, r = midranked(g, "score")
    pos = F.col("label") == 1
    return r.agg(
        F.sum(F.when(pos, F.col("c")).otherwise(0)).cast("bigint").alias("np"),
        F.sum(F.when(F.col("label") == 0, F.col("c")).otherwise(0)).cast("bigint").alias("nn"),
        F.sum(F.when(pos, F.col("c") * F.col("avg_rank")).otherwise(0.0)).alias("rp"),
    )


def _confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion matrix (tp, fp, fn, tn) of the quality filter at
    threshold 0.5 against the lang=en label, in one aggregation pass."""
    pred = F.col("score") >= 0.5
    pos = F.col("label") == 1
    return _scored(spark, sf_dir).agg(
        F.sum((pred & pos).cast("int")).cast("bigint").alias("tp"),
        F.sum((pred & ~pos).cast("int")).cast("bigint").alias("fp"),
        F.sum((~pred & pos).cast("int")).cast("bigint").alias("fn"),
        F.sum((~pred & ~pos).cast("int")).cast("bigint").alias("tn"),
    )


@register(
    "eval_roc_auc",
    f"""
    WITH {_SCORED_SQL},
    g AS (SELECT score, label, count(*) AS c FROM scored GROUP BY score, label),
    vals AS (SELECT score, CAST(sum(c) AS BIGINT) AS cnt FROM g GROUP BY score),
    cum AS (
      SELECT score, cnt,
             coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vals
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN g.label = 1 THEN g.c ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN g.label = 0 THEN g.c ELSE 0 END) AS BIGINT) AS n_neg,
             sum(CASE WHEN g.label = 1 THEN g.c * cum.avg_rank ELSE 0 END) AS r_pos
      FROM g JOIN cum ON g.score = cum.score
    )
    SELECT n_pos, n_neg,
           round((r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * 1.0 * n_neg), 6) AS auc
    FROM agg
    """,
    "eval",
    "rank-test",
    "distributed-rank",
)
def eval_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC of the logistic quality score against the
    lang=en label, via the rank-sum identity: AUC = (R₊ − n₊(n₊+1)/2) /
    (n₊·n₋) with midranks (ties = trapezoid handling). Ranks come from
    the bucketed two-phase plan over DISTINCT score values — at any
    corpus scale the window only ever sees the quantized score
    vocabulary, never rows."""
    agg = _label_rank_sums(spark, sf_dir)
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (F.col("rp") - F.col("np") * (F.col("np") + 1) / F.lit(2.0))
            / (F.col("np") * F.lit(1.0) * F.col("nn")),
            6,
        ).alias("auc"),
    )


@register(
    "eval_precision_recall",
    f"""
    WITH {_SCORED_SQL},
    cm AS (
      SELECT CAST(sum(CASE WHEN score >= 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score >= 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score < 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN score < 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           round(tp * 1.0 / (tp + fp), 6) AS precision,
           round(tp * 1.0 / (tp + fn), 6) AS recall,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
           round((tp + tn) * 1.0 / (tp + fp + fn + tn), 6) AS accuracy
    FROM cm
    """,
    "eval",
    "classification",
)
def eval_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1/accuracy of the logistic
    quality filter at threshold 0.5 against the lang=en label — one
    combiner-friendly aggregation pass; the threshold compares the
    4-decimal-quantized score so both engines make identical calls."""
    cm = _confusion(spark, sf_dir)
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


@register(
    "dq_calibration_curve",
    f"""
    WITH {_SCORED_SQL},
    b AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket, score, label
      FROM scored
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS BIGINT)
                 / (10000.0 * count(*)), 6) AS mean_predicted,
           round(CAST(sum(label) AS BIGINT) * 1.0 / count(*), 6) AS observed_rate
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    "eval",
    "calibration",
)
def dq_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality classifier: decile buckets of
    the predicted probability vs the observed lang=en rate per bucket.
    The gap between mean_predicted and observed_rate IS the calibration
    error a filter-threshold decision needs to know. One groupBy over
    the scored frame; bucket ids come from the quantized score so both
    engines bucket identically."""
    s = _scored(spark, sf_dir)
    b = s.withColumn("bucket", F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int"))
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # exact: 4-decimal scores sum as integer ten-thousandths, so
            # the mean is order-insensitive (a float avg() hit a 6th-
            # decimal rounding boundary between engines at sf0.01)
            F.round(
                F.sum(F.round(F.col("score") * 10000).cast("bigint")).cast("bigint")
                / (10000.0 * F.count(F.lit(1))),
                6,
            ).alias("mean_predicted"),
            F.round(F.sum("label").cast("bigint") / F.count(F.lit(1)), 6).alias("observed_rate"),
        )
        .orderBy("bucket")
    )


@register(
    "stat_anova_oneway",
    """
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(cents) AS BIGINT) AS s_g,
             sum(cents * 1.0 * cents) AS q_g
      FROM c GROUP BY grp
    ),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS k FROM g),
    parts AS (
      SELECT sum(q_g - s_g * 1.0 * s_g / n_g) AS ssw,
             sum(n_g * pow(s_g * 1.0 / n_g - (SELECT s FROM tot) * 1.0 / (SELECT n FROM tot), 2)) AS ssb
      FROM g
    )
    SELECT k AS n_groups, n AS n_rows,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
    FROM parts, tot
    """,
    "stats",
    "anova",
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order totals across the five order priorities:
    per-group sufficient statistics (count, sum, sum-of-squares in
    integer cents) reduce the fact table in ONE combiner-friendly pass;
    SSB/SSW and the F statistic assemble on the 5-row group frame. The
    oracle restates the identical sufficient-statistics algebra."""
    c = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    g = c.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("s_g"),
        F.sum(F.col("cents") * 1.0 * F.col("cents")).alias("q_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ss = g.crossJoin(F.broadcast(tot)).agg(  # 1-row totals dimension
        F.sum(F.col("q_g") - F.col("s_g") * 1.0 * F.col("s_g") / F.col("n_g")).alias("ssw"),
        F.sum(
            F.col("n_g")
            * F.pow(F.col("s_g") * 1.0 / F.col("n_g") - F.col("s") * 1.0 / F.col("n"), 2)
        ).alias("ssb"),
    )
    # totals come from the always-1-row tot frame (the oracle's scalar
    # subquery shape), not a first() over the possibly-empty group frame
    parts = tot.join(F.broadcast(ss), F.lit(True), "left")
    return parts.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
    )


@register(
    "eval_logloss_brier",
    f"""
    WITH {_SCORED_SQL},
    clipped AS (
      SELECT label, score,
             least(greatest(score, 0.0001), 0.9999) AS p
      FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(-avg(label * ln(p) + (1 - label) * ln(1 - p)), 6) AS log_loss,
           round(avg((score - label) * (score - label)), 6) AS brier_score
    FROM clipped
    """,
    "eval",
    "proper-scoring",
)
def eval_logloss_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy (log-loss) and Brier score of the logistic quality
    probability against the lang=en label — the proper scoring rules
    that complement threshold metrics (eval_precision_recall) and
    ranking metrics (eval_roc_auc). One aggregation pass over the
    scored frame; the 4-decimal score grain can reach exactly 0 or 1,
    so log-loss clips to [1e-4, 1-1e-4] in BOTH engines while Brier
    uses the raw score."""
    s = _scored(spark, sf_dir)
    p = F.least(F.greatest(F.col("score"), F.lit(0.0001)), F.lit(0.9999))
    return s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            -F.avg(F.col("label") * F.log(p) + (1 - F.col("label")) * F.log(1 - p)), 6
        ).alias("log_loss"),
        F.round(
            F.avg((F.col("score") - F.col("label")) * (F.col("score") - F.col("label"))), 6
        ).alias("brier_score"),
    )


@register(
    "eval_ndcg_topk",
    """
    WITH rel AS (
      SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
             CAST(count(o.o_orderkey) AS BIGINT) AS gain
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT c_nationkey, gain,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS pred_rk,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY gain DESC, c_custkey) AS ideal_rk
      FROM rel
    ),
    agg AS (
      SELECT c_nationkey,
             sum(CASE WHEN pred_rk <= 10 THEN gain / log2(pred_rk + 1) ELSE 0 END) AS dcg,
             sum(CASE WHEN ideal_rk <= 10 THEN gain / log2(ideal_rk + 1) ELSE 0 END) AS idcg
      FROM scored GROUP BY 1
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           round(dcg, 6) AS dcg_10, round(idcg, 6) AS idcg_10,
           round(dcg / nullif(idcg, 0), 6) AS ndcg_10
    FROM agg ORDER BY nationkey
    """,
    "eval",
    "ranking",
    "ndcg",
)
def eval_ndcg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per nation for a ranking that orders customers by
    account balance against integer relevance gains (order count) —
    the offline ranking-quality metric for any retrieval/recommender
    eval. Gains are exact integers; DCG divides each by log2(rank+1)
    of a small integer and sums ≤10 terms (round-6 absorbs the
    summation-order ulps). Both the predicted and ideal rankings break
    ties on c_custkey, so the permutations are bit-identical across
    engines. One shuffle keys everything by nation; per-nation windows
    carry bounded state."""
    from pyspark.sql import Window as W

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    rel = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(F.count("o_orderkey").cast("bigint").alias("gain"))
    )
    scored = rel.select(
        "c_nationkey",
        "gain",
        F.row_number()
        .over(W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey"))
        .alias("pred_rk"),
        F.row_number()
        .over(W.partitionBy("c_nationkey").orderBy(F.col("gain").desc(), "c_custkey"))
        .alias("ideal_rk"),
    )
    agg = scored.groupBy("c_nationkey").agg(
        F.sum(
            F.when(F.col("pred_rk") <= 10, F.col("gain") / F.log2(F.col("pred_rk") + 1)).otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(F.col("ideal_rk") <= 10, F.col("gain") / F.log2(F.col("ideal_rk") + 1)).otherwise(0.0)
        ).alias("idcg"),
    )
    return agg.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.round("dcg", 6).alias("dcg_10"),
        F.round("idcg", 6).alias("idcg_10"),
        F.round(F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0)), 6).alias("ndcg_10"),
    ).orderBy("nationkey")


@register(
    "eval_map_mrr",
    """
    WITH r AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rk
      FROM events
    ),
    cum AS (
      SELECT user_id, rel, rk,
             CAST(sum(rel) OVER (PARTITION BY user_id ORDER BY rk) AS BIGINT) AS nrel
      FROM r
    ),
    per_user AS (
      SELECT user_id,
             CAST(max(nrel) AS BIGINT) AS n_rel,
             sum(CASE WHEN rel = 1 THEN nrel * 1.0 / rk ELSE 0 END) AS ap_num,
             min(CASE WHEN rel = 1 THEN rk END) AS first_rel
      FROM cum GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(sum(ap_num / n_rel) / count(*), 6) AS map,
           round(sum(1.0 / first_rel) / count(*), 6) AS mrr
    FROM per_user WHERE n_rel > 0
    """,
    "eval",
    "ranking-metrics",
)
def eval_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP and MRR over per-user event rankings: each user is a
    'query', their events ranked by value descending (event_id breaks
    ties deterministically), purchases are the relevant items. AP's
    precision-at-hit terms are exact-integer ratios (nrel/rank) with
    one division each; users with no purchases are excluded from both
    means, matching the IR convention. The windows partition by
    user_id — per-partition cardinality is a user's activity count
    (the sessionize/behavior-face precedent), never the corpus."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        "value",
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    r = e.withColumn("rk", F.row_number().over(w))
    wc = W.partitionBy("user_id").orderBy("rk")
    cum = r.withColumn("nrel", F.sum("rel").over(wc).cast("bigint"))
    per_user = cum.groupBy("user_id").agg(
        F.max("nrel").cast("bigint").alias("n_rel"),
        F.sum(
            F.when(F.col("rel") == 1, F.col("nrel") * F.lit(1.0) / F.col("rk")).otherwise(
                0
            )
        ).alias("ap_num"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
    )
    return (
        per_user.where(F.col("n_rel") > 0)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(
                F.sum(F.col("ap_num") / F.col("n_rel")) / F.count(F.lit(1)), 6
            ).alias("map"),
            F.round(
                F.sum(F.lit(1.0) / F.col("first_rel")) / F.count(F.lit(1)), 6
            ).alias("mrr"),
        )
    )


@register(
    "eval_expected_calibration_error",
    f"""
    WITH {_SCORED_SQL},
    b AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket, score, label
      FROM scored
    ),
    cells AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS BIGINT) AS conf_i,
             CAST(sum(label) AS BIGINT) AS s_lab
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
    SELECT CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_bins,
           (SELECT nn FROM tot) AS n_docs,
           round(sum((n * 1.0 / (SELECT nn FROM tot))
                     * abs(s_lab * 1.0 / n - conf_i / (10000.0 * n))), 6) AS ece,
           round(max(abs(s_lab * 1.0 / n - conf_i / (10000.0 * n))), 6) AS mce
    FROM cells
    """,
    "eval",
    "calibration",
)
def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error (Naeini et al. 2015) of
    the quality classifier over the same decile buckets as
    dq_calibration_curve: ECE = sum over bins of (n_b/N)|acc_b -
    conf_b|, MCE = the worst bin. Per-bin confidence sums the 4-decimal
    scores as exact integer ten-thousandths (the calibration-curve
    order-insensitivity fix); acc is an exact integer ratio, so each
    bin term is identical across engines and only the 10-term final
    sum carries the round(6) double envelope."""
    s = _scored(spark, sf_dir)
    b = s.withColumn(
        "bucket", F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    )
    cells = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("score") * 10000).cast("bigint")).cast("bigint").alias("conf_i"),
        F.sum("label").cast("bigint").alias("s_lab"),
    ).cache()  # 10 rows, three consumers: score the corpus once, not 3x
    tot = cells.agg(F.sum("n").cast("bigint").alias("nn"))
    nb = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n_bins"))
    gap = F.abs(
        F.col("s_lab") * F.lit(1.0) / F.col("n")
        - F.col("conf_i") / (F.lit(10000.0) * F.col("n"))
    )
    s = cells.crossJoin(F.broadcast(tot)).agg(  # 1-row totals dimension
        F.round(F.sum((F.col("n") * F.lit(1.0) / F.col("nn")) * gap), 6).alias("ece"),
        F.round(F.max(gap), 6).alias("mce"),
    )
    # counts come from the always-1-row nb/tot aggregates (the oracle's
    # scalar-subquery shape), never a first() over the possibly-empty
    # bucket frame
    return (
        nb.crossJoin(F.broadcast(tot))
        .join(F.broadcast(s), F.lit(True), "left")
        .select("n_bins", F.col("nn").alias("n_docs"), "ece", "mce")
    )


@register(
    "eval_brier_decomposition",
    f"""
    WITH {_SCORED_SQL},
    b AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket,
             CAST(round(score * 10000) AS BIGINT) AS f_i, label
      FROM scored
    ),
    cells AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(f_i) AS BIGINT) AS sf, CAST(sum(label) AS BIGINT) AS so,
             CAST(sum((f_i - label * 10000) * (f_i - label * 10000)) AS BIGINT) AS se2
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(so) AS BIGINT) AS oo,
             CAST(sum(se2) AS BIGINT) AS see
      FROM cells
    )
    SELECT (SELECT nn FROM tot) AS n_docs,
           round((SELECT see FROM tot) / (1e8 * (SELECT nn FROM tot)), 6) AS brier,
           round(sum((n * 1.0 / (SELECT nn FROM tot))
                     * (sf / (10000.0 * n) - so * 1.0 / n)
                     * (sf / (10000.0 * n) - so * 1.0 / n)), 6) AS reliability,
           round(sum((n * 1.0 / (SELECT nn FROM tot))
                     * (so * 1.0 / n - (SELECT oo FROM tot) * 1.0 / (SELECT nn FROM tot))
                     * (so * 1.0 / n - (SELECT oo FROM tot) * 1.0 / (SELECT nn FROM tot))), 6)
             AS resolution,
           round(((SELECT oo FROM tot) * 1.0 / (SELECT nn FROM tot))
                 * (1.0 - (SELECT oo FROM tot) * 1.0 / (SELECT nn FROM tot)), 6) AS uncertainty
    FROM cells
    """,
    "eval",
    "calibration",
    "brier",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the quality classifier's Brier
    score over decile bins: reliability (miscalibration, what isotonic
    fixes) minus resolution (useful sharpness) plus uncertainty (the
    irreducible base-rate variance), alongside the directly-computed
    Brier score. Squared errors sum as exact integer ten-thousandth
    squares (one 1e8-scaled division at the end); bin terms are exact
    ratios; only the <=10-term outer sums ride the round(6) envelope.
    REL - RES + UNC equals Brier exactly only when scores are constant
    within bins — the gap IS the within-bin variance, asserted small
    and nonnegative in tests."""
    s = _scored(spark, sf_dir)
    b = s.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int").alias("bucket"),
        F.round(F.col("score") * 10000).cast("bigint").alias("f_i"),
        "label",
    )
    cells = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("f_i").cast("bigint").alias("sf"),
        F.sum("label").cast("bigint").alias("so"),
        F.sum(
            (F.col("f_i") - F.col("label") * 10000)
            * (F.col("f_i") - F.col("label") * 10000)
        )
        .cast("bigint")
        .alias("se2"),
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("so").cast("bigint").alias("oo"),
        F.sum("se2").cast("bigint").alias("see"),
    )
    conf = F.col("sf") / (F.lit(10000.0) * F.col("n"))
    acc = F.col("so") * F.lit(1.0) / F.col("n")
    base = F.col("oo") * F.lit(1.0) / F.col("nn")
    return (
        cells.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .agg(
            F.first("nn").alias("n_docs"),
            F.round(
                F.first("see") / (F.lit(1e8) * F.first("nn")), 6
            ).alias("brier"),
            F.round(
                F.sum((F.col("n") * F.lit(1.0) / F.col("nn")) * (conf - acc) * (conf - acc)),
                6,
            ).alias("reliability"),
            F.round(
                F.sum((F.col("n") * F.lit(1.0) / F.col("nn")) * (acc - base) * (acc - base)),
                6,
            ).alias("resolution"),
            F.round(F.first(base * (F.lit(1.0) - base)), 6).alias("uncertainty"),
        )
    )


@register(
    "eval_pass_at_k",
    """
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 200 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    p AS (
      SELECT user_id, n, c,
             c * 1.0 / n AS p1,
             CASE WHEN n - c < 3 THEN 1.0
                  ELSE 1.0 - ((n - c) * 1.0 / n)
                             * ((n - c - 1) * 1.0 / (n - 1))
                             * ((n - c - 2) * 1.0 / (n - 2))
             END AS p3
      FROM u WHERE n >= 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_problems,
           round(avg(p1), 6) AS pass_at_1,
           round(avg(p3), 6) AS pass_at_3,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS any_success
    FROM p
    """,
    "eval",
    "llm-eval",
    "pass-at-k",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (Chen et al., Codex) over a per-user 'problem' frame:
    each user's purchase events are n attempts, value>200 is a success,
    and the unbiased estimator pass@k = 1 - C(n-c, k)/C(n, k) expands
    to the k-term product prod_{i<k} (n-c-i)/(n-i) — evaluated
    per-problem IN the distributed plan (no driver loop, no lgamma
    needed for small k), then averaged. Problems with fewer than k
    failures score exactly 1. One per-user reduction plus one global
    aggregate; cost is independent of k's combinatorics at the
    registered k in {1, 3}."""
    u = (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") > 200, 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
        )
        .where(F.col("n") >= 3)
    )
    n, c = F.col("n"), F.col("c")
    p1 = c * 1.0 / n
    p3 = F.when(n - c < 3, F.lit(1.0)).otherwise(
        1.0
        - ((n - c) * 1.0 / n)
        * ((n - c - 1) * 1.0 / (n - 1))
        * ((n - c - 2) * 1.0 / (n - 2))
    )
    p = u.select("user_id", "n", "c", p1.alias("p1"), p3.alias("p3"))
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_problems"),
        F.round(F.avg("p1"), 6).alias("pass_at_1"),
        F.round(F.avg("p3"), 6).alias("pass_at_3"),
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("any_success"),
    )


@register(
    "eval_auprc",
    f"""
    WITH {_SCORED_SQL},
    g AS (
      SELECT score,
             CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(count(*) AS BIGINT) AS tot
      FROM scored GROUP BY score
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                   CAST(sum(tot) - sum(pos) AS BIGINT) AS n FROM g),
    cum AS (
      SELECT score, pos, tot,
             sum(pos) OVER (ORDER BY score DESC) AS cumpos,
             sum(tot) OVER (ORDER BY score DESC) AS cumtot
      FROM g
    )
    SELECT max(p) AS n_pos, max(n) AS n_neg,
           round(sum(pos * 1.0 / p * (cumpos * 1.0 / cumtot)), 6) AS auprc,
           round(max(p) * 1.0 / (max(p) + max(n)), 6) AS baseline_precision
    FROM cum, tot
    """,
    "eval",
    "calibration",
    "distributed-rank",
)
def eval_auprc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area under the precision-recall curve of the logistic quality
    score against the lang=en label — the companion to eval_roc_auc on
    the SAME scored frame, and the metric that matters when positives
    are rare. Ties handled blockwise (the step-function AP used by
    ranking evaluators): descending by distinct score,
    AP = sum over score blocks of (pos_k / P) * precision-at-block,
    which needs only the inclusive descending cumsums — one bucketed
    two-phase pass over the 4-decimal score vocabulary
    (operators/rankstats.py via negated score), never row-grain
    windows. Also emits the positive-rate baseline an uninformative
    ranker would score."""
    s = _scored(spark, sf_dir)
    g = s.groupBy("score").agg(
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    tot = g.agg(
        F.sum("pos").cast("bigint").alias("p"),
        (F.sum("tot") - F.sum("pos")).cast("bigint").alias("n"),
    )
    # descending-score cumsums == ascending cumsums over the negated score
    neg = g.withColumn("nscore", -F.col("score"))
    cum = bucketed_cumsums(neg, "nscore", ["pos", "tot"], inclusive=True)
    ap_term = (
        F.col("pos") * 1.0 / F.col("p") * (F.col("cum_pos") * 1.0 / F.col("cum_tot"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .agg(
            F.max("p").alias("n_pos"),
            F.max("n").alias("n_neg"),
            F.round(F.sum(ap_term), 6).alias("auprc"),
            F.round(
                F.max("p") * 1.0 / (F.max("p") + F.max("n")), 6
            ).alias("baseline_precision"),
        )
    )


@register(
    "eval_auc_hanley_ci",
    f"""
    WITH {_SCORED_SQL},
    g AS (SELECT score, label, count(*) AS c FROM scored GROUP BY score, label),
    vals AS (SELECT score, CAST(sum(c) AS BIGINT) AS cnt FROM g GROUP BY score),
    cum AS (
      SELECT score, cnt,
             coalesce(sum(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vals
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN label = 1 THEN g.c ELSE 0 END) AS BIGINT) AS np,
             CAST(sum(CASE WHEN label = 0 THEN g.c ELSE 0 END) AS BIGINT) AS nn,
             sum(CASE WHEN label = 1 THEN g.c * cum.avg_rank ELSE 0.0 END) AS rp
      FROM g JOIN cum ON g.score = cum.score
    ),
    auc AS (
      SELECT np, nn, (rp - np * (np + 1) / 2.0) / (np * 1.0 * nn) AS a
      FROM agg
    ),
    se AS (
      SELECT np, nn, a,
             sqrt((a * (1 - a)
                   + (np - 1) * (a / (2 - a) - a * a)
                   + (nn - 1) * (2 * a * a / (1 + a) - a * a))
                  / (np * 1.0 * nn)) AS se
      FROM auc
    )
    SELECT np AS n_pos, nn AS n_neg, round(a, 6) AS auc,
           round(se, 6) AS auc_se,
           round(greatest(0.0, a - 1.959963984540054 * se), 6) AS ci_lo,
           round(least(1.0, a + 1.959963984540054 * se), 6) AS ci_hi
    FROM se
    """,
    "eval",
    "calibration",
    "distributed-rank",
)
def eval_auc_hanley_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC with the Hanley-McNeil (1982) closed-form standard error
    and clamped 95% CI — eval_roc_auc plus the uncertainty a model
    report actually needs, in the same single bucketed rank pass:
    SE^2 = (A(1-A) + (n+-1)(Q1-A^2) + (n--1)(Q2-A^2)) / (n+ n-) with
    Q1 = A/(2-A), Q2 = 2A^2/(1+A). The 1.96 critical value is the
    explicit double literal 1.959963984540054 in both engines."""
    agg = _label_rank_sums(spark, sf_dir)
    a = (F.col("rp") - F.col("np") * (F.col("np") + 1) / F.lit(2.0)) / (
        F.col("np") * 1.0 * F.col("nn")
    )
    auc = agg.select("np", "nn", a.alias("a"))
    se_expr = F.sqrt(
        (
            F.col("a") * (1 - F.col("a"))
            + (F.col("np") - 1) * (F.col("a") / (2 - F.col("a")) - F.col("a") * F.col("a"))
            + (F.col("nn") - 1)
            * (2 * F.col("a") * F.col("a") / (1 + F.col("a")) - F.col("a") * F.col("a"))
        )
        / (F.col("np") * 1.0 * F.col("nn"))
    )
    se = auc.withColumn("se", se_expr)
    z95 = 1.959963984540054
    return se.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round("a", 6).alias("auc"),
        F.round("se", 6).alias("auc_se"),
        F.round(F.greatest(F.lit(0.0), F.col("a") - z95 * F.col("se")), 6).alias("ci_lo"),
        F.round(F.least(F.lit(1.0), F.col("a") + z95 * F.col("se")), 6).alias("ci_hi"),
    )


@register(
    "eval_lift_gains",
    f"""
    WITH {_SCORED_SQL},
    b AS (
      SELECT CAST(least(floor(score * 10), 9) AS INTEGER) AS bucket,
             label
      FROM scored
    ),
    g AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS pos
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS pt
            FROM g),
    cum AS (
      SELECT bucket, n, pos,
             sum(n) OVER (ORDER BY bucket DESC) AS cum_n,
             sum(pos) OVER (ORDER BY bucket DESC) AS cum_pos
      FROM g
    )
    SELECT bucket, n, pos,
           round(cum_pos * 1.0 / pt, 6) AS cum_gain,
           round((cum_pos * 1.0 / cum_n) / (pt * 1.0 / nt), 6) AS cum_lift,
           round(cum_n * 1.0 / nt, 6) AS population_frac
    FROM cum, tot ORDER BY bucket DESC
    """,
    "eval",
    "decision",
    "calibration",
)
def eval_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift table of the quality classifier by
    descending score decile — the campaign-targeting companion to
    dq_calibration_curve (same fixed-width buckets on the quantized
    score): cum_gain = fraction of all positives captured at or above
    the bucket, cum_lift = capture precision over the base rate,
    population_frac = how much of the corpus you had to accept. One
    groupBy to the 10-row bucket frame; the cumulative window runs on
    that bounded frame only."""
    s = _scored(spark, sf_dir)
    b = s.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int").alias("bucket"),
        "label",
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"), F.sum("pos").cast("bigint").alias("pt")
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("bucket"))  # 10-row bucket frame — bounded
    cum = g.withColumn("cum_n", F.sum("n").over(w)).withColumn(
        "cum_pos", F.sum("pos").over(w)
    )
    return (
        cum.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .select(
            "bucket",
            "n",
            "pos",
            F.round(F.col("cum_pos") * 1.0 / F.col("pt"), 6).alias("cum_gain"),
            F.round(
                (F.col("cum_pos") * 1.0 / F.col("cum_n"))
                / (F.col("pt") * 1.0 / F.col("nt")),
                6,
            ).alias("cum_lift"),
            F.round(F.col("cum_n") * 1.0 / F.col("nt"), 6).alias("population_frac"),
        )
        .orderBy(F.desc("bucket"))
    )


@register(
    "eval_f1_threshold_sweep",
    f"""
    WITH {_SCORED_SQL},
    th AS (SELECT (i.range + 1) / 10.0 AS thr FROM range(9) i),
    cm AS (
      SELECT th.thr,
             CAST(sum(CASE WHEN s.score >= th.thr AND s.label = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.score >= th.thr AND s.label = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.score < th.thr AND s.label = 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM scored s, th GROUP BY th.thr
    ),
    fs AS (
      SELECT thr, tp, fp, fn,
             round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
      FROM cm
    )
    SELECT thr AS threshold, tp, fp, fn, f1,
           f1 = max(f1) OVER () AS is_best
    FROM fs ORDER BY threshold
    """,
    "eval",
    "classification",
    "decision",
)
def eval_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection: F1 at every decision threshold
    0.1..0.9 for the quality classifier, with the argmax flagged — the
    sweep that turns eval_precision_recall's single 0.5 cut into an
    actual deployment choice. One pass over the scored frame fanned by
    the broadcast 9-row threshold dimension (9x bounded expansion, not
    9 scans); F1 is an exact integer rational rounded identically, so
    the is_best flag can't flip across engines."""
    s = _scored(spark, sf_dir)
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("thr"))
    cm = (
        s.crossJoin(F.broadcast(th))
        .groupBy("thr")
        .agg(
            F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("label") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when((F.col("score") >= F.col("thr")) & (F.col("label") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when((F.col("score") < F.col("thr")) & (F.col("label") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
        )
    )
    f = cm.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.round(2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")), 6).alias("f1"),
    )
    from pyspark.sql import Window as W2

    best = F.max("f1").over(W2.partitionBy())  # 9-row threshold frame
    return f.select(
        F.col("thr").alias("threshold"),
        "tp",
        "fp",
        "fn",
        "f1",
        (F.col("f1") == best).alias("is_best"),
    ).orderBy("threshold")


@register(
    "eval_mcc",
    f"""
    WITH {_SCORED_SQL},
    cm AS (
      SELECT CAST(sum(CASE WHEN score >= 0.5 AND label = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(CASE WHEN score >= 0.5 AND label = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(sum(CASE WHEN score < 0.5 AND label = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(sum(CASE WHEN score < 0.5 AND label = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           round((tp * 1.0 * tn - fp * 1.0 * fn)
                 / sqrt((tp + fp) * 1.0 * (tp + fn))
                 / sqrt((tn + fp) * 1.0 * (tn + fn)), 6) AS mcc,
           round((2.0 * (tp * 1.0 * tn - fp * 1.0 * fn))
                 / ((tp + fp) * 1.0 * (fp + tn)
                    + (tp + fn) * 1.0 * (fn + tn)), 6) AS cohen_kappa_binary
    FROM cm
    """,
    "eval",
    "classification",
)
def eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (and the closed-form binary
    Cohen's kappa) of the quality filter at threshold 0.5 — the
    balanced single-number summary eval_precision_recall's F1 is not
    (MCC punishes trash performance on EITHER class; the standard
    metric for imbalanced gates). One confusion-matrix pass; the
    product tp*tn is split across two sqrt factors so the doubles
    never overflow, spelled identically in both engines."""
    cm = _confusion(spark, sf_dir)
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc = (
        (tp * 1.0 * tn - fp * 1.0 * fn)
        / F.sqrt((tp + fp) * 1.0 * (tp + fn))
        / F.sqrt((tn + fp) * 1.0 * (tn + fn))
    )
    # denominator = P1*L0 + L1*P0 ((tp+fp)(fp+tn) + (tp+fn)(fn+tn)):
    # the po/pe identity's exact 2x2 reduction. The pre-round-6 spelling
    # used P1*P0 + L1*L0, which is smaller by exactly (fp-fn)^2 and
    # biased |kappa| upward whenever the marginals disagree
    # (caught by tests/test_calibration10.py's po/pe cross-check).
    kappa = (2.0 * (tp * 1.0 * tn - fp * 1.0 * fn)) / (
        (tp + fp) * 1.0 * (fp + tn) + (tp + fn) * 1.0 * (fn + tn)
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(mcc, 6).alias("mcc"),
        F.round(kappa, 6).alias("cohen_kappa_binary"),
    )


_SPLIT_CASES_SQL = """
    base AS (
      SELECT o.o_orderpriority AS priority, r.r_name AS region,
             CASE WHEN o.o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
             CASE WHEN o.o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    long AS (
      SELECT 'priority' AS feature, priority AS v, y FROM base
      UNION ALL SELECT 'region', region, y FROM base
      UNION ALL SELECT 'parity', parity, y FROM base
    ),
    per_v AS (
      SELECT feature, v, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM long GROUP BY feature, v
    ),
    parent AS (
      SELECT CAST(count(*) AS BIGINT) AS nt, CAST(sum(y) AS BIGINT) AS post
      FROM base
    )
"""


@register(
    "ml_split_quality",
    f"""
    WITH {_SPLIT_CASES_SQL},
    child AS (
      SELECT p.feature, CAST(count(*) AS BIGINT) AS n_values,
             sum(p.n * 1.0 / q.nt
                 * (1 - (p.pos * 1.0 / p.n) * (p.pos * 1.0 / p.n)
                      - (1 - p.pos * 1.0 / p.n) * (1 - p.pos * 1.0 / p.n)))
               AS w_gini,
             sum(p.n * 1.0 / q.nt
                 * (CASE WHEN p.pos = 0 OR p.pos = p.n THEN 0.0
                    ELSE -(p.pos * 1.0 / p.n) * ln(p.pos * 1.0 / p.n)
                         - (1 - p.pos * 1.0 / p.n) * ln(1 - p.pos * 1.0 / p.n)
                    END)) AS w_ent
      FROM per_v p, parent q GROUP BY p.feature
    ),
    par AS (
      SELECT 1 - (post * 1.0 / nt) * (post * 1.0 / nt)
               - (1 - post * 1.0 / nt) * (1 - post * 1.0 / nt) AS g0,
             CASE WHEN post = 0 OR post = nt THEN 0.0
                  ELSE -(post * 1.0 / nt) * ln(post * 1.0 / nt)
                       - (1 - post * 1.0 / nt) * ln(1 - post * 1.0 / nt)
             END AS e0
      FROM parent
    )
    SELECT c.feature, c.n_values,
           round(c.w_gini, 6) AS weighted_gini,
           round(par.g0 - c.w_gini, 6) AS gini_gain,
           round(c.w_ent, 6) AS weighted_entropy_nats,
           round(par.e0 - c.w_ent, 6) AS info_gain_nats
    FROM child c, par ORDER BY c.feature
    """,
    "eval",
    "decision",
    "stats",
)
def ml_split_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree split quality for three candidate categorical
    features (order priority, customer region, custkey parity)
    predicting the big-order label: weighted child Gini impurity and
    entropy, and the Gini gain / information gain over the parent —
    the CART/ID3 feature-selection primitive a distributed tree
    trainer evaluates per node (one combiner-friendly groupBy per
    feature over the long frame; every probability is an exact integer
    ratio, pure-split children contribute exactly zero entropy by the
    explicit guard, identical in both engines)."""
    base = (
        orders_with_region(spark, sf_dir)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("r_name").alias("region"),
            F.when(F.col("o_custkey") % 2 == 0, "even").otherwise("odd").alias("parity"),
            F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("y"),
        )
    )
    # melt with ONE scan: a union of three selects would re-run the
    # 4-table join per feature; the struct-array explode reads it once
    long = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("priority").alias("feature"), F.col("priority").alias("v")),
                F.struct(F.lit("region").alias("feature"), F.col("region").alias("v")),
                F.struct(F.lit("parity").alias("feature"), F.col("parity").alias("v")),
            )
        ).alias("fv"),
        "y",
    ).select(F.col("fv.feature").alias("feature"), F.col("fv.v").alias("v"), "y")
    per_v = long.groupBy("feature", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    parent = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("nt"),
        F.sum("y").cast("bigint").alias("post"),
    )
    p = F.col("pos") * 1.0 / F.col("n")
    gini_v = 1 - p * p - (1 - p) * (1 - p)
    ent_v = F.when(
        (F.col("pos") == 0) | (F.col("pos") == F.col("n")), F.lit(0.0)
    ).otherwise(-p * F.log(p) - (1 - p) * F.log(1 - p))
    child = (
        per_v.crossJoin(F.broadcast(parent))  # 1-row parent dimension
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.sum(F.col("n") * 1.0 / F.col("nt") * gini_v).alias("w_gini"),
            F.sum(F.col("n") * 1.0 / F.col("nt") * ent_v).alias("w_ent"),
        )
    )
    p0 = F.col("post") * 1.0 / F.col("nt")
    par = parent.select(
        (1 - p0 * p0 - (1 - p0) * (1 - p0)).alias("g0"),
        # a PURE parent has entropy exactly 0 — same guard as the
        # children; unguarded, log(0) leaked NULL here (and aborted the
        # DuckDB oracle), caught by the magnitude-stress sweep where the
        # scaled prices make the label all-one
        F.when(
            (F.col("post") == 0) | (F.col("post") == F.col("nt")), F.lit(0.0)
        )
        .otherwise(-p0 * F.log(p0) - (1 - p0) * F.log(1 - p0))
        .alias("e0"),
    )
    return (
        child.crossJoin(F.broadcast(par))  # 1-row parent-impurity dimension
        .select(
            "feature",
            "n_values",
            F.round("w_gini", 6).alias("weighted_gini"),
            F.round(F.col("g0") - F.col("w_gini"), 6).alias("gini_gain"),
            F.round("w_ent", 6).alias("weighted_entropy_nats"),
            F.round(F.col("e0") - F.col("w_ent"), 6).alias("info_gain_nats"),
        )
        .orderBy("feature")
    )
