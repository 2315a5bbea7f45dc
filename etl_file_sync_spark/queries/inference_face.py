"""Distributional-inference face: 1-D Wasserstein distance, Cohen's
kappa inter-rater agreement, empirical-Bayes beta-binomial shrinkage,
and an mSPRT always-valid sequential monitor.

Shapes at 100 TB: the Wasserstein integral runs on the distinct-value
frame through one bucketed two-phase cumsum pass
(operators/rankstats.py) — no global single-partition window ever sees
row-grain data; kappa and the shrinkage prior reduce to tiny confusion /
moment aggregates broadcast back; the mSPRT monitor operates on the
calendar-bounded daily frame (30 rows here, <=366/year at any corpus
size), the same bounded-frame contract as the timeseries face.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); these queries extend the engine-only statistics face.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_file_sync_spark.operators.rankstats import bucketed_cumsums
from etl_file_sync_spark.queries.inputs import value_counts, variant_prices
from etl_file_sync_spark.queries.registry import register, t


@register(
    "stat_wasserstein_1d",
    """
    WITH s AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             o_totalprice AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    g AS (
      SELECT v,
             CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM s GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
             min(v) AS vmin, max(v) AS vmax
      FROM g
    ),
    c AS (
      SELECT v, ca, cb,
             coalesce(sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_ca,
             coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_cb
      FROM g
    ),
    w AS (
      SELECT sum(v * (abs(cum_ca * 1.0 / na - cum_cb * 1.0 / nb)
                      - abs((cum_ca + ca) * 1.0 / na
                            - (cum_cb + cb) * 1.0 / nb))) AS w1raw,
             na, nb, vmin, vmax
      FROM c, tot GROUP BY na, nb, vmin, vmax
    )
    SELECT round(w1raw, 4) AS w1_distance,
           round(w1raw / (vmax - vmin), 9) AS w1_normalized,
           na AS n_a, nb AS n_b
    FROM w
    """,
    "stats",
    "distributed-rank",
    "distance",
)
def stat_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the even/odd
    custkey o_totalprice distributions: W1 = integral of |F_A - F_B| dv.
    Summation by parts turns the step-function integral into
    sum over distinct values of v * (D_excl(v) - D_incl(v)) where
    D = |F_A - F_B| and the inclusive prefix is just the exclusive
    prefix plus the value's own counts — so ONE bucketed two-phase
    cumsum pass (operators/rankstats.py) supplies everything and no
    predecessor-value (lag) pass is needed at all; no single-partition
    window ever touches the 150k-distinct-price frame. The oracle
    restates the same algebra with a naive global window."""
    g = value_counts(variant_prices(spark, sf_dir), "A", "B")
    tot = g.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
    )
    c = bucketed_cumsums(g, "v", ["ca", "cb"], inclusive=False)
    d_excl = F.abs(
        F.col("cum_ca") * 1.0 / F.col("na") - F.col("cum_cb") * 1.0 / F.col("nb")
    )
    d_incl = F.abs(
        (F.col("cum_ca") + F.col("ca")) * 1.0 / F.col("na")
        - (F.col("cum_cb") + F.col("cb")) * 1.0 / F.col("nb")
    )
    w = (
        c.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .select(
            (F.col("v") * (d_excl - d_incl)).alias("contrib"),
            "na",
            "nb",
            "vmin",
            "vmax",
        )
        .groupBy("na", "nb", "vmin", "vmax")
        .agg(F.sum("contrib").alias("w1raw"))
    )
    return w.select(
        F.round("w1raw", 4).alias("w1_distance"),
        F.round(F.col("w1raw") / (F.col("vmax") - F.col("vmin")), 9).alias(
            "w1_normalized"
        ),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
    )


@register(
    "eval_cohens_kappa",
    """
    WITH r AS (
      SELECT CASE WHEN n_chars < 250 THEN 'short'
                  WHEN n_chars < 360 THEN 'mid' ELSE 'long' END AS rater_a,
             CASE WHEN n_chars + (('0x' || substr(md5(text), 1, 4))::BIGINT % 101) - 50 < 250 THEN 'short'
                  WHEN n_chars + (('0x' || substr(md5(text), 1, 4))::BIGINT % 101) - 50 < 360 THEN 'mid'
                  ELSE 'long' END AS rater_b
      FROM documents
    ),
    conf AS (
      SELECT rater_a, rater_b, CAST(count(*) AS BIGINT) AS c
      FROM r GROUP BY rater_a, rater_b
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM conf),
    marg AS (
      SELECT a.k, a.ca, b.cb
      FROM (SELECT rater_a AS k, sum(c) AS ca FROM conf GROUP BY rater_a) a
      JOIN (SELECT rater_b AS k, sum(c) AS cb FROM conf GROUP BY rater_b) b
        ON a.k = b.k
    ),
    po AS (
      SELECT sum(CASE WHEN rater_a = rater_b THEN c ELSE 0 END) * 1.0 / n AS po, n
      FROM conf, tot GROUP BY n
    ),
    pe AS (
      SELECT CAST(sum(CAST(ca AS HUGEINT) * cb) AS DOUBLE)
               / (CAST(n AS DOUBLE) * n) AS pe
      FROM marg, tot GROUP BY n
    )
    SELECT n AS n_items,
           round(po, 6) AS p_observed,
           round(pe, 6) AS p_expected,
           round((po - pe) / (1 - pe), 6) AS kappa
    FROM po, pe
    """,
    "eval",
    "stats",
    "agreement",
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two deterministic
    length raters of the documents table: rater A buckets raw n_chars
    into short/mid/long tertile-ish bands; rater B buckets n_chars
    perturbed by a +-50 md5-derived jitter (engine-portable hash), so
    the raters correlate strongly but imperfectly — exactly the
    annotation-audit shape. kappa = (po - pe)/(1 - pe) from exact
    integer confusion counts; the whole statistic reduces to a <=9-row
    confusion matrix, so the plan is one combiner-friendly groupBy and
    broadcast folds at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    jitter = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("bigint") % 101 - 50
    )

    def band(expr):
        return (
            F.when(expr < 250, "short").when(expr < 360, "mid").otherwise("long")
        )

    r = docs.select(
        band(F.col("n_chars")).alias("rater_a"),
        band(F.col("n_chars") + jitter).alias("rater_b"),
    )
    conf = (
        r.groupBy("rater_a", "rater_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        # band-bounded (k x k cells) but consumed by four branches
        # (totals, both marginals, agreement): cache so the documents
        # scan runs once, not 4x
        .cache()
    )
    tot = conf.agg(F.sum("c").cast("bigint").alias("n"))
    ma = conf.groupBy("rater_a").agg(F.sum("c").alias("ca")).withColumnRenamed("rater_a", "k")
    mb = conf.groupBy("rater_b").agg(F.sum("c").alias("cb")).withColumnRenamed("rater_b", "k")
    po = (
        conf.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .groupBy("n")
        .agg(
            (
                F.sum(F.when(F.col("rater_a") == F.col("rater_b"), F.col("c")).otherwise(0))
                * 1.0
                / F.first("n")
            ).alias("po")
        )
    )
    pe = (
        ma.join(mb, "k")
        .crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .groupBy("n")
        # marginal products scale like n^2 and wrap BIGINT past ~3e9
        # items: exact DECIMAL products, double only at the division
        .agg(
            (
                F.sum(
                    F.col("ca").cast("decimal(18,0)") * F.col("cb").cast("decimal(18,0)")
                ).cast("double")
                / (F.first("n").cast("double") * F.first("n"))
            ).alias("pe")
        )
        .drop("n")
    )
    return po.crossJoin(F.broadcast(pe)).select(
        F.col("n").alias("n_items"),
        F.round("po", 6).alias("p_observed"),
        F.round("pe", 6).alias("p_expected"),
        F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6).alias("kappa"),
    )


@register(
    "stat_eb_shrinkage",
    """
    WITH per_cust AS (
      SELECT o.o_custkey AS custkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey
    ),
    mom AS (
      SELECT avg(x * 1.0 / n) AS m, var_samp(x * 1.0 / n) AS v FROM per_cust
    ),
    prior AS (
      SELECT m, v, m * (m * (1 - m) / v - 1) AS alpha,
             (1 - m) * (m * (1 - m) / v - 1) AS beta
      FROM mom
    )
    SELECT custkey, n, x,
           round(x * 1.0 / n, 6) AS raw_rate,
           round((x + alpha) / (n + alpha + beta), 6) AS shrunk_rate,
           round(alpha, 6) AS prior_alpha,
           round(beta, 6) AS prior_beta
    FROM per_cust, prior
    WHERE custkey % 97 = 0
    ORDER BY custkey
    """,
    "stats",
    "ab-test",
    "shrinkage",
)
def stat_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-customer return
    rates (share of l_returnflag='R' lineitems): the method-of-moments
    prior (alpha, beta) comes from the mean/variance of the raw rates
    — a 1-row aggregate broadcast back — and each customer's rate is
    shrunk toward it proportionally to its sample size,
    (x + alpha)/(n + alpha + beta). One shuffle for the per-customer
    counts, one 1-row moment pass, zero row-grain windows; the custkey
    % 97 slice keeps the emitted sample deterministic and bounded at
    any SF."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
        )
    )
    rate = F.col("x") * 1.0 / F.col("n")
    mom = per_cust.agg(F.avg(rate).alias("m"), F.var_samp(rate).alias("v"))
    strength = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    prior = mom.select(
        (F.col("m") * strength).alias("alpha"),
        ((1 - F.col("m")) * strength).alias("beta"),
    )
    return (
        per_cust.filter(F.col("custkey") % 97 == 0)
        .crossJoin(F.broadcast(prior))  # 1-row prior dimension
        .select(
            "custkey",
            "n",
            "x",
            F.round(rate, 6).alias("raw_rate"),
            F.round(
                (F.col("x") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
            F.round("alpha", 6).alias("prior_alpha"),
            F.round("beta", 6).alias("prior_beta"),
        )
        .orderBy("custkey")
    )


@register(
    "stat_msprt_sequential",
    """
    WITH e AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS success
      FROM events
    ),
    d AS (
      SELECT day,
             CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN variant = 'A' THEN success ELSE 0 END) AS BIGINT) AS xa,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN variant = 'B' THEN success ELSE 0 END) AS BIGINT) AS xb
      FROM e GROUP BY day
    ),
    c AS (
      SELECT day,
             sum(na) OVER w AS cna, sum(xa) OVER w AS cxa,
             sum(nb) OVER w AS cnb, sum(xb) OVER w AS cxb
      FROM d WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT day, cna, cnb,
             cxa * 1.0 / cna - cxb * 1.0 / cnb AS delta,
             ((cxa + cxb) * 1.0 / (cna + cnb))
               * (1 - (cxa + cxb) * 1.0 / (cna + cnb))
               * (1.0 / cna + 1.0 / cnb) AS vn
      FROM c
    ),
    lam AS (
      SELECT day, cna, cnb, delta,
             sqrt(vn / (vn + 0.0001))
               * exp(delta * delta * 0.0001 / (2 * vn * (vn + 0.0001))) AS lambda_n
      FROM s
    )
    SELECT day,
           CAST(cna AS BIGINT) AS n_a, CAST(cnb AS BIGINT) AS n_b,
           round(delta, 6) AS delta,
           round(lambda_n, 6) AS lambda_n,
           round(least(1.0, 1.0 / max(lambda_n) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
             AS p_always_valid
    FROM lam ORDER BY day
    """,
    "stats",
    "ab-test",
    "sequential",
)
def stat_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mSPRT always-valid sequential monitor of the purchase-rate gap
    between even/odd-user variants, one row per experiment day: the
    mixture-normal likelihood ratio Lambda_n =
    sqrt(Vn/(Vn+tau2)) * exp(delta^2 tau2 / (2 Vn (Vn+tau2))) with
    tau2 = 1e-4, and the always-valid p-value p_n = min(1, 1/max_k<=n
    Lambda_k) (Howard et al. / Johari et al. optional-stopping bound).
    Events reduce to the calendar-bounded daily frame first (<=366
    rows/year at any corpus size), so the cumulative windows run on a
    bounded frame — same contract as the timeseries face."""
    tau2 = 0.0001
    e = t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("success"),
    )
    d = e.groupBy("day").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("variant") == "A", F.col("success")).otherwise(0))
        .cast("bigint")
        .alias("xa"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("variant") == "B", F.col("success")).otherwise(0))
        .cast("bigint")
        .alias("xb"),
    )
    # calendar-bounded daily frame: the global window is over <=366 rows
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    c = d.select(
        "day",
        F.sum("na").over(w).alias("cna"),
        F.sum("xa").over(w).alias("cxa"),
        F.sum("nb").over(w).alias("cnb"),
        F.sum("xb").over(w).alias("cxb"),
    )
    pbar = (F.col("cxa") + F.col("cxb")) * 1.0 / (F.col("cna") + F.col("cnb"))
    s = c.select(
        "day",
        "cna",
        "cnb",
        (F.col("cxa") * 1.0 / F.col("cna") - F.col("cxb") * 1.0 / F.col("cnb")).alias(
            "delta"
        ),
        (pbar * (1 - pbar) * (1.0 / F.col("cna") + 1.0 / F.col("cnb"))).alias("vn"),
    )
    lam = s.select(
        "day",
        "cna",
        "cnb",
        "delta",
        (
            F.sqrt(F.col("vn") / (F.col("vn") + tau2))
            * F.exp(
                F.col("delta") * F.col("delta") * tau2
                / (2 * F.col("vn") * (F.col("vn") + tau2))
            )
        ).alias("lambda_n"),
    )
    return lam.select(
        # timestamp, not date: DuckDB materializes DATE as datetime64
        # while Spark DATE stays python date objects — the driver's
        # hash treats those as different kinds (retention_cohorts rule)
        F.col("day").cast("timestamp").alias("day"),
        F.col("cna").cast("bigint").alias("n_a"),
        F.col("cnb").cast("bigint").alias("n_b"),
        F.round("delta", 6).alias("delta"),
        F.round("lambda_n", 6).alias("lambda_n"),
        F.round(
            F.least(F.lit(1.0), 1.0 / F.max("lambda_n").over(w)), 6
        ).alias("p_always_valid"),
    ).orderBy("day")


@register(
    "stat_ipw_ate",
    """
    WITH e AS (
      SELECT event_type AS stratum,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
             value AS y
      FROM events
    ),
    p AS (
      SELECT stratum,
             sum(treated) * 1.0 / count(*) AS phat
      FROM e GROUP BY stratum
    ),
    w AS (
      SELECT e.treated, e.y, p.phat,
             e.treated * e.y / p.phat AS wy1,
             (1 - e.treated) * e.y / (1 - p.phat) AS wy0,
             e.treated / p.phat AS w1,
             (1 - e.treated) / (1 - p.phat) AS w0
      FROM e JOIN p ON e.stratum = p.stratum
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(wy1) / count(*) - sum(wy0) / count(*), 6) AS ate_ipw,
           round(sum(wy1) / sum(w1) - sum(wy0) / sum(w0), 6) AS ate_hajek,
           round(sum(CASE WHEN treated = 1 THEN y END) * 1.0
                   / sum(CASE WHEN treated = 1 THEN 1 END)
                 - sum(CASE WHEN treated = 0 THEN y END) * 1.0
                   / sum(CASE WHEN treated = 0 THEN 1 END), 6) AS naive_diff
    FROM w
    """,
    "stats",
    "ab-test",
    "causal",
)
def stat_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of the
    even/odd-user 'treatment' on event value, with the propensity
    estimated exactly per stratum (event_type) as the treated share —
    the subclassification propensity, so the whole estimator is
    closed-form and oracle-able (no fitted model). Emits the
    Horvitz-Thompson ATE, the Hajek (self-normalized) ATE, and the
    naive difference-in-means for contrast. Plan: one tiny per-stratum
    aggregate broadcast back onto the events scan, then a single global
    aggregate — two shuffles of aggregate-sized frames only."""
    e = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.col("value").alias("y"),
    )
    p = e.groupBy("stratum").agg(
        (F.sum("treated") * 1.0 / F.count(F.lit(1))).alias("phat")
    )
    w = e.join(F.broadcast(p), "stratum").select(
        "treated",
        "y",
        (F.col("treated") * F.col("y") / F.col("phat")).alias("wy1"),
        ((1 - F.col("treated")) * F.col("y") / (1 - F.col("phat"))).alias("wy0"),
        (F.col("treated") / F.col("phat")).alias("w1"),
        ((1 - F.col("treated")) / (1 - F.col("phat"))).alias("w0"),
    )
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("wy1") / F.count(F.lit(1)) - F.sum("wy0") / F.count(F.lit(1)), 6
        ).alias("ate_ipw"),
        F.round(
            F.sum("wy1") / F.sum("w1") - F.sum("wy0") / F.sum("w0"), 6
        ).alias("ate_hajek"),
        F.round(
            F.sum(F.when(F.col("treated") == 1, F.col("y"))) * 1.0
            / F.sum(F.when(F.col("treated") == 1, 1))
            - F.sum(F.when(F.col("treated") == 0, F.col("y"))) * 1.0
            / F.sum(F.when(F.col("treated") == 0, 1)),
            6,
        ).alias("naive_diff"),
    )
