"""Experimentation face, part 2 (round 5 hardening batch): exact
Bayesian A/B probability-of-superiority, Welch's heteroscedastic
one-way ANOVA, delete-one-group jackknife variance for a ratio
estimator, the Ljung-Box portmanteau test, Herfindahl-Hirschman
market concentration, Cochran's Q for matched binary outcomes, and
the exact (binomial) McNemar test.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this face extends the decision/experimentation component set.

Cross-engine determinism strategy (the repo's standing rules):
- All corpus-scale reductions produce EXACT integers (cents as BIGINT,
  squared cents as DECIMAL(38,0) / HUGEINT) so group moments are
  bit-identical before any double arithmetic starts.
- Exact-test tail sums (Bayesian superiority, McNemar) use ln-factorial
  tables built as an ORDERED prefix fold of ln(j) — the engine folds
  driver-side in exactly the order the oracle's window sum uses
  (stat_fisher_exact precedent), so every term is the same IEEE
  sequence.
- Chi-square p-values appear only where the closed form exists without
  erf: df=6 (Ljung-Box, survival = exp(-x/2)*(1+x/2+(x/2)^2/2)) and
  df=2 (Cochran's Q, survival = exp(-x/2)).
- Bounded-cardinality double folds (7 ship modes, 25 nations, 6 lags)
  carry the documented summation-order ulp risk under round(6)
  (linear-regression precedent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df

from etl_file_sync_spark.queries.inputs import (
    conversion_cells,
    daily_cents,
    orders_with_nation,
    orders_with_region,
    purchased_over,
    revenue_cents,
)
from etl_file_sync_spark.queries.registry import register, t


_CELLS_SQL = """
    u AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 200
                           THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
      FROM u
    )
"""


@register(
    "stat_bayes_ab_beta",
    f"""
    WITH {_CELLS_SQL},
    par AS (
      SELECT n_a, c_a, n_b, c_b,
             c_a + 1 AS aa, n_a - c_a + 1 AS ba,
             c_b + 1 AS ab_, n_b - c_b + 1 AS bb
      FROM cells
    ),
    lf AS (
      -- lnfact(i) as an ORDERED prefix sum of ln(j): the identical
      -- fold the engine runs driver-side, so every term matches
      SELECT i,
             coalesce(sum(CASE WHEN i = 0 THEN 0.0 ELSE ln(i) END)
               OVER (ORDER BY i), 0.0) AS lnf
      FROM (SELECT unnest(range(0, (SELECT n_a + n_b + 5 FROM par))) AS i)
    ),
    kk AS (SELECT par.*, unnest(range(0, par.ab_)) AS i FROM par),
    terms AS (
      -- lnB(x, y) for integer x, y is lnf[x-1] + lnf[y-1] - lnf[x+y-1]
      SELECT kk.*,
             ((SELECT lnf FROM lf WHERE lf.i = kk.aa + kk.i - 1)
                + (SELECT lnf FROM lf WHERE lf.i = kk.ba + kk.bb - 1)
                - (SELECT lnf FROM lf WHERE lf.i = kk.aa + kk.i + kk.ba + kk.bb - 1))
             - ln(kk.bb + kk.i)
             - ((SELECT lnf FROM lf WHERE lf.i = kk.i)
                + (SELECT lnf FROM lf WHERE lf.i = kk.bb - 1)
                - (SELECT lnf FROM lf WHERE lf.i = kk.i + kk.bb))
             - ((SELECT lnf FROM lf WHERE lf.i = kk.aa - 1)
                + (SELECT lnf FROM lf WHERE lf.i = kk.ba - 1)
                - (SELECT lnf FROM lf WHERE lf.i = kk.aa + kk.ba - 1)) AS lnterm
      FROM kk
    )
    SELECT n_a, c_a, n_b, c_b,
           round(aa * 1.0 / (aa + ba), 6) AS post_mean_a,
           round(ab_ * 1.0 / (ab_ + bb), 6) AS post_mean_b,
           round(sum(exp(lnterm)), 6) AS p_b_beats_a
    FROM terms GROUP BY n_a, c_a, n_b, c_b, aa, ba, ab_, bb
    """,
    "stats",
    "ab-test",
    "bayesian",
)
def stat_bayes_ab_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayesian A/B readout under independent Beta(1,1) priors on
    the even/odd-user conversion rates: posterior means and the exact
    probability of superiority Pr(p_B > p_A) via the closed-form sum
    (Cook's identity)

        sum_{i=0}^{alpha_B - 1} B(alpha_A + i, beta_A + beta_B)
          / ((beta_B + i) * B(1 + i, beta_B) * B(alpha_A, beta_A))

    with every Beta function expanded in integer ln-factorials from the
    same ordered prefix fold the oracle's window sum runs. The
    corpus-scale work is the distributed per-user conversion reduction;
    the sum has alpha_B = conversions_B + 1 terms — the exact-readout
    cost grows with SUCCESSES, not users, and at success counts where
    the sum gets long the normal approximation it converges to
    (stat_two_proportion_ztest) is already exact for decision
    purposes."""
    cells = conversion_cells(spark, sf_dir)
    row = cells.collect()[0]  # 2x2 metadata pull (Fisher-exact pattern)
    if row["n_a"] is None:  # empty input: the oracle's sum-generate
        # machinery over NULL cells collapses to zero rows — match it
        return cells.sparkSession.createDataFrame(
            [],
            "n_a bigint, c_a bigint, n_b bigint, c_b bigint, "
            "post_mean_a double, post_mean_b double, p_b_beats_a double",
        )
    n_a, c_a, n_b, c_b = row["n_a"], row["c_a"], row["n_b"], row["c_b"]
    aa, ba = c_a + 1, n_a - c_a + 1
    ab, bb = c_b + 1, n_b - c_b + 1
    # ordered prefix fold of ln(j) — identical sequence to the oracle
    top = n_a + n_b + 4
    lnf = [0.0] * (top + 1)
    acc = 0.0
    for j in range(1, top + 1):
        acc += math.log(j)
        lnf[j] = acc

    def lnbeta(x: int, y: int) -> float:
        return lnf[x - 1] + lnf[y - 1] - lnf[x + y - 1]

    p = sum(
        math.exp(
            lnbeta(aa + i, ba + bb)
            - math.log(bb + i)
            - lnbeta(1 + i, bb)
            - lnbeta(aa, ba)
        )
        for i in range(ab)
    )
    return local_rows_df(
        cells.sparkSession,
        [
            (
                n_a,
                c_a,
                n_b,
                c_b,
                round(aa * 1.0 / (aa + ba), 6),
                round(ab * 1.0 / (ab + bb), 6),
                round(p, 6),
            )
        ],
        "n_a bigint, c_a bigint, n_b bigint, c_b bigint, "
        "post_mean_a double, post_mean_b double, p_b_beats_a double",
    )


@register(
    "stat_welch_anova",
    """
    WITH g AS (
      SELECT l_returnflag AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                      * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS DOUBLE) AS ss
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT grp, n, s * 1.0 / n AS mean,
             (ss - s * 1.0 / n * s) / (n - 1) AS var,
             n / ((ss - s * 1.0 / n * s) / (n - 1)) AS w
      FROM g
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS k, sum(w) AS sw,
                   sum(w * mean) AS swm FROM m),
    dev AS (
      SELECT k, sw,
             sum(w * (mean - swm / sw) * (mean - swm / sw)) AS a_num,
             sum((1 - w / sw) * (1 - w / sw) / (n - 1)) AS h
      FROM m, tot GROUP BY k, sw, swm
    )
    SELECT k AS k_groups,
           round(a_num / (k - 1)
                 / (1 + 2.0 * (k - 2) / (k * k - 1) * h), 6) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           round((k * k - 1) / (3.0 * h), 6) AS df2
    FROM dev
    """,
    "stats",
    "anova",
    "heteroscedastic",
)
def stat_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA of line-item price (cents)
    across the 3 return flags — the unequal-variance-safe alternative
    to stat_anova_oneway. Per-group moments are EXACT integers before
    any double math: sums as BIGINT, sums of squared cents as
    DECIMAL(37,0) (HUGEINT oracle-side) so the variance algebra starts
    from bit-identical values in both engines; the Welch weights, F*
    and the Satterthwaite df then fold over the 3-row group frame only.
    One shuffle of a group-count-bounded aggregate at any corpus
    scale."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dec = F.round(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    g = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("s"),
            F.sum(dec * dec).cast("double").alias("ss"),
        )
    )
    mean = F.col("s") * 1.0 / F.col("n")
    var = (F.col("ss") - mean * F.col("s")) / (F.col("n") - 1)
    m = g.select("grp", "n", mean.alias("mean"), var.alias("var")).withColumn(
        "w", F.col("n") / F.col("var")
    )
    tot = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("mean")).alias("swm"),
    )
    dev = (
        m.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .groupBy("k", "sw", "swm")
        .agg(
            F.sum(
                F.col("w")
                * (F.col("mean") - F.col("swm") / F.col("sw"))
                * (F.col("mean") - F.col("swm") / F.col("sw"))
            ).alias("a_num"),
            F.sum(
                (1 - F.col("w") / F.col("sw"))
                * (1 - F.col("w") / F.col("sw"))
                / (F.col("n") - 1)
            ).alias("h"),
        )
    )
    k = F.col("k")
    return dev.select(
        k.alias("k_groups"),
        F.round(
            F.col("a_num")
            / (k - 1)
            / (1 + 2.0 * (k - 2) / (k * k - 1) * F.col("h")),
            6,
        ).alias("f_stat"),
        (k - 1).cast("bigint").alias("df1"),
        F.round((k * k - 1) / (3.0 * F.col("h")), 6).alias("df2"),
    )


@register(
    "stat_jackknife_ratio",
    """
    WITH g AS (
      SELECT n.n_name AS grp,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS gk, CAST(sum(x) AS BIGINT) AS tx,
                   CAST(sum(y) AS BIGINT) AS ty FROM g),
    loo AS (
      SELECT gk, tx, ty,
             (tx - x) * 1.0 / (ty - y) - tx * 1.0 / ty AS d_g
      FROM g, tot
    ),
    jk AS (
      SELECT gk, tx, ty, avg(d_g) AS m,
             sum(d_g * d_g) AS dsq
      FROM loo GROUP BY gk, tx, ty
    )
    SELECT gk AS n_groups,
           round(tx * 1.0 / ty, 6) AS theta_cents,
           round((gk - 1.0) / gk * (dsq - gk * m * m), 6) AS jk_var,
           round(sqrt((gk - 1.0) / gk * (dsq - gk * m * m)), 6) AS jk_se,
           round((gk - 1.0) * m, 6) AS jk_bias
    FROM jk
    """,
    "stats",
    "resampling",
    "variance",
)
def stat_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the ratio estimator 'average
    order value in cents' (total revenue cents / total orders), with
    customer nation as the deletion group — the grouped jackknife is
    the scale-honest resampling scheme for ratio estimators: leave-out
    replicates come from the 25-row nation aggregate and two broadcast
    totals, never from resampling row-grain data. All numerators and
    denominators are exact BIGINTs, so each replicate theta_(g) and
    the point estimate theta are bit-identical double divisions in
    both engines. Every downstream moment is anchored on d_g =
    theta_(g) - theta (also bit-identical: same two doubles, one
    subtraction): jk_var = (G-1)/G * (Σd² - G·m²) with m = avg(d_g),
    jk_bias = (G-1)·m. The textbook spellings (Σθ² - G·θbar² and
    θbar - θ) cancel ~15 significant digits when the measure carries
    a large additive offset (theta ~ 1e10 cents on the conditioning
    tier) and diverge between the engines' summation orders; the
    d_g-anchored algebra keeps every sum at replicate-deviation
    magnitude, so it is both numerically stable and cross-engine
    deterministic under round(6). Caught by the tools/tiers.py conditioning tier."""
    g = (
        orders_with_nation(spark, sf_dir)
        .groupBy(F.col("n_name").alias("grp"))
        .agg(
            revenue_cents().alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("gk"),
        F.sum("x").cast("bigint").alias("tx"),
        F.sum("y").cast("bigint").alias("ty"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "gk",
        "tx",
        "ty",
        (
            (F.col("tx") - F.col("x")) * 1.0 / (F.col("ty") - F.col("y"))
            - F.col("tx") * 1.0 / F.col("ty")
        ).alias("d_g"),
    )
    jk = loo.groupBy("gk", "tx", "ty").agg(
        F.avg("d_g").alias("m"),
        F.sum(F.col("d_g") * F.col("d_g")).alias("dsq"),
    )
    gk = F.col("gk")
    theta = F.col("tx") * 1.0 / F.col("ty")
    jvar = (gk - 1.0) / gk * (F.col("dsq") - gk * F.col("m") * F.col("m"))
    return jk.select(
        gk.alias("n_groups"),
        F.round(theta, 6).alias("theta_cents"),
        F.round(jvar, 6).alias("jk_var"),
        F.round(F.sqrt(jvar), 6).alias("jk_se"),
        F.round((gk - 1.0) * F.col("m"), 6).alias("jk_bias"),
    )


@register(
    "ts_ljung_box",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM daily),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(cents) AS mu,
                 sum((cents - (SELECT avg(cents) FROM daily))
                     * (cents - (SELECT avg(cents) FROM daily))) AS denom
          FROM daily),
    lags AS (SELECT unnest(range(1, 7)) AS lag),
    pairs AS (
      SELECT l.lag, a.cents AS x, b.cents AS y
      FROM r a JOIN lags l ON true JOIN r b ON a.rn = b.rn + l.lag
    ),
    ac AS (
      SELECT p.lag,
             sum((p.x - m.mu) * (p.y - m.mu)) / m.denom AS rk
      FROM pairs p, m GROUP BY p.lag, m.denom
    ),
    q AS (
      SELECT m.n, sum(ac.rk * ac.rk / (m.n - ac.lag)) AS srk,
             count(*) AS n_lags
      FROM ac, m GROUP BY m.n
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n_lags AS BIGINT) AS n_lags,
           round(n * (n + 2.0) * srk, 6) AS q_stat,
           CASE WHEN n_lags = 6 THEN
             round(exp(-(n * (n + 2.0) * srk) / 2)
                   * (1 + (n * (n + 2.0) * srk) / 2
                        + (n * (n + 2.0) * srk) * (n * (n + 2.0) * srk) / 8),
                   6)
           END AS p_value
    FROM q
    """,
    "timeseries",
    "autocorrelation",
    "diagnostic",
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (lags 1-6) for autocorrelation in
    daily order revenue: Q = n(n+2) * sum_k r_k^2/(n-k) with the
    standard full-series-mean autocorrelation estimator (shared
    denominator — unlike ts_autocorrelation's per-lag Pearson), and the
    df=6 chi-square p-value in closed form
    exp(-Q/2)*(1 + Q/2 + (Q/2)^2/2) — even df needs no erf, so the
    oracle computes the identical expression. n_lags reports the lags
    that actually contributed pairs, and the df=6 tail is NULL-gated
    on n_lags = 6 (a <=6-day series sums a shorter Q; pricing it
    against df=6 would overstate p) — same convention as
    stat_bowker_symmetry's pair gate. The raw table reduces to
    the calendar-bounded daily frame before any window or lag join
    runs; revenue is integer cents so mu and the centered products are
    the same doubles in both engines (bounded fold under round(6))."""
    from pyspark.sql import Window as W

    daily = (
        daily_cents(spark, sf_dir, "cents")
        # calendar-bounded but consumed by FOUR branches (rank frame,
        # moments pass, and the mean dim inside it): cache so the
        # orders scan runs once, not 4x
        .cache()
    )
    r = daily.withColumn("rn", F.row_number().over(W.orderBy("day")))
    m = daily.crossJoin(
        F.broadcast(daily.agg(F.avg("cents").alias("mu")))
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.first("mu").alias("mu"),
        F.sum((F.col("cents") - F.col("mu")) * (F.col("cents") - F.col("mu"))).alias(
            "denom"
        ),
    )
    lags = spark.range(1, 7).select(F.col("id").cast("int").alias("lag"))
    a = r.select(F.col("rn").alias("rn_a"), F.col("cents").alias("x"))
    b = r.select(F.col("rn").alias("rn_b"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))  # 6-row lag dimension
        .join(b, F.col("rn_a") == F.col("rn_b") + F.col("lag"))
        .select("lag", "x", "y")
    )
    ac = (
        pairs.crossJoin(F.broadcast(m))  # 1-row moments dimension
        .groupBy("lag", "denom", "n")
        .agg(
            F.sum((F.col("x") - F.col("mu")) * (F.col("y") - F.col("mu"))).alias("num")
        )
        .select("lag", "n", (F.col("num") / F.col("denom")).alias("rk"))
    )
    q = ac.groupBy("n").agg(
        F.sum(F.col("rk") * F.col("rk") / (F.col("n") - F.col("lag"))).alias("srk"),
        F.count(F.lit(1)).alias("n_lags"),
    )
    qs = F.col("n") * (F.col("n") + 2.0) * F.col("srk")
    return q.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("n_lags").cast("bigint").alias("n_lags"),
        F.round(qs, 6).alias("q_stat"),
        # the df=6 even-df closed form prices the tail only when all 6
        # lags contribute; a <=6-day series produces fewer pairs, and
        # pricing its shorter Q sum against df=6 would overstate p
        F.when(
            F.col("n_lags") == 6,
            F.round(F.exp(-qs / 2) * (1 + qs / 2 + qs * qs / 8), 6),
        ).alias("p_value"),
    )


@register(
    "stat_hhi_concentration",
    """
    WITH rev AS (
      SELECT r.r_name AS region, s.s_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, s.s_suppkey
    ),
    tot AS (SELECT region, CAST(sum(cents) AS BIGINT) AS tot_cents,
                   CAST(count(*) AS BIGINT) AS n_suppliers
            FROM rev GROUP BY region),
    hhi AS (
      SELECT rev.region, t.n_suppliers,
             sum((rev.cents * 1.0 / t.tot_cents)
                 * (rev.cents * 1.0 / t.tot_cents)) AS hhi
      FROM rev JOIN tot t ON rev.region = t.region
      GROUP BY rev.region, t.n_suppliers
    )
    SELECT region, n_suppliers,
           round(hhi, 6) AS hhi,
           round(1.0 / hhi, 4) AS effective_n
    FROM hhi ORDER BY region
    """,
    "stats",
    "concentration",
    "market",
)
def stat_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of discounted supplier
    revenue within each region: HHI = sum of squared revenue shares,
    plus the effective number of equal-size suppliers 1/HHI. Supplier
    revenues reduce to exact integer cents per (region, supplier);
    shares are one division each and the squared-share fold runs over
    the supplier-count-bounded frame (broadcast region totals — no
    second corpus pass). Bounded double sum under round(6)."""
    rev = (
        t(spark, sf_dir, "lineitem")
        .join(
            t(spark, sf_dir, "supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(F.col("r_name").alias("region"), "s_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    tot = rev.groupBy("region").agg(
        F.sum("cents").cast("bigint").alias("tot_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share = F.col("cents") * 1.0 / F.col("tot_cents")
    hhi = (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region", "n_suppliers")
        .agg(F.sum(share * share).alias("hhi"))
    )
    return hhi.select(
        "region",
        "n_suppliers",
        F.round(F.col("hhi"), 6).alias("hhi"),
        F.round(1.0 / F.col("hhi"), 4).alias("effective_n"),
    ).orderBy("region")


@register(
    "stat_cochran_q",
    """
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS t1,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 200
                           THEN 1 ELSE 0 END) AS BIGINT) AS t2,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 300
                           THEN 1 ELSE 0 END) AS BIGINT) AS t3
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t1) AS BIGINT) AS c1,
             CAST(sum(t2) AS BIGINT) AS c2,
             CAST(sum(t3) AS BIGINT) AS c3,
             CAST(sum(t1 + t2 + t3) AS BIGINT) AS sr,
             CAST(sum((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS srr
      FROM u
    ),
    q AS (
      SELECT n, c1, c2, c3,
             3.0 * 2 * ((c1 - sr / 3.0) * (c1 - sr / 3.0)
                        + (c2 - sr / 3.0) * (c2 - sr / 3.0)
                        + (c3 - sr / 3.0) * (c3 - sr / 3.0))
               / (3.0 * sr - srr) AS q_stat
      FROM agg
    )
    SELECT n AS n_users, c1 AS conv100, c2 AS conv200, c3 AS conv300,
           round(q_stat, 6) AS q_stat,
           round(exp(-q_stat / 2), 6) AS p_value
    FROM q
    """,
    "stats",
    "matched",
    "categorical",
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for k=3 matched binary outcomes per user (ever
    converted above the 100 / 200 / 300 purchase-value bar — nested
    flags, so prevalences genuinely differ): Q = k(k-1) * sum_j
    (C_j - R/k)^2 / (k*R - sum_i R_i^2), df = k-1 = 2, whose chi-square
    p-value is exactly exp(-Q/2) — no erf, so the oracle computes the
    identical closed form. (The raw ever-viewed/clicked/purchased flags
    are saturated at this event density — every user has all three —
    which degenerates Q's denominator to zero; thresholded conversion
    flags keep the test well-posed at every SF.) Everything reduces to
    six exact BIGINT aggregates over the per-user flag frame (one
    distributed reduction); the Q algebra is a fixed-size expression on
    one row."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    F.when(
                        (F.col("event_type") == "purchase") & (F.col("value") > thr), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(c)
                for thr, c in ((100, "t1"), (200, "t2"), (300, "t3"))
            ]
        )
    )
    rsum = F.col("t1") + F.col("t2") + F.col("t3")
    agg = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t1").cast("bigint").alias("c1"),
        F.sum("t2").cast("bigint").alias("c2"),
        F.sum("t3").cast("bigint").alias("c3"),
        F.sum(rsum).cast("bigint").alias("sr"),
        F.sum(rsum * rsum).cast("bigint").alias("srr"),
    )
    mean_c = F.col("sr") / 3.0
    q = (
        F.lit(3.0)
        * 2
        * (
            (F.col("c1") - mean_c) * (F.col("c1") - mean_c)
            + (F.col("c2") - mean_c) * (F.col("c2") - mean_c)
            + (F.col("c3") - mean_c) * (F.col("c3") - mean_c)
        )
        / (3.0 * F.col("sr") - F.col("srr"))
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("c1").alias("conv100"),
        F.col("c2").alias("conv200"),
        F.col("c3").alias("conv300"),
        F.round(q, 6).alias("q_stat"),
        F.round(F.exp(-q / 2), 6).alias("p_value"),
    )


@register(
    "stat_mcnemar_exact",
    """
    WITH u AS (
      SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' AND value > 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
             CAST(CASE WHEN count(CASE WHEN event_type = 'purchase' THEN 1 END) > 15
                       THEN 1 ELSE 0 END AS BIGINT) AS frequent
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN high_value = 1 AND frequent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN high_value = 0 AND frequent = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM u
    ),
    lf AS (
      SELECT i,
             coalesce(sum(CASE WHEN i = 0 THEN 0.0 ELSE ln(i) END)
               OVER (ORDER BY i), 0.0) AS lnf
      FROM (SELECT unnest(range(0, (SELECT b + c + 1 FROM cells))) AS i)
    ),
    kk AS (SELECT cells.*, b + c AS m,
                  unnest(range(0, least(b, c) + 1)) AS k FROM cells),
    tail AS (
      SELECT b, c, m,
             sum(exp((SELECT lnf FROM lf WHERE i = kk.m)
                     - (SELECT lnf FROM lf WHERE i = kk.k)
                     - (SELECT lnf FROM lf WHERE i = kk.m - kk.k)
                     - m * ln(2))) AS p_tail
      FROM kk GROUP BY b, c, m
    )
    SELECT b AS discordant_b, c AS discordant_c,
           round(CASE WHEN b = c THEN 1.0
                      ELSE least(1.0, 2 * p_tail) END, 6) AS p_value
    FROM tail
    """,
    "stats",
    "matched",
    "exact-test",
)
def stat_mcnemar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (binomial) McNemar test of marginal homogeneity between
    two matched per-user flags — 'ever converted above 100' vs 'more
    than 15 purchase events' (the raw clicked/purchased pair is
    saturated at this event density: zero discordant users, a vacuous
    test): under H0 the b discordant (1,0) users and c discordant (0,1)
    users are Binomial(b+c, 1/2), so the two-sided p-value is
    2 * P(X <= min(b, c)) (capped at 1; exactly 1 when b = c). The
    binomial pmf expands in ln-factorials from the same ordered prefix
    fold as the oracle's window sum (Fisher-exact precedent). The
    corpus-scale work is the distributed per-user flag reduction to two
    cells; the tail has min(b, c)+1 terms."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            purchased_over(100).alias("high_value"),
            F.when(
                F.count(F.when(F.col("event_type") == "purchase", 1)) > 15, 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("frequent"),
        )
    )
    cells = u.agg(
        F.sum(
            F.when((F.col("high_value") == 1) & (F.col("frequent") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("high_value") == 0) & (F.col("frequent") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    row = cells.collect()[0]  # 2-cell metadata pull (Fisher-exact pattern)
    if row["b"] is None:  # empty input: the oracle's range-unnest over
        # NULL cells collapses to zero rows — match it exactly
        return cells.sparkSession.createDataFrame(
            [], "discordant_b bigint, discordant_c bigint, p_value double"
        )
    b, c = row["b"], row["c"]
    m = b + c
    lnf = [0.0] * (m + 1)
    acc = 0.0
    for j in range(1, m + 1):
        acc += math.log(j)
        lnf[j] = acc
    if b == c:
        p = 1.0
    else:
        tail = sum(
            math.exp(lnf[m] - lnf[k] - lnf[m - k] - m * math.log(2))
            for k in range(0, min(b, c) + 1)
        )
        p = min(1.0, 2 * tail)
    return local_rows_df(
        cells.sparkSession,
        [(b, c, round(p, 6))],
        "discordant_b bigint, discordant_c bigint, p_value double",
    )


@register(
    "stat_negbin_fit",
    """
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS k
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(k) AS BIGINT) AS s,
             CAST(sum(CAST(k AS HUGEINT) * k) AS DOUBLE) AS ss
      FROM u
    ),
    mv AS (
      SELECT n, s * 1.0 / n AS m,
             (ss - s * 1.0 / n * s) / (n - 1) AS v
      FROM mom
    )
    SELECT n AS n_users,
           round(m, 6) AS mean_events,
           round(v, 6) AS var_events,
           round(v / m, 6) AS dispersion,
           round(CASE WHEN v > m THEN m * m / (v - m) END, 6) AS nb_r,
           round(CASE WHEN v > m THEN m / v END, 6) AS nb_p
    FROM mv
    """,
    "stats",
    "distribution-fit",
    "overdispersion",
)
def stat_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of per-user event counts
    — the standard overdispersion model for activity data: r = m^2 /
    (v - m), p = m / v, with the dispersion index v/m alongside (NULL
    fit parameters when the data is at-or-under-dispersed and NB
    degenerates to Poisson). Moments are EXACT integers (counts and
    squared counts as BIGINT) reduced in one distributed pass, so both
    engines start the double algebra from identical values; the fit is
    a fixed-size expression on one row."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    mom = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s"),
        # squared per-user event counts can brush the BIGINT ceiling at
        # 100 TB (heavy-tailed k): exact DECIMAL accumulation, one cast
        F.sum(F.col("k").cast("decimal(18,0)") * F.col("k").cast("decimal(18,0)"))
        .cast("double")
        .alias("ss"),
    )
    m = F.col("s") * 1.0 / F.col("n")
    v = (F.col("ss") - m * F.col("s")) / (F.col("n") - 1)
    mv = mom.select(F.col("n"), m.alias("m"), v.alias("v"))
    return mv.select(
        F.col("n").alias("n_users"),
        F.round(F.col("m"), 6).alias("mean_events"),
        F.round(F.col("v"), 6).alias("var_events"),
        F.round(F.col("v") / F.col("m"), 6).alias("dispersion"),
        F.round(
            F.when(
                F.col("v") > F.col("m"),
                F.col("m") * F.col("m") / (F.col("v") - F.col("m")),
            ),
            6,
        ).alias("nb_r"),
        F.round(F.when(F.col("v") > F.col("m"), F.col("m") / F.col("v")), 6).alias(
            "nb_p"
        ),
    )


@register(
    "stat_capture_recapture",
    """
    WITH e AS (
      SELECT user_id,
             datediff('day', DATE '1970-01-01',
                      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d
      FROM events WHERE event_type = 'purchase' AND value > 150
    ),
    u AS (
      SELECT user_id,
             CAST(max(CASE WHEN d % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(max(CASE WHEN d % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM e GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(sum(f1) AS BIGINT) AS n1,
             CAST(sum(f2) AS BIGINT) AS n2,
             CAST(sum(f1 * f2) AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS observed
      FROM u
    )
    SELECT n1, n2, m AS overlap, observed,
           round(CASE WHEN m > 0 THEN n1 * n2 * 1.0 / m END, 4) AS lincoln_petersen,
           round((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0, 4) AS chapman
    FROM cells
    """,
    "stats",
    "population",
    "estimation",
)
def stat_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample capture-recapture estimate of the total high-value
    purchaser population: 'capture occasions' are even vs odd epoch
    days of purchase>150 events, giving exact per-user presence flags
    in one distributed reduction; the Lincoln-Petersen estimate
    n1*n2/m (NULL when the samples don't overlap) and the
    bias-corrected Chapman estimate (n1+1)(n2+1)/(m+1) - 1 are
    fixed-size expressions on the four BIGINT cells. The estimators'
    population-closure assumption is documented by construction (same
    underlying user set on both occasions)."""
    e = (
        t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & (F.col("value") > 150))
        .select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
    )
    u = e.groupBy("user_id").agg(
        F.max(F.when(F.col("d") % 2 == 0, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.max(F.when(F.col("d") % 2 == 1, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    cells = u.agg(
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("f2").cast("bigint").alias("n2"),
        F.sum(F.col("f1") * F.col("f2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("observed"),
    )
    return cells.select(
        "n1",
        "n2",
        F.col("m").alias("overlap"),
        "observed",
        F.round(
            F.when(F.col("m") > 0, F.col("n1") * F.col("n2") * 1.0 / F.col("m")), 4
        ).alias("lincoln_petersen"),
        F.round(
            (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0, 4
        ).alias("chapman"),
    )


@register(
    "stat_cramers_v_matrix",
    """
    WITH cells AS (
      SELECT 'variant_x_event_type' AS pair,
             CAST(user_id % 2 AS VARCHAR) AS r, event_type AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY user_id % 2, event_type
      UNION ALL
      SELECT 'status_x_priority' AS pair,
             o_orderstatus AS r, o_orderpriority AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    margins AS (
      SELECT pair, r, c, o,
             sum(o) OVER (PARTITION BY pair, r) AS rm,
             sum(o) OVER (PARTITION BY pair, c) AS cm,
             sum(o) OVER (PARTITION BY pair) AS n
      FROM cells
    ),
    chi AS (
      SELECT pair, CAST(max(n) AS BIGINT) AS n,
             CAST(count(DISTINCT r) AS BIGINT) AS nr,
             CAST(count(DISTINCT c) AS BIGINT) AS nc,
             sum((o - rm * 1.0 * cm / n) * (o - rm * 1.0 * cm / n)
                 / (rm * 1.0 * cm / n)) AS chi2
      FROM margins GROUP BY pair
    )
    SELECT pair, n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 6) AS cramers_v
    FROM chi ORDER BY pair
    """,
    "stats",
    "association",
    "categorical",
)
def stat_cramers_v_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association strength for two categorical pairs
    (even/odd-user variant x event_type; order status x priority) —
    the normalized [0,1] companion to stat_chi_square_independence
    that makes association COMPARABLE across tables with different
    dimensions. Each pair is one combiner-friendly contingency
    aggregation; margins come from windows over the tiny aggregated
    cell frame (never the raw scan), and V = sqrt(chi2 / (n *
    min(r-1, c-1))) folds over at most |r|*|c| cells per pair."""
    from pyspark.sql import Window as W

    ev = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2).cast("string").alias("r"),
            F.col("event_type").alias("c"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .select(F.lit("variant_x_event_type").alias("pair"), "r", "c", "o")
    )
    od = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("r"), F.col("o_orderpriority").alias("c")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
        .select(F.lit("status_x_priority").alias("pair"), "r", "c", "o")
    )
    cells = ev.unionByName(od)
    margins = (
        cells.withColumn("rm", F.sum("o").over(W.partitionBy("pair", "r")))
        .withColumn("cm", F.sum("o").over(W.partitionBy("pair", "c")))
        .withColumn("n", F.sum("o").over(W.partitionBy("pair")))
    )
    e = F.col("rm") * 1.0 * F.col("cm") / F.col("n")
    chi = margins.groupBy("pair").agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("r").cast("bigint").alias("nr"),
        F.countDistinct("c").cast("bigint").alias("nc"),
        F.sum((F.col("o") - e) * (F.col("o") - e) / e).alias("chi2"),
    )
    return chi.select(
        "pair",
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("df"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    ).orderBy("pair")


@register(
    "graph_powerlaw_fit",
    """
    WITH d AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS k
      FROM orders GROUP BY o_custkey
    ),
    fit AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(min(k) AS BIGINT) AS kmin,
             CAST(max(k) AS BIGINT) AS kmax,
             CAST(sum(k) AS BIGINT) AS s,
             sum(ln(k * 2.0)) AS lnsum,
             CAST(sum(CASE WHEN k >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
             sum(CASE WHEN k >= 4 THEN ln(k / 3.5) END) AS lnsum_tail
      FROM d
    )
    SELECT n AS n_nodes, kmin, kmax,
           round(s * 1.0 / n, 6) AS mean_degree,
           CAST(4 AS BIGINT) AS k_min_fit, n_tail,
           round(CASE WHEN n_tail > 0 THEN 1.0 + n_tail / lnsum_tail END, 6)
             AS alpha_mle,
           round(1.0 + n / lnsum, 6) AS alpha_mle_k1
    FROM fit
    """,
    "graph",
    "distribution-fit",
)
def graph_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent MLE for the customer order-count degree
    distribution via the Clauset-Shalizi-Newman continuous
    approximation, fit on the TAIL k >= k_min_fit = 4:
    alpha = 1 + n_tail / sum ln(k_i / (k_min_fit - 1/2)). Clauset et
    al. (2009) warn the continuous approximation is only accurate for
    kmin >~ 6; at kmin=1 it UNDERSTATES alpha by 7-35% across
    alpha in [1.8, 3.5] on exact zeta samples, while the kmin=4 tail
    fit lands within ~2% (measured in tests/test_calibration7.py —
    round-6 calibration finding). The naive kmin=1 value is kept as
    alpha_mle_k1 for reference. One distributed degree reduction, then
    a single one-pass aggregate (the ln fold is this op's documented
    summation-order ulp exposure — ~1e-13 relative on the statistic,
    far inside round(6)). Degree moments are exact BIGINTs."""
    d = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    tail = F.col("k") >= 4
    fit = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("k").cast("bigint").alias("kmin"),
        F.max("k").cast("bigint").alias("kmax"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.log(F.col("k") * 2.0)).alias("lnsum"),
        F.sum(F.when(tail, 1).otherwise(0)).cast("bigint").alias("n_tail"),
        F.sum(F.when(tail, F.log(F.col("k") / 3.5))).alias("lnsum_tail"),
    )
    return fit.select(
        F.col("n").alias("n_nodes"),
        "kmin",
        "kmax",
        F.round(F.col("s") * 1.0 / F.col("n"), 6).alias("mean_degree"),
        F.lit(4).cast("bigint").alias("k_min_fit"),
        "n_tail",
        F.round(
            F.when(F.col("n_tail") > 0, 1.0 + F.col("n_tail") / F.col("lnsum_tail")), 6
        ).alias("alpha_mle"),
        F.round(1.0 + F.col("n") / F.col("lnsum"), 6).alias("alpha_mle_k1"),
    )


@register(
    "stat_gumbel_max_fit",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS dy,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mx
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(mx) AS BIGINT) AS s,
             CAST(sum(CAST(mx AS HUGEINT) * mx) AS DOUBLE) AS ss,
             CAST(max(mx) AS BIGINT) AS biggest
      FROM d
    ),
    fit AS (
      SELECT n, biggest,
             s * 1.0 / n AS m,
             sqrt((ss - s * 1.0 / n * s) / (n - 1)) * sqrt(6.0) / pi() AS beta
      FROM mom
    )
    SELECT n AS n_blocks, biggest AS observed_max_cents,
           round(m - 0.5772156649015329 * beta, 4) AS gumbel_mu_cents,
           round(beta, 4) AS gumbel_beta_cents,
           round((m - 0.5772156649015329 * beta)
                 - beta * ln(-ln(0.99)), 4) AS return_level_99_cents,
           round(1.0 - exp(-exp(-(biggest - (m - 0.5772156649015329 * beta))
                                / beta)), 6) AS p_exceed_observed_max
    FROM fit
    """,
    "stats",
    "extreme-value",
    "distribution-fit",
)
def stat_gumbel_max_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EVT type-I) method-of-moments fit of daily block maxima
    of order price: beta = sd * sqrt(6)/pi, mu = mean - gamma*beta
    (Euler-Mascheroni as an explicit literal in both engines), with the
    99% return level mu - beta*ln(-ln(0.99)) and the fitted exceedance
    probability of the observed all-time max. Block maxima and their
    squared sums reduce to EXACT integers (BIGINT / DECIMAL(37,0) —
    daily max cents squared overflow BIGINT at sf0.1's price range)
    before the double algebra; the fit is a fixed-size expression on
    one row."""
    d = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("dy"))
        .agg(
            F.max(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("mx")
        )
    )
    dec = F.col("mx").cast("decimal(18,0)")
    mom = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
        F.max("mx").cast("bigint").alias("biggest"),
    )
    m = F.col("s") * 1.0 / F.col("n")
    sd = F.sqrt((F.col("ss") - m * F.col("s")) / (F.col("n") - 1))
    fit = mom.select(
        "n",
        "biggest",
        m.alias("m"),
        (sd * math.sqrt(6.0) / math.pi).alias("beta"),
    )
    gamma = 0.5772156649015329
    mu = F.col("m") - gamma * F.col("beta")
    return fit.select(
        F.col("n").alias("n_blocks"),
        F.col("biggest").alias("observed_max_cents"),
        F.round(mu, 4).alias("gumbel_mu_cents"),
        F.round(F.col("beta"), 4).alias("gumbel_beta_cents"),
        F.round(mu - F.col("beta") * math.log(-math.log(0.99)), 4).alias(
            "return_level_99_cents"
        ),
        F.round(
            1.0 - F.exp(-F.exp(-(F.col("biggest") - mu) / F.col("beta"))), 6
        ).alias("p_exceed_observed_max"),
    )


@register(
    "stat_theil_index",
    """
    WITH x AS (
      SELECT c.c_custkey, r.r_name AS region,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY c.c_custkey, r.r_name
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS xt
            FROM x),
    t_total AS (
      SELECT sum(cents * 1.0 / xt * ln(cents * 1.0 * n / xt)) AS theil_total
      FROM x, tot
    ),
    grp AS (
      SELECT region, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(cents) AS BIGINT) AS xg
      FROM x GROUP BY region
    ),
    t_between AS (
      SELECT sum(xg * 1.0 / xt * ln((xg * 1.0 / xt) * (n * 1.0 / ng)))
               AS theil_between
      FROM grp, tot
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           round(t.theil_total, 6) AS theil_total,
           round(b.theil_between, 6) AS theil_between,
           round(t.theil_total - b.theil_between, 6) AS theil_within
    FROM t_total t, t_between b
    """,
    "stats",
    "inequality",
    "decomposition",
)
def stat_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer total spend with its exact
    within/between-region decomposition (the additively decomposable
    inequality measure Gini lacks — stat_gini_customer_spend's
    companion): T = sum (x_i/X) ln(n x_i / X), between = sum over
    regions (X_g/X) ln((X_g/X)/(n_g/n)), within = T - between (the
    decomposition identity, so the emitted triple is consistent by
    construction). Spend reduces to exact BIGINT cents per customer;
    the entropy folds run over the customer-grain frame (documented
    summation-order ulp class under round(6)) and the 5-row region
    frame, with the 1-row totals broadcast back."""
    x = (
        orders_with_region(spark, sf_dir)
        .groupBy("c_custkey", F.col("r_name").alias("region"))
        .agg(revenue_cents().alias("cents"))
        # customer-grain but consumed by the totals pass, the entropy
        # fold, and the region decomposition: cache so the 4-table join
        # runs once, not 3x (MEMORY_AND_DISK spills safely at scale)
        .cache()
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("xt"),
    )
    xt = x.crossJoin(F.broadcast(tot))  # 1-row totals dimension
    t_total = xt.agg(
        F.sum(
            F.col("cents")
            * 1.0
            / F.col("xt")
            * F.log(F.col("cents") * 1.0 * F.col("n") / F.col("xt"))
        ).alias("theil_total")
    )
    grp = x.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("cents").cast("bigint").alias("xg"),
    )
    t_between = grp.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("xg")
            * 1.0
            / F.col("xt")
            * F.log(
                (F.col("xg") * 1.0 / F.col("xt")) * (F.col("n") * 1.0 / F.col("ng"))
            )
        ).alias("theil_between")
    )
    n_row = tot.select(F.col("n").alias("n_customers"))
    return (
        n_row.crossJoin(F.broadcast(t_total))  # 1-row aggregates
        .crossJoin(F.broadcast(t_between))
        .select(
            "n_customers",
            F.round(F.col("theil_total"), 6).alias("theil_total"),
            F.round(F.col("theil_between"), 6).alias("theil_between"),
            F.round(F.col("theil_total") - F.col("theil_between"), 6).alias(
                "theil_within"
            ),
        )
    )
