"""Effect sizes, distribution-shape tests, and stratified/post-hoc
inference — the companions the existing rank/contingency faces imply:

- Cliff's delta (the effect size Mann-Whitney U only hints at),
- two-sample Cramer-von Mises (the integrated-square sibling of KS),
- 1-D energy distance (the characteristic-function two-sample test,
  computed exactly by the same summation-by-parts cumsum trick as
  stat_wasserstein_1d),
- Mantel-Haenszel pooled odds ratio + CMH test (the stratified sibling
  of stat_chi_square_independence / stat_fisher_exact),
- Friedman test (the within-block sibling of stat_kruskal_wallis),
- Dunn post-hoc pairwise z (what you run AFTER Kruskal-Wallis rejects).

All rank machinery rides operators/rankstats.py's bucketed two-phase
plan — no single-partition window ever sees row-grain data; the only
per-row windows are partitioned by block keys with bounded groups.
Tail probabilities use operators/pvalues.py's closed-form spellings so
the DuckDB oracles can restate the identical arithmetic.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); this face is engine-only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df

from etl_file_sync_spark.operators.pvalues import (
    chi2_sf_df1,
    chi2_sf_df4,
    erfc_as_sql,
    normal_sf_signed,
    normal_sf_signed_sql,
    normal_two_sided_p,
)
from etl_file_sync_spark.operators.rankstats import (
    bucketed_cumsums,
    group_rank_sums,
    tie_sum,
    window_midrank,
)
from etl_file_sync_spark.queries.inputs import (
    daily_cents,
    order_month,
    orders_with_region,
    revenue_cents,
    value_counts,
    variant_prices,
)
from etl_file_sync_spark.queries.registry import register, t

# 1 - erf_as on a column named xx (|z|/sqrt(2) or sqrt(x/2)) with
# tt = 1/(1 + 0.3275911 xx): the oracles' two-sided p / chi2_1 tail.
_SQL_ERFC = erfc_as_sql("tt", "xx")


def _block_midranks(cell: DataFrame) -> DataFrame:
    """Midrank ``rk`` of each treatment ``trt``'s revenue ``y`` within
    its monthly block ``blk``, over the complete blocks only (all five
    treatments observed). The windows are partitioned by block, so
    each holds five rows."""
    complete = cell.groupBy("blk").agg(F.count(F.lit(1)).alias("k")).where(
        F.col("k") == 5
    )
    cells = cell.join(F.broadcast(complete.select("blk")), "blk")
    return cells.select("blk", "trt", window_midrank("y", "blk").alias("rk"))


@register(
    "stat_cliffs_delta",
    """
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'P' ELSE 'V' END AS variant,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    g AS (SELECT variant, v, count(*) AS c FROM s GROUP BY variant, v),
    vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt FROM g GROUP BY v),
    cum AS (
      SELECT v, coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vals
    ),
    agg AS (
      SELECT g.variant, CAST(sum(g.c) AS BIGINT) AS n,
             sum(g.c * cum.avg_rank) AS rank_sum
      FROM g JOIN cum ON g.v = cum.v GROUP BY g.variant
    ),
    pvt AS (
      SELECT max(CASE WHEN variant = 'P' THEN n END) AS na,
             max(CASE WHEN variant = 'V' THEN n END) AS nb,
             max(CASE WHEN variant = 'P' THEN rank_sum END) AS ra
      FROM agg
    ),
    d AS (
      SELECT na, nb,
             ra - na * (na + 1) / 2.0 AS u_stat,
             round(2.0 * (ra - na * (na + 1) / 2.0) / (na * nb) - 1.0, 6)
               AS cliffs_delta
      FROM pvt
    )
    SELECT CAST(na AS BIGINT) AS n_purchase, CAST(nb AS BIGINT) AS n_view,
           round(u_stat, 2) AS u_stat, cliffs_delta,
           CASE WHEN abs(cliffs_delta) < 0.147 THEN 'negligible'
                WHEN abs(cliffs_delta) < 0.33 THEN 'small'
                WHEN abs(cliffs_delta) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
    """,
    "stats",
    "effect-size",
    "distributed-rank",
)
def stat_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (with ties) between purchase and view event values:
    delta = (#(x>y) - #(x<y)) / (n_P * n_V), recovered exactly from the
    midrank Mann-Whitney U because U = #(x>y) + #(x=y)/2, hence
    delta = 2U/(n_P n_V) - 1. Values reduce to exact integer cents; U
    is a half-integer, so the division is the same exact rational in
    both engines. Ranks ride the bucketed two-phase plan; the Romano
    magnitude bucket is decided on the 6-decimal-rounded delta so both
    engines branch identically."""
    s = t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.when(F.col("event_type") == "purchase", "P").otherwise("V").alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    g = s.groupBy("variant", "v").agg(F.count(F.lit(1)).alias("c"))
    _, agg = group_rank_sums(g, "variant")
    pvt = agg.agg(
        F.max(F.when(F.col("variant") == "P", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "V", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "P", F.col("rank_sum"))).alias("ra"),
    )
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / F.lit(2.0)
    d = pvt.select(
        "na",
        "nb",
        u.alias("u_stat"),
        F.round(2.0 * u / (F.col("na") * F.col("nb")) - 1.0, 6).alias("cliffs_delta"),
    )
    mag = F.abs(F.col("cliffs_delta"))
    return d.select(
        F.col("na").cast("bigint").alias("n_purchase"),
        F.col("nb").cast("bigint").alias("n_view"),
        F.round("u_stat", 2).alias("u_stat"),
        "cliffs_delta",
        F.when(mag < 0.147, "negligible")
        .when(mag < 0.33, "small")
        .when(mag < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@register(
    "stat_cvm_two_sample",
    """
    WITH s AS (
      SELECT l_returnflag AS variant, l_extendedprice AS v
      FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    g AS (
      SELECT v,
             CAST(sum(CASE WHEN variant = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN variant = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM s GROUP BY v
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
            FROM g),
    cum AS (
      SELECT v, ca, cb,
             sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cb) OVER (ORDER BY v) AS cum_b
      FROM g
    ),
    contrib AS (
      SELECT sum((ca + cb) * (cum_a * 1.0 / na - cum_b * 1.0 / nb)
                           * (cum_a * 1.0 / na - cum_b * 1.0 / nb)) AS s2,
             max(na) AS na, max(nb) AS nb
      FROM cum, tot
    )
    SELECT CAST(na AS BIGINT) AS n_r, CAST(nb AS BIGINT) AS n_n,
           round(na * 1.0 * nb / ((na + nb) * (na + nb)) * s2, 6) AS t_stat
    FROM contrib
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramer-von Mises criterion between the R and N
    return-flag l_extendedprice distributions, in its ties-adjusted
    ECDF form T = n m/(n+m)^2 * sum over distinct values of
    w_k (F_n(v_k) - G_m(v_k))^2 with w_k the combined multiplicity —
    the integrated-square companion to stat_ks_two_sample's sup-norm.
    One inclusive bucketed cumsum pass (operators/rankstats.py)
    supplies both ECDFs; the final fold is a double sum in the
    documented summation-order ulp class under round(6)."""
    s = t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "N")
    ).select(F.col("l_returnflag").alias("variant"), F.col("l_extendedprice").alias("v"))
    g = value_counts(s, "R", "N")
    tot = g.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    c = bucketed_cumsums(g, "v", ["ca", "cb"], inclusive=True)
    gap = F.col("cum_ca") * 1.0 / F.col("na") - F.col("cum_cb") * 1.0 / F.col("nb")
    contrib = (
        c.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .agg(
            F.sum((F.col("ca") + F.col("cb")) * gap * gap).alias("s2"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    return contrib.select(
        F.col("na").cast("bigint").alias("n_r"),
        F.col("nb").cast("bigint").alias("n_n"),
        F.round(
            F.col("na")
            * 1.0
            * F.col("nb")
            / ((F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb")))
            * F.col("s2"),
            6,
        ).alias("t_stat"),
    )


@register(
    "stat_energy_distance",
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
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
            FROM g),
    cum AS (
      SELECT v, ca, cb,
             coalesce(sum(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS xca,
             coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS xcb
      FROM g
    ),
    terms AS (
      SELECT sum(v * ((xca * 1.0 / na - xcb * 1.0 / nb)
                        * (xca * 1.0 / na - xcb * 1.0 / nb)
                      - ((xca + ca) * 1.0 / na - (xcb + cb) * 1.0 / nb)
                        * ((xca + ca) * 1.0 / na - (xcb + cb) * 1.0 / nb)))
               AS sq_int,
             sum(v * ((xca * 1.0 / na * (1 - xcb * 1.0 / nb)
                       + xcb * 1.0 / nb * (1 - xca * 1.0 / na))
                      - ((xca + ca) * 1.0 / na * (1 - (xcb + cb) * 1.0 / nb)
                         + (xcb + cb) * 1.0 / nb * (1 - (xca + ca) * 1.0 / na))))
               AS exy,
             max(na) AS na, max(nb) AS nb
      FROM cum, tot
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(2.0 * sq_int, 4) AS energy_distance,
           round(na * 1.0 * nb / (na + nb) * 2.0 * sq_int, 2) AS e_stat,
           round(exy, 2) AS mean_cross_absdiff
    FROM terms
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D energy distance between the even/odd-custkey o_totalprice
    distributions: E = 2 E|X-Y| - E|X-X'| - E|Y-Y'| which in one
    dimension collapses to 2 * integral (F-G)^2 dv — so the SAME
    summation-by-parts trick as stat_wasserstein_1d computes it in ONE
    exclusive bucketed cumsum pass: sum over distinct v of
    v * (h_excl - h_incl) integrates any ECDF step function h whose
    value vanishes below the min and above the max, which (F-G)^2 and
    the cross-term integrand F(1-G)+G(1-F) = d/dv-density of E|X-Y|
    both do. Also emits the Szekely-Rizzo test statistic
    nm/(n+m) * E and E|X-Y| itself. Doubles fold in the documented
    summation-order ulp class under the emitted roundings."""
    g = value_counts(variant_prices(spark, sf_dir), "A", "B")
    tot = g.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    c = bucketed_cumsums(g, "v", ["ca", "cb"], inclusive=False)
    fa_x = F.col("cum_ca") * 1.0 / F.col("na")
    fb_x = F.col("cum_cb") * 1.0 / F.col("nb")
    fa_i = (F.col("cum_ca") + F.col("ca")) * 1.0 / F.col("na")
    fb_i = (F.col("cum_cb") + F.col("cb")) * 1.0 / F.col("nb")
    sq_x = (fa_x - fb_x) * (fa_x - fb_x)
    sq_i = (fa_i - fb_i) * (fa_i - fb_i)
    cross_x = fa_x * (1 - fb_x) + fb_x * (1 - fa_x)
    cross_i = fa_i * (1 - fb_i) + fb_i * (1 - fa_i)
    terms = (
        c.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .agg(
            F.sum(F.col("v") * (sq_x - sq_i)).alias("sq_int"),
            F.sum(F.col("v") * (cross_x - cross_i)).alias("exy"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    return terms.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(2.0 * F.col("sq_int"), 4).alias("energy_distance"),
        F.round(
            F.col("na") * 1.0 * F.col("nb") / (F.col("na") + F.col("nb"))
            * 2.0
            * F.col("sq_int"),
            2,
        ).alias("e_stat"),
        F.round(F.col("exy"), 2).alias("mean_cross_absdiff"),
    )


@register(
    "stat_mantel_haenszel",
    f"""
    WITH x AS (
      SELECT r.r_name AS stratum,
             CASE WHEN o.o_custkey % 2 = 0 THEN 1 ELSE 0 END AS exposed,
             CASE WHEN o.o_totalprice > 250000 THEN 1 ELSE 0 END AS success
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cells AS (
      SELECT stratum,
             CAST(sum(exposed * success) AS BIGINT) AS a,
             CAST(sum(exposed * (1 - success)) AS BIGINT) AS b,
             CAST(sum((1 - exposed) * success) AS BIGINT) AS c,
             CAST(sum((1 - exposed) * (1 - success)) AS BIGINT) AS d
      FROM x GROUP BY stratum
    ),
    fold AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             sum(a * 1.0 * d / (a + b + c + d)) AS sad,
             sum(b * 1.0 * c / (a + b + c + d)) AS sbc,
             CAST(sum(a) AS BIGINT) AS sa,
             sum((a + b) * 1.0 * (a + c) / (a + b + c + d)) AS se,
             sum((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                 / ((a + b + c + d) * 1.0 * (a + b + c + d)
                    * (a + b + c + d - 1))) AS sv
      FROM cells
    ),
    stat AS (
      SELECT n_strata, round(sad / sbc, 6) AS or_mh,
             round(ln(sad / sbc), 6) AS log_or_mh,
             round((sa - se) * (sa - se) / sv, 4) AS cmh_stat
      FROM fold
    ),
    pz AS (SELECT *, sqrt(cmh_stat / 2) AS xx FROM stat),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT n_strata, or_mh, log_or_mh, cmh_stat,
           round({_SQL_ERFC}, 6) AS p_value
    FROM pp
    """,
    "stats",
    "ab-test",
    "stratified",
)
def stat_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio and Cochran-Mantel-Haenszel
    chi-square across region strata: exposure = even custkey, outcome =
    order above 250k. Per-stratum 2x2 cells are exact integer folds;
    OR_MH = sum(a d/n) / sum(b c/n), CMH = (sum a - sum E)^2 / sum V
    with the standard hypergeometric E and V; the df=1 chi-square tail
    is the closed-form erf spelling (operators/pvalues.py), evaluated
    on the 4-decimal-rounded statistic so both engines see the same
    input. The stratified sibling of stat_chi_square_independence."""
    x = (
        orders_with_region(spark, sf_dir)
        .select(
            F.col("r_name").alias("stratum"),
            F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("exposed"),
            F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("success"),
        )
    )
    e, s_ = F.col("exposed"), F.col("success")
    cells = x.groupBy("stratum").agg(
        F.sum(e * s_).cast("bigint").alias("a"),
        F.sum(e * (1 - s_)).cast("bigint").alias("b"),
        F.sum((1 - e) * s_).cast("bigint").alias("c"),
        F.sum((1 - e) * (1 - s_)).cast("bigint").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = a + b + c + d
    fold = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(a * 1.0 * d / n).alias("sad"),
        F.sum(b * 1.0 * c / n).alias("sbc"),
        F.sum(a).cast("bigint").alias("sa"),
        F.sum((a + b) * 1.0 * (a + c) / n).alias("se"),
        F.sum(
            (a + b) * 1.0 * (c + d) * (a + c) * (b + d) / (n * 1.0 * n * (n - 1))
        ).alias("sv"),
    )
    stat = fold.select(
        "n_strata",
        F.round(F.col("sad") / F.col("sbc"), 6).alias("or_mh"),
        F.round(F.log(F.col("sad") / F.col("sbc")), 6).alias("log_or_mh"),
        F.round(
            (F.col("sa") - F.col("se")) * (F.col("sa") - F.col("se")) / F.col("sv"), 4
        ).alias("cmh_stat"),
    )
    return stat.select(
        "n_strata",
        "or_mh",
        "log_or_mh",
        "cmh_stat",
        F.round(chi2_sf_df1(F.col("cmh_stat")), 6).alias("p_value"),
    )


@register(
    "stat_friedman_test",
    """
    WITH cell AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS blk,
             o_orderpriority AS trt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                '4-NOT SPECIFIED','5-LOW')
      GROUP BY 1, 2
    ),
    complete AS (
      SELECT blk FROM cell GROUP BY blk HAVING count(*) = 5
    ),
    r AS (
      SELECT c.blk, c.trt,
             (count(*) OVER (PARTITION BY c.blk ORDER BY c.y
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*) OVER (PARTITION BY c.blk, c.y))
             + (count(*) OVER (PARTITION BY c.blk, c.y) + 1) / 2.0 AS rk
      FROM cell c JOIN complete USING (blk)
    ),
    pertrt AS (
      SELECT trt, sum(rk) AS rank_sum, sum(rk * rk) AS rank_sq,
             CAST(count(*) AS BIGINT) AS b
      FROM r GROUP BY trt
    ),
    tot AS (
      SELECT max(b) AS b, sum(rank_sq) AS aa,
             sum((rank_sum - max_b * 3.0) * (rank_sum - max_b * 3.0)) AS dev2
      FROM (SELECT *, max(b) OVER () AS max_b FROM pertrt)
    ),
    stat AS (
      SELECT b, round(4.0 * dev2 / (aa - b * 5 * 9.0), 4) AS q_stat
      FROM tot
    )
    SELECT p.trt AS treatment, CAST(s.b AS BIGINT) AS n_blocks,
           round(p.rank_sum, 2) AS rank_sum,
           round(p.rank_sum / s.b, 4) AS mean_rank,
           s.q_stat,
           round(exp(-s.q_stat / 2) * (1 + s.q_stat / 2), 6) AS p_value
    FROM pertrt p, stat s ORDER BY p.trt
    """,
    "stats",
    "rank-test",
    "ab-test",
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test of monthly revenue across the five order
    priorities: blocks = order months, treatments = priorities, value =
    exact cents revenue per (month, priority); incomplete blocks (the
    trailing partial month at some SFs) are dropped. Within-block
    midranks come from two block-partitioned windows over the
    5-row-per-block cell frame (bounded groups — scale-safe by
    construction; the cell frame itself is a combiner-friendly
    groupBy). Tie-general form Q = (k-1) * sum_j (R_j - b(k+1)/2)^2 /
    (A - C) with A = sum r^2, C = b k(k+1)^2/4; k is pinned to 5 by
    the explicit IN-list, so C = 45 b and the p-value uses the df=4
    even-df closed form exp(-Q/2)(1 + Q/2) (operators/pvalues.py),
    evaluated on the 4-decimal-rounded Q — the within-block sibling of
    stat_kruskal_wallis."""
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    cell = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin(pris))
        .groupBy(
            order_month("blk"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(revenue_cents().alias("y"))
    )
    r = _block_midranks(cell)
    pertrt = r.groupBy("trt").agg(
        F.sum("rk").alias("rank_sum"),
        F.sum(F.col("rk") * F.col("rk")).alias("rank_sq"),
        F.count(F.lit(1)).cast("bigint").alias("b"),
    ).cache()  # 5 rows, two consumers: rank the blocks once, not 2x
    totb = pertrt.agg(F.max("b").alias("max_b"))
    dev = F.col("rank_sum") - F.col("max_b") * 3.0
    tot = (
        pertrt.crossJoin(F.broadcast(totb))  # 1-row block-count dimension
        .agg(
            F.max("b").alias("b"),
            F.sum("rank_sq").alias("aa"),
            F.sum(dev * dev).alias("dev2"),
        )
    )
    stat = tot.select(
        F.col("b").alias("b_tot"),
        F.round(4.0 * F.col("dev2") / (F.col("aa") - F.col("b") * 5 * 9.0), 4).alias(
            "q_stat"
        ),
    )
    return (
        pertrt.drop("b")
        .crossJoin(F.broadcast(stat))  # 1-row test dimension
        .select(
            F.col("trt").alias("treatment"),
            F.col("b_tot").cast("bigint").alias("n_blocks"),
            F.round("rank_sum", 2).alias("rank_sum"),
            F.round(F.col("rank_sum") / F.col("b_tot"), 4).alias("mean_rank"),
            "q_stat",
            F.round(chi2_sf_df4(F.col("q_stat")), 6).alias("p_value"),
        )
        .orderBy("treatment")
    )


@register(
    "stat_dunn_posthoc",
    f"""
    WITH s AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders
      WHERE o_totalprice IS NOT NULL
    ),
    g AS (SELECT grp, v, count(*) AS c FROM s GROUP BY grp, v),
    vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt FROM g GROUP BY v),
    cum AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vals
    ),
    pg AS (
      SELECT g.grp, CAST(sum(g.c) AS BIGINT) AS n,
             sum(g.c * cum.avg_rank) AS r
      FROM g JOIN cum ON g.v = cum.v GROUP BY g.grp
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS ntot,
             CAST(count(*) AS BIGINT) AS k,
             (SELECT sum(cnt * cnt * cnt - cnt) FROM vals) AS tie_sum
      FROM pg
    ),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, t.k * (t.k - 1) / 2 AS m,
             round((a.r / a.n - b.r / b.n)
                   / sqrt((t.ntot * (t.ntot + 1) / 12.0
                           - t.tie_sum / (12.0 * (t.ntot - 1)))
                          * (1.0 / a.n + 1.0 / b.n)), 4) AS z_stat
      FROM pg a, pg b, tot t WHERE a.grp < b.grp
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM pairs),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz),
    pv AS (SELECT grp_a, grp_b, z_stat, m, {_SQL_ERFC} AS p FROM pp)
    SELECT grp_a, grp_b, z_stat,
           round(p, 6) AS p_value,
           round(least(p * m, 1.0), 6) AS p_bonferroni
    FROM pv ORDER BY grp_a, grp_b
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise z tests after stat_kruskal_wallis (same
    frame: o_totalprice across the five priorities): z_ij =
    (Rbar_i - Rbar_j) / sqrt((N(N+1)/12 - sum(t^3-t)/(12(N-1)))
    (1/n_i + 1/n_j)) with the tie correction from the same
    (value, count) frame the midranks ride, Bonferroni-adjusted over
    the k(k-1)/2 pairs (m from the data, not hard-coded). Ranks use
    the bucketed two-phase plan; the pairwise join is a 5x5 broadcast
    of the per-group aggregate. p is the closed-form two-sided normal
    tail (operators/pvalues.py) on the 4-decimal-rounded z."""
    s = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    )
    s = s.where(F.col("v").isNotNull())  # observed values only
    # distinct-value-bounded but consumed by the value vocabulary AND the
    # per-group rank join: cache so the orders scan runs once
    g = s.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c")).cache()
    vals, pg = group_rank_sums(g, "grp")
    pg = pg.cache()  # k rows; consumed by tot AND both sides of the pairwise
    # join — uncached, the midrank window join above it executed three
    # times (the round-8 probe's 50-Exchange plan)
    ties = vals.agg(tie_sum().alias("tie_sum"))
    tot = (
        pg.agg(
            F.sum("n").cast("bigint").alias("ntot"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        .crossJoin(F.broadcast(ties))  # 1-row tie dimension
    )
    a = pg.select(
        F.col("grp").alias("grp_a"), F.col("n").alias("na"), F.col("rank_sum").alias("ra")
    )
    b = pg.select(
        F.col("grp").alias("grp_b"), F.col("n").alias("nb"), F.col("rank_sum").alias("rb")
    )
    sigma2 = (
        F.col("ntot") * (F.col("ntot") + 1) / 12.0
        - F.col("tie_sum") / (12.0 * (F.col("ntot") - 1))
    )
    pairs = (
        a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .select(
            "grp_a",
            "grp_b",
            (F.col("k") * (F.col("k") - 1) / 2).alias("m"),
            F.round(
                (F.col("ra") / F.col("na") - F.col("rb") / F.col("nb"))
                / F.sqrt(sigma2 * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
                4,
            ).alias("z_stat"),
        )
    )
    p = normal_two_sided_p(F.col("z_stat"))
    return pairs.select(
        "grp_a",
        "grp_b",
        "z_stat",
        F.round(p, 6).alias("p_value"),
        F.round(F.least(p * F.col("m"), F.lit(1.0)), 6).alias("p_bonferroni"),
    ).orderBy("grp_a", "grp_b")


@register(
    "stat_kendall_tau_daily",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    pairs AS (
      SELECT
        CAST(sum(CASE WHEN (b.rev - a.rev) * (b.n_orders - a.n_orders) > 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(sum(CASE WHEN (b.rev - a.rev) * (b.n_orders - a.n_orders) < 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        CAST(sum(CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        CAST(sum(CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END) AS BIGINT)
          AS ty
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    stat AS (
      SELECT n.n, pairs.c, pairs.d,
             round((pairs.c - pairs.d) * 1.0
                   / sqrt((n.n * (n.n - 1) / 2.0 - pairs.tx)
                          * (n.n * (n.n - 1) / 2.0 - pairs.ty)), 6) AS tau_b,
             round(3.0 * (pairs.c - pairs.d)
                   / sqrt(n.n * (n.n - 1.0) * (2 * n.n + 5) / 2.0), 4) AS z_stat
      FROM pairs, n
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM stat),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT n AS n_days, c AS concordant, d AS discordant, tau_b, z_stat,
           round({_SQL_ERFC}, 6) AS p_value
    FROM pp
    """,
    "stats",
    "rank-test",
    "timeseries",
)
def stat_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count, with
    tie corrections and the normal z approximation (closed-form
    two-sided p on the 4-decimal-rounded z). The all-pairs self-join is
    SAFE here by construction: it runs on the CALENDAR-BOUNDED daily
    frame (~2.4k rows -> ~3M integer-only pair comparisons at ANY
    corpus scale — the corpus-sized work is the one groupBy that builds
    the frame). For row-grain tau at scale you'd use Spearman
    (stat_spearman_rank_corr) instead, which is why that operator rides
    the bucketed rank machinery."""
    daily = (
        daily_cents(spark, sf_dir, "rev", F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        # calendar-bounded but consumed by three branches (count dim +
        # both pair sides): cache so the orders scan runs once, not 3x
        .cache()
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(
        F.col("day").alias("da"), F.col("rev").alias("ra"), F.col("n_orders").alias("oa")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("rev").alias("rb"), F.col("n_orders").alias("ob")
    )
    prod = (F.col("rb") - F.col("ra")) * (F.col("ob") - F.col("oa"))
    pairs = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("c"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("d"),
            F.sum(F.when(F.col("ra") == F.col("rb"), 1).otherwise(0))
            .cast("bigint")
            .alias("tx"),
            F.sum(F.when(F.col("oa") == F.col("ob"), 1).otherwise(0))
            .cast("bigint")
            .alias("ty"),
        )
    )
    n0 = F.col("n") * (F.col("n") - 1) / F.lit(2.0)
    stat = pairs.crossJoin(F.broadcast(n)).select(  # 1-row count dimension
        "n",
        "c",
        "d",
        F.round(
            (F.col("c") - F.col("d"))
            * 1.0
            / F.sqrt((n0 - F.col("tx")) * (n0 - F.col("ty"))),
            6,
        ).alias("tau_b"),
        F.round(
            3.0
            * (F.col("c") - F.col("d"))
            / F.sqrt(
                F.col("n") * (F.col("n") - 1.0) * (2 * F.col("n") + 5) / F.lit(2.0)
            ),
            4,
        ).alias("z_stat"),
    )
    return stat.select(
        F.col("n").alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        "tau_b",
        "z_stat",
        F.round(normal_two_sided_p(F.col("z_stat")), 6).alias("p_value"),
    )


@register(
    "stat_cochran_armitage",
    f"""
    WITH s AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS suc
      FROM orders
    ),
    g AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(suc) AS BIGINT) AS x
      FROM s GROUP BY score
    ),
    fold AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(x) AS BIGINT) AS xt,
             CAST(sum(score * x) AS BIGINT) AS t,
             CAST(sum(score * n) AS BIGINT) AS sn,
             CAST(sum(score * score * n) AS BIGINT) AS ssn
      FROM g
    ),
    stat AS (
      SELECT nt, xt,
             round((t - xt * 1.0 / nt * sn)
                   / sqrt(xt * 1.0 / nt * (1 - xt * 1.0 / nt)
                          * (ssn - sn * 1.0 * sn / nt)), 4) AS z_stat
      FROM fold
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM stat),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT nt AS n_orders, xt AS n_success, z_stat,
           round({_SQL_ERFC}, 6) AS p_value
    FROM pp
    """,
    "stats",
    "ab-test",
    "rank-test",
)
def stat_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend in the big-order rate
    (o_totalprice > 250k) across the ORDERED priority levels, scored by
    the priority's leading digit 1..5: T = sum s_j x_j,
    z = (T - pbar sum s_j n_j) / sqrt(pbar(1-pbar)(sum s_j^2 n_j -
    (sum s_j n_j)^2/N)) — the dose-response sibling of
    stat_chi_square_independence, which ignores the ordering. All folds
    are exact integers; the two-sided normal tail is the closed-form
    erf spelling on the 4-decimal-rounded z."""
    s = t(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("score"),
        F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("suc"),
    )
    g = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("suc").cast("bigint").alias("x"),
    )
    fold = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("x").cast("bigint").alias("xt"),
        F.sum(F.col("score") * F.col("x")).cast("bigint").alias("t"),
        F.sum(F.col("score") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("score") * F.col("score") * F.col("n"))
        .cast("bigint")
        .alias("ssn"),
    )
    pbar = F.col("xt") * 1.0 / F.col("nt")
    stat = fold.select(
        "nt",
        "xt",
        F.round(
            (F.col("t") - pbar * F.col("sn"))
            / F.sqrt(
                pbar
                * (1 - pbar)
                * (F.col("ssn") - F.col("sn") * 1.0 * F.col("sn") / F.col("nt"))
            ),
            4,
        ).alias("z_stat"),
    )
    return stat.select(
        F.col("nt").alias("n_orders"),
        F.col("xt").alias("n_success"),
        "z_stat",
        F.round(normal_two_sided_p(F.col("z_stat")), 6).alias("p_value"),
    )


@register(
    "stat_partial_correlation",
    """
    WITH s AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS z
      FROM lineitem
    ),
    m AS (
      SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my, avg(z) AS mz FROM s
    ),
    c AS (
      SELECT sum((x - mx) * (y - my)) AS sxy,
             sum((x - mx) * (z - mz)) AS sxz,
             sum((y - my) * (z - mz)) AS syz,
             sum((x - mx) * (x - mx)) AS sxx,
             sum((y - my) * (y - my)) AS syy,
             sum((z - mz) * (z - mz)) AS szz,
             max(n) AS n
      FROM s, m
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
             sxy / sqrt(sxx * syy) AS rxy,
             sxz / sqrt(sxx * szz) AS rxz,
             syz / sqrt(syy * szz) AS ryz
      FROM c
    )
    SELECT n, round(rxy, 6) AS r_price_qty,
           round(rxz, 6) AS r_price_disc,
           round(ryz, 6) AS r_qty_disc,
           round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
             AS partial_r_price_qty_given_disc
    FROM r
    """,
    "stats",
    "regression",
    "agg",
)
def stat_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of price and quantity controlling
    for discount: r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)
    (1-r_yz^2)) — what stat_correlation_matrix's marginal entries can't
    tell you. All three inputs reduce to exact integers (cents,
    quantity, discount basis points); co-moments use the two-pass
    centered algebra (means first) shared with agg_corr_covar, so the
    doubles are cancellation-free and ulp-aligned across engines."""
    s = t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
        F.col("l_quantity").cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("z"),
    )
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
    )
    j = s.crossJoin(F.broadcast(m))  # 1-row means dimension
    dx, dy, dz = (
        F.col("x") - F.col("mx"),
        F.col("y") - F.col("my"),
        F.col("z") - F.col("mz"),
    )
    c = j.agg(
        F.sum(dx * dy).alias("sxy"),
        F.sum(dx * dz).alias("sxz"),
        F.sum(dy * dz).alias("syz"),
        F.sum(dx * dx).alias("sxx"),
        F.sum(dy * dy).alias("syy"),
        F.sum(dz * dz).alias("szz"),
        F.max("n").alias("n"),
    )
    r = c.select(
        F.col("n").cast("bigint").alias("n"),
        (F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy"))).alias("rxy"),
        (F.col("sxz") / F.sqrt(F.col("sxx") * F.col("szz"))).alias("rxz"),
        (F.col("syz") / F.sqrt(F.col("syy") * F.col("szz"))).alias("ryz"),
    )
    return r.select(
        "n",
        F.round("rxy", 6).alias("r_price_qty"),
        F.round("rxz", 6).alias("r_price_disc"),
        F.round("ryz", 6).alias("r_qty_disc"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("partial_r_price_qty_given_disc"),
    )


@register(
    "stat_smd_balance",
    """
    WITH x AS (
      SELECT r.r_name AS stratum,
             CASE WHEN o.o_custkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    m AS (
      SELECT stratum, treated,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
      FROM x GROUP BY stratum, treated
    ),
    w AS (
      SELECT stratum,
             max(CASE WHEN treated = 1 THEN n END) AS nt,
             max(CASE WHEN treated = 0 THEN n END) AS nc,
             max(CASE WHEN treated = 1 THEN s * 1.0 / n END) AS mt,
             max(CASE WHEN treated = 0 THEN s * 1.0 / n END) AS mc,
             max(CASE WHEN treated = 1
                 THEN (ss - s * 1.0 / n * s) / (n - 1) END) AS vt,
             max(CASE WHEN treated = 0
                 THEN (ss - s * 1.0 / n * s) / (n - 1) END) AS vc
      FROM m GROUP BY stratum
    )
    SELECT stratum, CAST(nt AS BIGINT) AS n_treated, CAST(nc AS BIGINT) AS n_control,
           round((mt - mc) / sqrt((vt + vc) / 2), 6) AS smd,
           round(abs(mt - mc) / sqrt((vt + vc) / 2), 6) AS abs_smd,
           abs((mt - mc) / sqrt((vt + vc) / 2)) < 0.1 AS balanced
    FROM w ORDER BY stratum
    """,
    "stats",
    "ab-test",
    "stratified",
)
def stat_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized-mean-difference covariate balance table per region
    stratum (exposure = even custkey, covariate = order price in exact
    cents): SMD = (mean_T - mean_C) / sqrt((var_T + var_C)/2) with the
    conventional |SMD| < 0.1 balance verdict — the diagnostic run
    BEFORE trusting stat_propensity_stratified_att / stat_ipw_ate.
    Per-(stratum, arm) moments are exact integer folds (DECIMAL squares
    — cents squared overflow BIGINT); the verdict compares the
    unrounded double identically in both engines."""
    x = (
        orders_with_region(spark, sf_dir)
        .select(
            F.col("r_name").alias("stratum"),
            F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("treated"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        )
    )
    dec = F.col("c").cast("decimal(18,0)")
    m = x.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mean = F.col("s") * 1.0 / F.col("n")
    var = (F.col("ss") - mean * F.col("s")) / (F.col("n") - 1)
    w = m.groupBy("stratum").agg(
        F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("nt"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("nc"),
        F.max(F.when(F.col("treated") == 1, mean)).alias("mt"),
        F.max(F.when(F.col("treated") == 0, mean)).alias("mc"),
        F.max(F.when(F.col("treated") == 1, var)).alias("vt"),
        F.max(F.when(F.col("treated") == 0, var)).alias("vc"),
    )
    smd = (F.col("mt") - F.col("mc")) / F.sqrt((F.col("vt") + F.col("vc")) / 2)
    return w.select(
        "stratum",
        F.col("nt").cast("bigint").alias("n_treated"),
        F.col("nc").cast("bigint").alias("n_control"),
        F.round(smd, 6).alias("smd"),
        F.round(F.abs(smd), 6).alias("abs_smd"),
        (F.abs(smd) < 0.1).alias("balanced"),
    ).orderBy("stratum")


_TOST_MARGIN = 500.0  # equivalence margin, cents


@register(
    "stat_tost_equivalence",
    f"""
    WITH s AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS sm,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
      FROM s GROUP BY variant
    ),
    w AS (
      SELECT max(CASE WHEN variant = 'A' THEN n END) AS na,
             max(CASE WHEN variant = 'B' THEN n END) AS nb,
             max(CASE WHEN variant = 'A' THEN sm * 1.0 / n END) AS ma,
             max(CASE WHEN variant = 'B' THEN sm * 1.0 / n END) AS mb,
             max(CASE WHEN variant = 'A'
                 THEN (ss - sm * 1.0 / n * sm) / (n - 1) / n END) AS va,
             max(CASE WHEN variant = 'B'
                 THEN (ss - sm * 1.0 / n * sm) / (n - 1) / n END) AS vb
      FROM m
    ),
    z AS (
      SELECT na, nb, ma - mb AS diff, sqrt(va + vb) AS se,
             round((ma - mb + {_TOST_MARGIN}) / sqrt(va + vb), 4) AS z_lower,
             round(({_TOST_MARGIN} - (ma - mb)) / sqrt(va + vb), 4) AS z_upper
      FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(diff, 4) AS mean_diff_cents, round(se, 4) AS se_cents,
           z_lower, z_upper,
           round(greatest({normal_sf_signed_sql('z_lower')}, {normal_sf_signed_sql('z_upper')}), 6)
             AS p_tost,
           greatest({normal_sf_signed_sql('z_lower')}, {normal_sf_signed_sql('z_upper')}) < 0.05
             AS equivalent
    FROM z
    """,
    "stats",
    "ab-test",
    "equivalence",
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann) on mean
    purchase value between even/odd user_id arms with a +-500-cent
    margin: p_tost = max(P(Z > (diff+m)/se), P(Z > (m-diff)/se)) —
    the test that can CONFIRM 'no meaningful difference', which
    stat_ab_welch_ttest can only fail to reject. Per-arm moments are
    exact integer folds (Welch unpooled SE); the one-sided tails use
    the SIGNED closed-form normal SF (operators/pvalues.py
    normal_sf_signed) on the 4-decimal-rounded z's; the verdict
    compares the unrounded max identically in both engines."""
    s = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    dec = F.col("c").cast("decimal(18,0)")
    m = s.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sm"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    mean = F.col("sm") * 1.0 / F.col("n")
    varmean = (F.col("ss") - mean * F.col("sm")) / (F.col("n") - 1) / F.col("n")
    w = m.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "A", mean)).alias("ma"),
        F.max(F.when(F.col("variant") == "B", mean)).alias("mb"),
        F.max(F.when(F.col("variant") == "A", varmean)).alias("va"),
        F.max(F.when(F.col("variant") == "B", varmean)).alias("vb"),
    )
    diff = F.col("ma") - F.col("mb")
    se = F.sqrt(F.col("va") + F.col("vb"))
    z = w.select(
        "na",
        "nb",
        diff.alias("diff"),
        se.alias("se"),
        F.round((diff + _TOST_MARGIN) / se, 4).alias("z_lower"),
        F.round((_TOST_MARGIN - diff) / se, 4).alias("z_upper"),
    )
    p = F.greatest(
        normal_sf_signed(F.col("z_lower")), normal_sf_signed(F.col("z_upper"))
    )
    return z.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("diff", 4).alias("mean_diff_cents"),
        F.round("se", 4).alias("se_cents"),
        "z_lower",
        "z_upper",
        F.round(p, 6).alias("p_tost"),
        (p < 0.05).alias("equivalent"),
    )


@register(
    "stat_mood_median_test",
    """
    WITH s AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    vals AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY v),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vals),
    cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cw FROM vals),
    med AS (
      SELECT CAST(min(CASE WHEN cum.cw * 2 >= tot.n THEN cum.v END) AS BIGINT)
        AS m
      FROM cum, tot
    ),
    g AS (
      SELECT s.grp,
             CAST(sum(CASE WHEN s.v <= med.m THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(count(*) AS BIGINT) AS n_g
      FROM s, med GROUP BY s.grp
    ),
    pool AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(a) AS BIGINT) AS at, CAST(sum(n_g) AS BIGINT) AS nt
      FROM g
    ),
    fold AS (
      SELECT pool.k, pool.at, pool.nt,
             sum((g.a - g.n_g * (pool.at * 1.0 / pool.nt))
                 * (g.a - g.n_g * (pool.at * 1.0 / pool.nt))
                 / (g.n_g * (pool.at * 1.0 / pool.nt)
                    * (1 - pool.at * 1.0 / pool.nt))) AS x2
      FROM g, pool GROUP BY pool.k, pool.at, pool.nt
    )
    SELECT k AS n_groups, nt AS n_rows, at AS n_at_or_below,
           round(x2, 4) AS chi2_stat,
           CASE WHEN k = 5 THEN
             round(exp(-round(x2, 4) / 2) * (1 + round(x2, 4) / 2), 6)
           END AS p_value
    FROM fold
    """,
    "stats",
    "rank-test",
    "percentile",
)
def stat_mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: the grand
    LOWER median comes from the same integer cumulative-weight crossing
    as agg_weighted_median (no interpolation convention to diverge),
    each group's at-or-below count folds into the k x 2 chi-square
    X^2 = sum (a_j - n_j p)^2 / (n_j p (1-p)) with p the pooled
    at-or-below rate, and the df=4 even-df closed form prices the tail
    (on the 4-decimal-rounded statistic), NULL-gated on n_groups = 5 —
    a tier missing a priority folds k<5 groups where df = k-1 != 4
    (Bowker/Ljung-Box convention) — the medians-only sibling of
    stat_kruskal_wallis for when ranks themselves are suspect. The
    distinct-value cumsum rides the bucketed two-phase plan."""
    from etl_file_sync_spark.operators.pvalues import chi2_sf_df4
    from etl_file_sync_spark.operators.rankstats import bucketed_cumsums

    s = t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()  # observed values only
    ).select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    vals = s.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = vals.agg(F.sum("cnt").cast("bigint").alias("n"))
    cum = bucketed_cumsums(vals, "v", ["cnt"], inclusive=True)
    med = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(F.col("cum_cnt") * 2 >= F.col("n"), F.col("v")))
            .cast("bigint")
            .alias("m")
        )
    )
    g = (
        s.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
        )
    ).cache()  # k rows; consumed by pool AND x2 — uncached, the orders
    # scan and the broadcast median subtree (a full cumulative-window
    # pass) execute once per consumer
    pool = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("a").cast("bigint").alias("at"),
        F.sum("n_g").cast("bigint").alias("nt"),
    )
    p = F.col("at") * 1.0 / F.col("nt")
    dev = F.col("a") - F.col("n_g") * p
    x2 = (
        g.crossJoin(F.broadcast(pool))  # 1-row pooled-rate dimension
        .groupBy("k", "at", "nt")
        .agg(F.sum(dev * dev / (F.col("n_g") * p * (1 - p))).alias("x2"))
    )
    x2r = F.round(F.col("x2"), 4)
    return x2.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_rows"),
        F.col("at").alias("n_at_or_below"),
        x2r.alias("chi2_stat"),
        # the df=4 closed form prices a 5-group fold; a tier missing a
        # priority yields k<5 groups and df=k-1 != 4, so p is NULL-gated
        # on the observed group count (Bowker/Ljung-Box convention)
        F.when(F.col("k") == 5, F.round(chi2_sf_df4(x2r), 6)).alias("p_value"),
    )


@register(
    "stat_g_test_independence",
    """
    WITH x AS (
      SELECT r.r_name AS region,
             CASE WHEN o.o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
             CAST(count(*) AS BIGINT) AS o
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, CASE WHEN o.o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END
    ),
    m AS (
      SELECT x.region, x.arm, x.o,
             sum(x.o) OVER (PARTITION BY x.region) AS row_t,
             sum(x.o) OVER (PARTITION BY x.arm) AS col_t,
             sum(x.o) OVER () AS n
      FROM x
    ),
    g AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(count(DISTINCT region) AS BIGINT) AS n_regions,
             CAST(count(DISTINCT arm) AS BIGINT) AS n_arms,
             round(2 * sum(o * ln(o / (row_t * 1.0 * col_t / n))), 4) AS g_stat
      FROM m
    )
    SELECT n AS n_orders, n_regions, n_arms, g_stat,
           CASE WHEN n_regions = 5 AND n_arms = 2 THEN
             round(exp(-g_stat / 2) * (1 + g_stat / 2), 6)
           END AS p_value
    FROM g
    """,
    "stats",
    "ab-test",
    "distribution-fit",
)
def stat_g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between region and
    custkey parity: G = 2 sum O ln(O/E) over the 5x2 contingency table
    — the information-theoretic twin of stat_chi_square_independence
    (G is additive across partitions of the table, chi-square is not).
    df = (5-1)(2-1) = 4, even, so the tail is the closed form
    exp(-G/2)(1+G/2) on the 4-decimal-rounded statistic — NULL-gated
    on the observed margins (n_regions = 5, n_arms = 2): a tier whose
    order/customer slice misses a whole region shrinks the table to
    r x c with df = (r-1)(c-1) != 4 (Bowker/Ljung-Box convention).
    Cell counts and margins are exact integers folded over the
    enum-bounded contingency frame."""
    x = (
        orders_with_region(spark, sf_dir)
        .groupBy(
            F.col("r_name").alias("region"),
            F.when(F.col("o_custkey") % 2 == 0, "even").otherwise("odd").alias("arm"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    # margins over the enum-bounded 10-cell contingency frame
    wr = W.partitionBy("region")
    wc = W.partitionBy("arm")
    wall = W.partitionBy()
    m = x.select(
        "region",
        "arm",
        "o",
        F.sum("o").over(wr).alias("row_t"),
        F.sum("o").over(wc).alias("col_t"),
        F.sum("o").over(wall).alias("n"),
    )
    g = m.agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("region").cast("bigint").alias("n_regions"),
        F.countDistinct("arm").cast("bigint").alias("n_arms"),
        F.round(
            2
            * F.sum(
                F.col("o")
                * F.log(
                    F.col("o") / (F.col("row_t") * 1.0 * F.col("col_t") / F.col("n"))
                )
            ),
            4,
        ).alias("g_stat"),
    )
    from etl_file_sync_spark.operators.pvalues import chi2_sf_df4

    return g.select(
        F.col("n").alias("n_orders"),
        "n_regions",
        "n_arms",
        "g_stat",
        # df=4 prices the full 5x2 table; a missing margin shrinks df,
        # so p is NULL-gated on the observed dimensions
        F.when(
            (F.col("n_regions") == 5) & (F.col("n_arms") == 2),
            F.round(chi2_sf_df4(F.col("g_stat")), 6),
        ).alias("p_value"),
    )


@register(
    "stat_bowker_symmetry",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_type
      FROM events
    ),
    tr AS (
      SELECT event_type AS f, next_type AS t_, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
      -- unordered-pair aggregation so pairs seen only in the descending
      -- direction (nij=0, nji>0) still contribute
      SELECT least(f, t_) AS i, greatest(f, t_) AS j,
             CAST(sum(CASE WHEN f < t_ THEN n ELSE 0 END) AS BIGINT) AS nij,
             CAST(sum(CASE WHEN f > t_ THEN n ELSE 0 END) AS BIGINT) AS nji
      FROM tr WHERE f <> t_ GROUP BY 1, 2
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             round(sum((nij - nji) * 1.0 * (nij - nji) / (nij + nji)), 4)
               AS b_stat
      FROM p WHERE nij + nji > 0
    )
    SELECT n_pairs, b_stat,
           CASE WHEN n_pairs = 10 THEN
             round(exp(-b_stat / 2) * (1 + b_stat / 2
                   + b_stat * b_stat / 8 + b_stat * b_stat * b_stat / 48
                   + b_stat * b_stat * b_stat * b_stat / 384), 6)
           END AS p_value
    FROM s
    """,
    "stats",
    "markov",
    "rank-test",
)
def stat_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker's test of symmetry on the user event-transition matrix:
    B = sum over unordered type pairs (n_ij - n_ji)^2 / (n_ij + n_ji) —
    McNemar generalized to the 5x5 table, asking whether flows i->j
    mirror j->i (a symmetric kernel means behavior_transition_matrix
    carries no directional funnel signal). The corpus-scale pass is the
    same user-partitioned lead window the transition matrix uses; the
    pair fold runs on the enum-bounded table, aggregated by UNORDERED
    pair (least/greatest) so a pair observed only in the descending
    direction still contributes its n_ji. df = number of contributing
    pairs; the closed-form even-df tail exp(-x/2) sum_{j<5} (x/2)^j/j!
    (operators/pvalues.py chi2_sf_df10) applies only when all
    C(5,2) = 10 pairs contribute, so p_value is NULL-gated on
    n_pairs = 10 (identically in the oracle)."""
    from etl_file_sync_spark.operators.pvalues import chi2_sf_df10

    e = t(spark, sf_dir, "events")
    ws = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    seq = e.select(
        "event_type", F.lead("event_type").over(ws).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    tr = seq.groupBy(
        F.col("event_type").alias("f"), F.col("next_type").alias("t_")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    p = (
        tr.where(F.col("f") != F.col("t_"))
        .groupBy(
            F.least(F.col("f"), F.col("t_")).alias("i"),
            F.greatest(F.col("f"), F.col("t_")).alias("j"),
        )
        .agg(
            F.sum(F.when(F.col("f") < F.col("t_"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("nij"),
            F.sum(F.when(F.col("f") > F.col("t_"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("nji"),
        )
    )
    dev = F.col("nij") - F.col("nji")
    s = p.where(F.col("nij") + F.col("nji") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.sum(dev * 1.0 * dev / (F.col("nij") + F.col("nji"))), 4).alias(
            "b_stat"
        ),
    )
    return s.select(
        "n_pairs",
        "b_stat",
        F.when(
            F.col("n_pairs") == 10,
            F.round(chi2_sf_df10(F.col("b_stat")), 6),
        ).alias("p_value"),
    )


@register(
    "stat_page_trend",
    f"""
    WITH cell AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS blk,
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS trt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    complete AS (SELECT blk FROM cell GROUP BY blk HAVING count(*) = 5),
    r AS (
      SELECT c.blk, c.trt,
             (count(*) OVER (PARTITION BY c.blk ORDER BY c.y
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*) OVER (PARTITION BY c.blk, c.y))
             + (count(*) OVER (PARTITION BY c.blk, c.y) + 1) / 2.0 AS rk
      FROM cell c JOIN complete USING (blk)
    ),
    pertrt AS (
      SELECT trt, sum(rk) AS rank_sum, CAST(count(*) AS BIGINT) AS b
      FROM r GROUP BY trt
    ),
    stat AS (
      SELECT max(b) AS b, sum(trt * rank_sum) AS l_stat FROM pertrt
    ),
    z AS (
      SELECT b, l_stat,
             round((l_stat - b * 5 * 36.0 / 4)
                   / sqrt(b * 25.0 * 6 * 24 / 144), 4) AS z_stat
      FROM stat
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM z),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT CAST(b AS BIGINT) AS n_blocks, round(l_stat, 2) AS l_stat, z_stat,
           round({_SQL_ERFC}, 6) AS p_value
    FROM pp
    """,
    "stats",
    "rank-test",
    "ab-test",
)
def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's trend test for an ORDERED alternative across the five
    priorities (monthly blocks ranked by _block_midranks, as in
    stat_friedman_test):
    L = sum_j s_j R_j with the priority's leading digit as the a-priori
    ordering score; z = (L - b k(k+1)^2/4) / sqrt(b k^2 (k+1)(k^2-1)
    / 144) (k=5 pinned by the complete-block filter; midranks for the
    near-impossible cents ties, the standard large-b normal
    approximation). Friedman asks 'any difference?'; Page asks 'does
    revenue rise WITH priority?' — strictly more power when the
    ordering is the hypothesis. Two-sided p via the closed-form erf on
    the rounded z."""
    cell = (
        t(spark, sf_dir, "orders")
        .groupBy(
            order_month("blk"),
            F.substring("o_orderpriority", 1, 1).cast("bigint").alias("trt"),
        )
        .agg(revenue_cents().alias("y"))
    )
    r = _block_midranks(cell)
    pertrt = r.groupBy("trt").agg(
        F.sum("rk").alias("rank_sum"), F.count(F.lit(1)).cast("bigint").alias("b")
    )
    stat = pertrt.agg(
        F.max("b").alias("b"),
        F.sum(F.col("trt") * F.col("rank_sum")).alias("l_stat"),
    )
    z = stat.select(
        "b",
        "l_stat",
        F.round(
            (F.col("l_stat") - F.col("b") * 5 * 36.0 / 4)
            / F.sqrt(F.col("b") * 25.0 * 6 * 24 / 144),
            4,
        ).alias("z_stat"),
    )
    return z.select(
        F.col("b").cast("bigint").alias("n_blocks"),
        F.round("l_stat", 2).alias("l_stat"),
        "z_stat",
        F.round(normal_two_sided_p(F.col("z_stat")), 6).alias("p_value"),
    )


@register(
    "stat_sign_test_weekly",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT a.cents - b.cents AS d
      FROM daily a JOIN daily b ON b.day = a.day - INTERVAL 7 DAY
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM pairs
    ),
    lf AS (
      SELECT i,
             coalesce(sum(CASE WHEN i = 0 THEN 0.0 ELSE ln(i) END)
               OVER (ORDER BY i), 0.0) AS lnf
      FROM (SELECT unnest(range(0, (SELECT pos + neg + 1 FROM cells))) AS i)
    ),
    kk AS (SELECT cells.*, pos + neg AS m,
                  unnest(range(0, least(pos, neg) + 1)) AS k FROM cells),
    tail AS (
      SELECT pos, neg, m,
             sum(exp((SELECT lnf FROM lf WHERE i = kk.m)
                     - (SELECT lnf FROM lf WHERE i = kk.k)
                     - (SELECT lnf FROM lf WHERE i = kk.m - kk.k)
                     - m * ln(2))) AS p_tail
      FROM kk GROUP BY pos, neg, m
    )
    SELECT pos AS n_up, neg AS n_down,
           round(CASE WHEN pos = neg THEN 1.0
                      ELSE least(1.0, 2 * p_tail) END, 6) AS p_value
    FROM tail
    """,
    "stats",
    "exact-test",
    "timeseries",
)
def stat_sign_test_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binomial SIGN test of week-over-week revenue drift: each
    day pairs with the same weekday one week earlier (a date equi-join,
    so weekday seasonality cancels by construction), ties drop, and
    under H0 the up-count is Binomial(n, 1/2) — the distribution-free
    sibling of ts_cusum_changepoint's mean-shift question with an EXACT
    p at any n (ln-factorial prefix fold, the Fisher/McNemar pattern:
    the corpus-scale work is the daily groupBy; the tail sum is a
    min(pos,neg)+1-term driver fold mirrored by the oracle's ordered
    window fold)."""
    daily = (
        daily_cents(spark, sf_dir, "cents")
        .cache()  # 2 consumers (both pair sides): one orders scan
    )
    a = daily.select("day", F.col("cents").alias("ca"))
    b = daily.select(F.date_add(F.col("day"), 7).alias("day"), F.col("cents").alias("cb"))
    d = a.join(b, "day").select((F.col("ca") - F.col("cb")).alias("d"))
    cells = d.agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    row = cells.collect()[0]  # 2-cell metadata pull (McNemar pattern)
    if row["pos"] is None:  # no week-over-week pairs: the oracle's
        # range-unnest over NULL cells collapses to zero rows — match it
        return cells.sparkSession.createDataFrame(
            [], "n_up bigint, n_down bigint, p_value double"
        )
    pos, neg = row["pos"], row["neg"]
    m = pos + neg
    lnf = [0.0] * (m + 1)
    acc = 0.0
    for j in range(1, m + 1):
        acc += math.log(j)
        lnf[j] = acc
    if pos == neg:
        p = 1.0
    else:
        tail = sum(
            math.exp(lnf[m] - lnf[k] - lnf[m - k] - m * math.log(2))
            for k in range(0, min(pos, neg) + 1)
        )
        p = min(1.0, 2 * tail)
    return local_rows_df(
        cells.sparkSession,
        [(pos, neg, round(p, 6))],
        "n_up bigint, n_down bigint, p_value double",
    )


@register(
    "stat_breusch_pagan",
    """
    WITH s AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) * 1.0 AS y
      FROM lineitem
    ),
    m AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my FROM s),
    c AS (
      SELECT max(n) AS n, max(mx) AS mx, max(my) AS my,
             sum((x - mx) * (x - mx)) AS sxx,
             sum((x - mx) * (y - my)) AS sxy
      FROM s, m
    ),
    u AS (
      SELECT s.x,
             (s.y - c.my - c.sxy / c.sxx * (s.x - c.mx))
             * (s.y - c.my - c.sxy / c.sxx * (s.x - c.mx)) AS e2,
             c.n, c.mx, c.sxx
      FROM s, c
    ),
    mu AS (SELECT avg(e2) AS ue FROM u),
    aux AS (
      SELECT max(u.n) AS n,
             sum((u.x - u.mx) * (u.e2 - mu.ue)) AS sxu,
             sum((u.e2 - mu.ue) * (u.e2 - mu.ue)) AS suu,
             max(u.sxx) AS sxx
      FROM u, mu
    ),
    lm AS (
      SELECT CAST(n AS BIGINT) AS n,
             round(n * (sxu * sxu) / (sxx * suu), 4) AS bp_stat
      FROM aux
    ),
    pz AS (SELECT *, sqrt(bp_stat / 2) AS xx FROM lm),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT n AS n_rows, bp_stat,
           round(((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
                  - 0.284496736) * tt + 0.254829592) * tt * exp(-xx * xx), 6)
             AS p_value
    FROM pp
    """,
    "stats",
    "regression",
    "dq",
)
def stat_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on the price~quantity OLS
    (stat_linear_regression's global sibling): LM = n * R^2 of the
    auxiliary regression of squared residuals on x. Four relational
    passes, all two-pass-centered (means first, centered co-moments
    second — the engine's cancellation-free convention): (x,y) means,
    slope co-moments, residual-square mean, auxiliary co-moments; the
    df=1 chi-square tail is the closed-form erf spelling on the
    4-decimal-rounded statistic. A significant BP says the OLS
    standard errors need the robust (sandwich) correction."""
    from etl_file_sync_spark.operators.pvalues import chi2_sf_df1

    s = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.round(F.col("l_extendedprice") * 100).cast("bigint") * 1.0).alias("y"),
    )
    m = s.agg(F.count(F.lit(1)).alias("n"), F.avg("x").alias("mx"), F.avg("y").alias("my"))
    sm = s.crossJoin(F.broadcast(m))  # 1-row means dimension
    c = sm.agg(
        F.max("n").alias("n"),
        F.max("mx").alias("mx"),
        F.max("my").alias("my"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).alias("sxx"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my"))).alias("sxy"),
    )
    resid = (
        F.col("y")
        - F.col("my")
        - F.col("sxy") / F.col("sxx") * (F.col("x") - F.col("mx"))
    )
    u = s.crossJoin(F.broadcast(c)).select(  # 1-row coefficients dimension
        "x", (resid * resid).alias("e2"), "n", "mx", "sxx"
    )
    mu = u.agg(F.avg("e2").alias("ue"))
    aux = u.crossJoin(F.broadcast(mu)).agg(  # 1-row aux-mean dimension
        F.max("n").alias("n"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("e2") - F.col("ue"))).alias("sxu"),
        F.sum((F.col("e2") - F.col("ue")) * (F.col("e2") - F.col("ue"))).alias("suu"),
        F.max("sxx").alias("sxx"),
    )
    lm = aux.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.col("n") * (F.col("sxu") * F.col("sxu")) / (F.col("sxx") * F.col("suu")),
            4,
        ).alias("bp_stat"),
    )
    return lm.select(
        F.col("n").alias("n_rows"),
        "bp_stat",
        F.round(chi2_sf_df1(F.col("bp_stat")), 6).alias("p_value"),
    )


@register(
    "stat_runs_up_down",
    f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    r AS (SELECT cents, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
          FROM daily),
    d AS (
      SELECT a.rn, CASE WHEN b.cents > a.cents THEN 1
                        WHEN b.cents < a.cents THEN -1 END AS s
      FROM r a JOIN r b ON b.rn = a.rn + 1
    ),
    s AS (SELECT rn, s FROM d WHERE s IS NOT NULL),
    flips AS (
      SELECT CAST(count(*) AS BIGINT) + 1
               - CAST(sum(CASE WHEN a.s = b.s THEN 1 ELSE 0 END) AS BIGINT)
               AS runs,
             CAST(count(*) AS BIGINT) + 1 AS n
      FROM s a JOIN s b ON b.rn = (SELECT min(rn) FROM s WHERE rn > a.rn)
    ),
    z AS (
      -- moments use N = observations = n_signs + 1: E=(2N-1)/3=(2n+1)/3,
      -- Var=(16N-29)/90=(16n-13)/90
      SELECT n, runs,
             round((runs - (2.0 * n + 1) / 3)
                   / sqrt((16.0 * n - 13) / 90), 4) AS z_stat
      FROM flips
    ),
    pz AS (SELECT *, abs(z_stat) / sqrt(2.0) AS xx FROM z),
    pp AS (SELECT *, 1 / (1 + 0.3275911 * xx) AS tt FROM pz)
    SELECT n AS n_moves, runs AS n_runs, z_stat,
           round({_SQL_ERFC}, 6) AS p_value
    FROM pp
    """,
    "stats",
    "rank-test",
    "timeseries",
)
def stat_runs_up_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-up-and-down test on daily revenue: the sign sequence of
    successive differences (ties dropped) should alternate like a
    random series; too few runs means trending, too many means
    oscillation — the DIFFERENCE-sign sibling of stat_runs_test's
    around-the-median dichotomy. The classical moments E[R] = (2N-1)/3,
    Var[R] = (16N-29)/90 are stated in N = observations; with n = number
    of retained difference signs (N = n+1) they become E[R] = (2n+1)/3,
    Var[R] = (16n-13)/90. Successive pairs are rn
    equi-joins on the calendar-bounded frame (the runs count joins
    each retained sign to its NEXT retained sign, so dropped ties
    don't split runs); exact integer counts feed the rounded z."""
    daily = daily_cents(spark, sf_dir, "cents")
    r = daily.select(
        "cents", F.row_number().over(W.orderBy("day")).cast("bigint").alias("rn")
    )
    a = r.select(F.col("rn").alias("ra"), F.col("cents").alias("ca"))
    b = r.select((F.col("rn") - 1).alias("ra"), F.col("cents").alias("cb"))
    d = (
        a.join(b, "ra")
        .select(
            F.col("ra").alias("rn"),
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .alias("s"),
        )
        .where(F.col("s").isNotNull())
    )
    # next retained sign via a bucketed successor: the retained frame is
    # calendar-bounded, so a plain dense re-rank window is fine here
    d2 = d.select(
        "s", F.row_number().over(W.orderBy("rn")).cast("bigint").alias("k")
    )
    aa = d2.select(F.col("k").alias("ka"), F.col("s").alias("sa"))
    bb = d2.select((F.col("k") - 1).alias("ka"), F.col("s").alias("sb"))
    flips = (
        aa.join(bb, "ka")
        .agg(
            (F.count(F.lit(1)) + 1
             - F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)))
            .cast("bigint")
            .alias("runs"),
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
        )
    )
    z = flips.select(
        "n",
        "runs",
        F.round(
            (F.col("runs") - (2.0 * F.col("n") + 1) / 3)
            / F.sqrt((16.0 * F.col("n") - 13) / 90),
            4,
        ).alias("z_stat"),
    )
    return z.select(
        F.col("n").alias("n_moves"),
        F.col("runs").alias("n_runs"),
        "z_stat",
        F.round(normal_two_sided_p(F.col("z_stat")), 6).alias("p_value"),
    )
