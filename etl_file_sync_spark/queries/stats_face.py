"""Rank-based and regression statistics over the TPC-H tables.

Mann-Whitney U and Kolmogorov-Smirnov run on the distributed two-phase
rank machinery (operators/rankstats.py) — no single-partition window
ever touches row-grain data; the only global windows run over the
per-bucket frames after aggregation. OLS and the correlation matrix are
two-pass centered aggregates (means first, centered co-moments second)
so the algebra is cancellation-free and both engines agree to ulps.

The reference (`/root/reference/`) has no analytics surface (SURVEY.md
§2.2); these queries extend the engine-only statistics face alongside
stat_ab_welch_ttest / stat_chi_square_independence in llm5.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.pvalues import normal_two_sided_p
from etl_file_sync_spark.operators.rankstats import (
    avg_ranks,
    bucketed_cumsums,
    group_rank_sums,
    tie_sum,
)
from etl_file_sync_spark.queries.inputs import revenue_cents, value_counts, variant_prices
from etl_file_sync_spark.queries.registry import register, t


@register(
    "stat_mannwhitney_u",
    """
    WITH s AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             o_totalprice AS v
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    g AS (SELECT variant, v, count(*) AS c FROM s GROUP BY variant, v),
    vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt FROM g GROUP BY v),
    cum AS (
      SELECT v, cnt,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vals
    ),
    agg AS (
      SELECT g.variant, CAST(sum(g.c) AS BIGINT) AS n,
             sum(g.c * cum.avg_rank) AS rank_sum
      FROM g JOIN cum ON g.v = cum.v
      GROUP BY g.variant
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM agg)
    SELECT variant, n, round(rank_sum, 2) AS rank_sum,
           round(rank_sum - n * (n + 1) / 2.0, 2) AS u_stat,
           round((rank_sum - n * (n + 1) / 2.0 - n * (ntot - n) / 2.0)
                 / sqrt(n * (ntot - n) * (ntot + 1) / 12.0), 6) AS z_score
    FROM agg, tot ORDER BY variant
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) of o_totalprice between the
    even/odd-custkey variants. Ranks come from the bucketed two-phase
    plan: groupBy(value) first (combiner-friendly, shrinks to distinct
    prices), then midranks via per-bucket windows + broadcast offsets —
    never a global single-partition window. Midranks are halves, so
    rank sums are binary-exact in any summation order and the oracle's
    naive global-window spelling matches bit-for-bit."""
    s = variant_prices(spark, sf_dir)
    g = s.groupBy("variant", "v").agg(F.count(F.lit(1)).alias("c")).cache()  # 2 consumers: one orders scan
    _, agg = group_rank_sums(g, "variant")
    # total n from the CACHED (variant, value, count) frame, not from
    # `agg` — agg's lineage includes the midrank window join, and a
    # second consumer would execute that whole subtree again just to
    # add two numbers (sum of per-variant counts == sum of all counts).
    tot = g.agg(F.sum("c").cast("bigint").alias("ntot"))
    u = F.col("rank_sum") - F.col("n") * (F.col("n") + 1) / F.lit(2.0)
    mu = F.col("n") * (F.col("ntot") - F.col("n")) / F.lit(2.0)
    sigma = F.sqrt(
        F.col("n") * (F.col("ntot") - F.col("n")) * (F.col("ntot") + 1) / F.lit(12.0)
    )
    return (
        agg.crossJoin(F.broadcast(tot))  # 1-row totals dimension
        .select(
            "variant",
            "n",
            F.round("rank_sum", 2).alias("rank_sum"),
            F.round(u, 2).alias("u_stat"),
            F.round((u - mu) / sigma, 6).alias("z_score"),
        )
        .orderBy("variant")
    )


@register(
    "stat_ks_two_sample",
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
    cum AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v) AS cum_a,
             sum(cb) OVER (ORDER BY v) AS cum_b
      FROM g
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g),
    dev AS (
      SELECT v, abs(CAST(cum_a AS HUGEINT) * (SELECT nb FROM tot)
                    - CAST(cum_b AS HUGEINT) * (SELECT na FROM tot)) AS dint
      FROM cum
    ),
    m AS (SELECT max(dint) AS md FROM dev)
    SELECT (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b,
           round(CAST(md AS DOUBLE)
                 / (CAST((SELECT na FROM tot) AS DOUBLE) * (SELECT nb FROM tot)), 6) AS ks_d,
           (SELECT min(v) FROM dev WHERE dint = m.md) AS at_value
    FROM m
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the even/odd-custkey
    o_totalprice distributions. ECDF gaps are computed as EXACT
    cross-multiplied counts (|cumA*nB - cumB*nA|, accumulated in
    DECIMAL because the n^2-scale product wraps BIGINT past ~3e9 rows
    per side) so the max and its arg are exact; the single division
    happens once at the end. The cumulative counts use the bucketed
    two-phase plan over the distinct values — no single-partition
    window over data."""
    g = value_counts(variant_prices(spark, sf_dir), "A", "B")
    cum = bucketed_cumsums(g, "v", ["ca", "cb"], inclusive=True)
    tot = g.agg(
        F.sum("ca").cast("bigint").alias("na"), F.sum("cb").cast("bigint").alias("nb")
    )
    # cumA*nB is an n^2-scale product: BIGINT wraps silently past
    # ~9.2e18 (n ~ 3e9 rows/side), so the cross-multiply runs in
    # DECIMAL — exact like the oracle's HUGEINT — and converts to
    # double only at the terminal division
    dca = F.col("cum_ca").cast("decimal(18,0)")
    dcb = F.col("cum_cb").cast("decimal(18,0)")
    dev = cum.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "v",
        "na",
        "nb",
        F.abs(
            dca * F.col("nb").cast("decimal(18,0)")
            - dcb * F.col("na").cast("decimal(18,0)")
        ).alias("dint"),
    )
    # max gap, smallest value attaining it: one struct-max aggregation
    best = dev.agg(
        F.max(F.struct(F.col("dint"), (-F.col("v")).alias("nv"))).alias("s"),
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
    )
    return best.select(
        "n_a",
        "n_b",
        F.round(
            F.col("s.dint").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b")),
            6,
        ).alias("ks_d"),
        (-F.col("s.nv")).alias("at_value"),
    )


@register(
    "stat_linear_regression",
    """
    WITH m AS (
      SELECT l_returnflag, count(*) AS n,
             avg(l_quantity) AS mx, avg(l_extendedprice) AS my
      FROM lineitem GROUP BY l_returnflag
    ),
    c AS (
      SELECT l.l_returnflag,
             sum((l.l_quantity - m.mx) * (l.l_quantity - m.mx)) AS sxx,
             sum((l.l_quantity - m.mx) * (l.l_extendedprice - m.my)) AS sxy,
             sum((l.l_extendedprice - m.my) * (l.l_extendedprice - m.my)) AS syy
      FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      GROUP BY l.l_returnflag
    )
    SELECT c.l_returnflag, CAST(m.n AS BIGINT) AS n,
           round(c.sxy / c.sxx, 6) AS slope,
           round(m.my - (c.sxy / c.sxx) * m.mx, 4) AS intercept,
           round(c.sxy * c.sxy / (c.sxx * c.syy), 6) AS r2
    FROM c JOIN m ON c.l_returnflag = m.l_returnflag
    ORDER BY c.l_returnflag
    """,
    "stats",
    "regression",
)
def stat_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS of l_extendedprice on l_quantity, two-pass
    centered: group means first, then centered co-moments (broadcast
    means join — no shuffle of the fact side beyond the groupBys).
    Centering avoids the n*sxy - sx*sy cancellation that loses ~8
    digits at 100 TB row counts; the oracle restates the identical
    two-pass algebra."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("l_quantity").alias("mx"),
        F.avg("l_extendedprice").alias("my"),
    )
    dx = F.col("l_quantity") - F.col("mx")
    dy = F.col("l_extendedprice") - F.col("my")
    c = (
        li.join(F.broadcast(m), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n"),
            F.first("mx").alias("mx"),
            F.first("my").alias("my"),
            F.sum(dx * dx).alias("sxx"),
            F.sum(dx * dy).alias("sxy"),
            F.sum(dy * dy).alias("syy"),
        )
    )
    slope = F.col("sxy") / F.col("sxx")
    return c.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 4).alias("intercept"),
        F.round(F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "stat_correlation_matrix",
    """
    WITH m AS (
      SELECT avg(l_quantity) AS mq, avg(l_extendedprice) AS me,
             avg(l_discount) AS md, avg(l_tax) AS mt
      FROM lineitem
    ),
    c AS (
      SELECT
        sum((l_quantity - mq) * (l_quantity - mq)) AS cqq,
        sum((l_extendedprice - me) * (l_extendedprice - me)) AS cee,
        sum((l_discount - md) * (l_discount - md)) AS cdd,
        sum((l_tax - mt) * (l_tax - mt)) AS ctt,
        sum((l_quantity - mq) * (l_extendedprice - me)) AS cqe,
        sum((l_quantity - mq) * (l_discount - md)) AS cqd,
        sum((l_quantity - mq) * (l_tax - mt)) AS cqt,
        sum((l_extendedprice - me) * (l_discount - md)) AS ced,
        sum((l_extendedprice - me) * (l_tax - mt)) AS cet,
        sum((l_discount - md) * (l_tax - mt)) AS cdt
      FROM lineitem, m
    )
    SELECT col_x, col_y, round(r, 6) AS pearson_r FROM (
      SELECT 'quantity' AS col_x, 'extendedprice' AS col_y, cqe / sqrt(cqq * cee) AS r FROM c
      UNION ALL SELECT 'quantity', 'discount', cqd / sqrt(cqq * cdd) FROM c
      UNION ALL SELECT 'quantity', 'tax', cqt / sqrt(cqq * ctt) FROM c
      UNION ALL SELECT 'extendedprice', 'discount', ced / sqrt(cee * cdd) FROM c
      UNION ALL SELECT 'extendedprice', 'tax', cet / sqrt(cee * ctt) FROM c
      UNION ALL SELECT 'discount', 'tax', cdt / sqrt(cdd * ctt) FROM c
    ) ORDER BY col_x, col_y
    """,
    "stats",
    "correlation",
)
def stat_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among the four lineitem measures in
    ONE pass over the fact table (after a 1-row means broadcast): all
    ten centered co-moments accumulate in a single aggregate, then the
    six correlations unpivot from the single result row via stack().
    Two-pass centering keeps both engines ulp-aligned (same reasoning as
    stat_linear_regression)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    m = li.agg(
        F.avg("l_quantity").alias("mq"),
        F.avg("l_extendedprice").alias("me"),
        F.avg("l_discount").alias("md"),
        F.avg("l_tax").alias("mt"),
    )
    dq = F.col("l_quantity") - F.col("mq")
    de = F.col("l_extendedprice") - F.col("me")
    dd = F.col("l_discount") - F.col("md")
    dt = F.col("l_tax") - F.col("mt")
    c = li.crossJoin(F.broadcast(m)).agg(  # 1-row means dimension
        F.sum(dq * dq).alias("cqq"),
        F.sum(de * de).alias("cee"),
        F.sum(dd * dd).alias("cdd"),
        F.sum(dt * dt).alias("ctt"),
        F.sum(dq * de).alias("cqe"),
        F.sum(dq * dd).alias("cqd"),
        F.sum(dq * dt).alias("cqt"),
        F.sum(de * dd).alias("ced"),
        F.sum(de * dt).alias("cet"),
        F.sum(dd * dt).alias("cdt"),
    )
    r = c.select(
        (F.col("cqe") / F.sqrt(F.col("cqq") * F.col("cee"))).alias("r_qe"),
        (F.col("cqd") / F.sqrt(F.col("cqq") * F.col("cdd"))).alias("r_qd"),
        (F.col("cqt") / F.sqrt(F.col("cqq") * F.col("ctt"))).alias("r_qt"),
        (F.col("ced") / F.sqrt(F.col("cee") * F.col("cdd"))).alias("r_ed"),
        (F.col("cet") / F.sqrt(F.col("cee") * F.col("ctt"))).alias("r_et"),
        (F.col("cdt") / F.sqrt(F.col("cdd") * F.col("ctt"))).alias("r_dt"),
    )
    return (
        r.select(
            F.expr(
                "stack(6, "
                "'quantity', 'extendedprice', r_qe, "
                "'quantity', 'discount', r_qd, "
                "'quantity', 'tax', r_qt, "
                "'extendedprice', 'discount', r_ed, "
                "'extendedprice', 'tax', r_et, "
                "'discount', 'tax', r_dt) AS (col_x, col_y, r)"
            )
        )
        .select("col_x", "col_y", F.round("r", 6).alias("pearson_r"))
        .orderBy("col_x", "col_y")
    )


@register(
    "stat_spearman_rank_corr",
    """
    WITH s AS (SELECT l_quantity AS q, l_extendedprice AS p FROM lineitem),
    gq AS (SELECT q, count(*) AS c FROM s GROUP BY q),
    rq AS (
      SELECT q, coalesce(sum(c) OVER (ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS rank_q
      FROM gq
    ),
    gp AS (SELECT p, count(*) AS c FROM s GROUP BY p),
    rp AS (
      SELECT p, coalesce(sum(c) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c + 1) / 2.0 AS rank_p
      FROM gp
    ),
    rr AS (
      SELECT rq.rank_q, rp.rank_p
      FROM s JOIN rq ON s.q = rq.q JOIN rp ON s.p = rp.p
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    c AS (
      SELECT count(*) AS n,
             sum((rank_q - ((SELECT n FROM tot) + 1) / 2.0)
               * (rank_p - ((SELECT n FROM tot) + 1) / 2.0)) AS sxy,
             sum((rank_q - ((SELECT n FROM tot) + 1) / 2.0)
               * (rank_q - ((SELECT n FROM tot) + 1) / 2.0)) AS sxx,
             sum((rank_p - ((SELECT n FROM tot) + 1) / 2.0)
               * (rank_p - ((SELECT n FROM tot) + 1) / 2.0)) AS syy
      FROM rr
    )
    SELECT CAST(c.n AS BIGINT) AS n,
           round(c.sxy / sqrt(c.sxx * c.syy), 6) AS spearman_rho
    FROM c
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice:
    midranks for EACH variable via the bucketed two-phase rank plan over
    its distinct values (operators/rankstats.py), joined back to the
    fact rows, then Pearson on the ranks with two-pass centering.
    Midranks are binary-exact halves, so both engines feed identical
    rank pairs into the co-moments."""
    s = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q"), F.col("l_extendedprice").alias("p")
    )
    gq = s.groupBy("q").agg(F.count(F.lit(1)).alias("c"))
    gp = s.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    rq = avg_ranks(gq, "q", "c").select("q", F.col("avg_rank").alias("rank_q"))
    rp = avg_ranks(gp, "p", "c").select("p", F.col("avg_rank").alias("rank_p"))
    # both rank dimensions broadcast: distinct price values are a
    # bounded vocabulary (a price grid), and without the hint the second
    # join fell to sort-merge — shuffling and sorting the whole fact
    # frame by price just to attach ~|distinct| rank rows.
    rr = s.join(F.broadcast(rq), "q").join(F.broadcast(rp), "p").select("rank_q", "rank_p")
    # midranks of 1..n always sum to n(n+1)/2, so both means are exactly
    # (n+1)/2 — no means pass over the rank frame is needed. n comes
    # from the (value, count) frame rankstats already cached, not a
    # fourth scan of the fact table (sum of per-value counts == n).
    tot = gq.agg(F.sum("c").cast("bigint").alias("n"))
    mean = (F.col("n") + 1) / F.lit(2.0)
    dq = F.col("rank_q") - mean
    dp = F.col("rank_p") - mean
    c = rr.crossJoin(F.broadcast(tot)).agg(  # 1-row count dimension
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dq * dp).alias("sxy"),
        F.sum(dq * dq).alias("sxx"),
        F.sum(dp * dp).alias("syy"),
    )
    return c.select(
        "n",
        F.round(F.col("sxy") / F.sqrt(F.col("sxx") * F.col("syy")), 6).alias("spearman_rho"),
    )


@register(
    "text_zipf_fit",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY term),
    top AS (SELECT term, f FROM freq ORDER BY f DESC, term LIMIT 100),
    r AS (
      SELECT term, f, ln(row_number() OVER (ORDER BY f DESC, term)) AS lr, ln(f) AS lf
      FROM top
    ),
    m AS (SELECT count(*) AS n, avg(lr) AS mr, avg(lf) AS mf FROM r),
    c AS (
      SELECT sum((lr - mr) * (lf - mf)) AS sxy,
             sum((lr - mr) * (lr - mr)) AS sxx,
             sum((lf - mf) * (lf - mf)) AS syy
      FROM r, m
    )
    SELECT CAST(m.n AS BIGINT) AS n_terms,
           round(c.sxy / c.sxx, 6) AS zipf_slope,
           round(m.mf - (c.sxy / c.sxx) * m.mr, 6) AS intercept,
           round(c.sxy * c.sxy / (c.sxx * c.syy), 6) AS r2
    FROM c, m
    """,
    "stats",
    "text",
    "zipf",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus: OLS of ln(frequency) on ln(rank)
    for the top-100 terms. The corpus reduces via a combiner-friendly
    term count; top-100 is a TakeOrdered (no full sort), and the window
    + regression run over exactly 100 rows. Two-pass centered algebra
    matches the oracle to ulps."""
    from pyspark.sql import Window as W

    toks = t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    top = freq.orderBy(F.col("f").desc(), "term").limit(100)
    r = top.withColumn(
        "lr", F.log(F.row_number().over(W.orderBy(F.col("f").desc(), "term")))
    ).withColumn("lf", F.log("f"))
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.avg("lr").alias("mr"),
        F.avg("lf").alias("mf"),
    )
    dr = F.col("lr") - F.col("mr")
    df_ = F.col("lf") - F.col("mf")
    s = r.crossJoin(F.broadcast(m)).agg(  # 1-row means over the 100-term frame
        F.sum(dr * df_).alias("sxy"),
        F.sum(dr * dr).alias("sxx"),
        F.sum(df_ * df_).alias("syy"),
    )
    # moments from the always-1-row m aggregate (the oracle's scalar
    # subquery shape), never a first() over the possibly-empty term frame
    c = m.join(F.broadcast(s), F.lit(True), "left")
    slope = F.col("sxy") / F.col("sxx")
    return c.select(
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("mf") - slope * F.col("mr"), 6).alias("intercept"),
        F.round(F.col("sxy") * F.col("sxy") / (F.col("sxx") * F.col("syy")), 6).alias("r2"),
    )


@register(
    "stat_trimmed_mean",
    """
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    r AS (
      SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey) AS rn FROM c
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
    k AS (SELECT CAST((SELECT n FROM tot) // 10 AS BIGINT) AS cut),
    kept AS (
      SELECT cents FROM r, tot, k
      WHERE rn > k.cut AND rn <= tot.n - k.cut
    )
    SELECT (SELECT n FROM tot) AS n,
           (SELECT cut FROM k) AS trimmed_each_side,
           round(CAST(sum(cents) AS BIGINT) / (100.0 * count(*)), 4) AS trimmed_mean,
           round(CAST(min(cents) AS BIGINT) / 100.0, 2) AS lower_bound,
           round(CAST(max(cents) AS BIGINT) / 100.0, 2) AS upper_bound
    FROM kept
    """,
    "stats",
    "robust",
    "distributed-rank",
)
def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of order totals: global positions from the
    bucketed two-phase row_number, drop the bottom and top n/10 rows,
    average the integer-cent middle (exact BIGINT sum, one terminal
    division). The robust location estimate a fraud/DQ screen uses when
    means are outlier-poisoned; the trim bounds come back as evidence."""
    from etl_file_sync_spark.operators.rankstats import bucketed_row_number

    c = t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()  # observed values only
    ).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    r = bucketed_row_number(c, "cents", ["o_orderkey"], out_col="rn")
    # count from `c` (cached by the rank plan) — row_number adds no
    # rows, and `tot` is consumed twice (trim filter + final join), so
    # counting over `r` would execute the rank subtree twice more
    tot = c.agg(F.count(F.lit(1)).cast("bigint").alias("n")).withColumn(
        "cut", F.floor(F.col("n") / 10).cast("bigint")
    )
    kept = (
        r.crossJoin(F.broadcast(tot))  # 1-row bounds dimension
        .filter((F.col("rn") > F.col("cut")) & (F.col("rn") <= F.col("n") - F.col("cut")))
    )
    stats = kept.agg(
        F.round(
            F.sum("cents").cast("bigint") / (100.0 * F.count(F.lit(1))), 4
        ).alias("trimmed_mean"),
        F.round(F.min("cents").cast("bigint") / 100.0, 2).alias("lower_bound"),
        F.round(F.max("cents").cast("bigint") / 100.0, 2).alias("upper_bound"),
    )
    # bounds from the always-1-row tot aggregate (the oracle's scalar
    # subquery shape), never a first() over the possibly-empty kept frame
    return tot.join(F.broadcast(stats), F.lit(True), "left").select(
        "n", F.col("cut").alias("trimmed_each_side"),
        "trimmed_mean", "lower_bound", "upper_bound",
    )


@register(
    "stat_kruskal_wallis",
    """
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
             sum(r * r / n) AS s2
      FROM pg
    ),
    ties AS (
      SELECT CAST(sum(cnt * cnt * cnt - cnt) AS DOUBLE) AS tsum FROM vals
    )
    SELECT ntot AS n_total, k AS n_groups,
           round(12.0 / (ntot * (ntot + 1.0)) * s2 - 3 * (ntot + 1), 6)
             AS h_stat,
           round((12.0 / (ntot * (ntot + 1.0)) * s2 - 3 * (ntot + 1))
                 / (1 - tsum / (CAST(ntot AS DOUBLE) * ntot * ntot - ntot)), 6)
             AS h_tie_adj
    FROM tot CROSS JOIN ties
    """,
    "stats",
    "rank-test",
    "distributed-rank",
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (one-way ANOVA on ranks) of o_totalprice across
    the five order priorities — the nonparametric sibling of
    stat_anova_oneway. Midranks ride the bucketed two-phase rank plan
    over DISTINCT prices; rank sums are half-integers, hence binary-
    exact in any summation order, so both engines agree bit-for-bit
    before the final 6-decimal rounding. Tie correction
    C = 1 - sum(t^3 - t)/(N^3 - N) comes from the same (value, count)
    frame the ranks do — no extra pass."""
    s = t(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()  # observed values only
    ).select(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    )
    g = s.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c")).cache()  # 2 consumers: one orders scan
    vals, pg = group_rank_sums(g, "grp")
    tot = pg.agg(
        F.sum("n").cast("bigint").alias("ntot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rank_sum") * F.col("rank_sum") / F.col("n")).alias("s2"),
    )
    ties = vals.agg(tie_sum().alias("tsum"))
    h = 12.0 / (F.col("ntot") * (F.col("ntot") + F.lit(1.0))) * F.col("s2") - 3 * (
        F.col("ntot") + 1
    )
    c_corr = 1 - F.col("tsum") / (
        F.col("ntot").cast("double") * F.col("ntot") * F.col("ntot") - F.col("ntot")
    )
    return (
        tot.crossJoin(F.broadcast(ties))  # 1-row ties dimension
        .select(
            F.col("ntot").alias("n_total"),
            F.col("k").alias("n_groups"),
            F.round(h, 6).alias("h_stat"),
            F.round(h / c_corr, 6).alias("h_tie_adj"),
        )
    )


@register(
    "stat_js_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    cnt AS (
      SELECT term,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM tok WHERE term <> '' GROUP BY term
    ),
    tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_vocab
      FROM cnt
    ),
    terms AS (
      SELECT ca * 1.0 / na AS p, cb * 1.0 / nb AS q,
             (ca * 1.0 / na + cb * 1.0 / nb) / 2.0 AS m
      FROM cnt CROSS JOIN tot
    )
    SELECT (SELECT na FROM tot) AS n_tokens_a,
           (SELECT nb FROM tot) AS n_tokens_b,
           (SELECT vocab FROM tot) AS vocab,
           (SELECT shared_vocab FROM tot) AS shared_vocab,
           round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END)
                 + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END), 6)
             AS jsd_nats
    FROM terms
    """,
    "stats",
    "divergence",
    "mix",
)
def stat_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the src0 and src1 unigram
    distributions — the symmetric, bounded drift measure a mix planner
    uses to compare corpus slices (dq_population_stability's PSI is its
    one-sided cousin). Two combiner-friendly aggregations (term counts,
    then totals), per-term contributions as JVM expressions, one final
    sum: zero-probability terms contribute 0 by the KL convention, so
    the union vocabulary needs no smoothing."""
    from etl_file_sync_spark.operators.text import tokens

    docs = t(spark, sf_dir, "documents").filter(F.col("source").isin("src0", "src1"))
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    cnt = tok.groupBy("term").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).cast("bigint").alias("cb"),
    )
    tot = cnt.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("shared_vocab"),
    )
    p = F.col("ca") * 1.0 / F.col("na")
    q = F.col("cb") * 1.0 / F.col("nb")
    m = (p + q) / 2.0
    terms = cnt.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "na",
        "nb",
        "vocab",
        "shared_vocab",
        F.when(F.col("ca") > 0, 0.5 * p * F.log(p / m)).otherwise(0.0).alias("pa"),
        F.when(F.col("cb") > 0, 0.5 * q * F.log(q / m)).otherwise(0.0).alias("pb"),
    )
    # bare agg + left join on TRUE (the oracle's scalar-subquery shape):
    # a groupBy on the totals keys would emit ZERO rows on an empty
    # vocabulary where the oracle emits one all-NULL summary row
    s = terms.agg(F.round(F.sum("pa") + F.sum("pb"), 6).alias("jsd_nats"))
    return tot.join(F.broadcast(s), F.lit(True), "left").select(
        F.col("na").alias("n_tokens_a"),
        F.col("nb").alias("n_tokens_b"),
        "vocab",
        "shared_vocab",
        "jsd_nats",
    )


def _cell_p_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 120 event_type x hour-of-day z-tests that stat_bh_fdr and
    stat_holm_stepdown correct: per cell its size ``n_g``, the z of its
    mean against the global mean rounded to 4 decimals, the two-sided
    normal ``p_value`` (operators/pvalues.py) of that ROUNDED z, so
    both engines evaluate exp() on bit-identical input, its rank ``rk``
    by (p_value, event_type, hr) and the number of cells ``m``. Sums
    are exact integer cents, the squared-cents sum accumulates in exact
    DECIMAL (it wraps BIGINT at 100 TB), and the rank windows run over
    the aggregate-sized cell frame, not rows."""
    from pyspark.sql import Window as W

    cents = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    g = cents.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("c").alias("s_g")
    )
    tot = cents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c").cast("decimal(18,0)") * F.col("c").cast("decimal(18,0)"))
        .cast("double")
        .alias("ss"),
    )
    z = g.crossJoin(F.broadcast(tot)).select(  # 1-row totals dimension
        "event_type", "hr", "n_g",
        F.round(
            (F.col("s_g") * 1.0 / F.col("n_g") - F.col("s") * 1.0 / F.col("n"))
            * F.sqrt(F.col("n_g"))
            / F.sqrt(
                (F.col("ss") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            4,
        ).alias("z_stat"),
    )
    p = z.withColumn("p_value", F.round(normal_two_sided_p(F.col("z_stat")), 6))
    return p.select(
        "*",
        F.row_number().over(W.orderBy("p_value", "event_type", "hr")).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("bigint").alias("m"),
    )


@register(
    "stat_bh_fdr",
    """
    WITH cents AS (
      SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    g AS (
      SELECT event_type, hr, count(*) AS n_g, sum(c) AS s_g
      FROM cents GROUP BY 1, 2
    ),
    tot AS (
      SELECT count(*) AS n, sum(c) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
      FROM cents
    ),
    z AS (
      SELECT event_type, hr, n_g,
             round((s_g * 1.0 / n_g - s * 1.0 / n) * sqrt(n_g)
                   / sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)), 4) AS z_stat
      FROM g, tot
    ),
    p AS (
      SELECT event_type, hr, n_g, z_stat,
             round(1 - (1 - (((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
                    - 0.284496736) * tt + 0.254829592) * tt) * exp(-xx * xx)), 6) AS p_value
      FROM (SELECT *, abs(z_stat) / sqrt(2) AS xx,
                   1 / (1 + 0.3275911 * abs(z_stat) / sqrt(2)) AS tt FROM z)
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY p_value, event_type, hr) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    )
    SELECT event_type, CAST(hr AS BIGINT) AS hr, CAST(n_g AS BIGINT) AS n,
           z_stat, p_value,
           round(least(min(p_value * m / rk) OVER (
             ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) AS p_bh,
           (round(least(min(p_value * m / rk) OVER (
             ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) <= 0.05) AS reject
    FROM ranked ORDER BY event_type, hr
    """,
    "stats",
    "multiple-testing",
    "fdr",
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over 120 simultaneous z-tests
    (event_type × hour-of-day cell mean vs the global mean) — the
    multiple-testing correction an experimentation platform applies to
    any metric scan. The cells, their p-values and p-ranks come from
    _cell_p_values; the normal tail is the Abramowitz–Stegun 7.1.26 erf
    polynomial, restated identically in the oracle (residual risk is
    one exp ulp under round-6 — the repo's accepted posture). The BH
    step-up is a reverse cumulative min window over the p-ranked cells:
    the hypothesis frame is aggregate-sized (cells, not rows), so the
    unpartitioned window is bounded regardless of corpus scale."""
    from pyspark.sql import Window as W

    ranked = _cell_p_values(spark, sf_dir)
    wmin = W.orderBy(F.col("rk").desc()).rowsBetween(W.unboundedPreceding, 0)
    p_bh = F.round(F.least(F.min(F.col("p_value") * F.col("m") / F.col("rk")).over(wmin), F.lit(1.0)), 6)
    return ranked.select(
        "event_type",
        F.col("hr").cast("bigint").alias("hr"),
        F.col("n_g").cast("bigint").alias("n"),
        "z_stat",
        "p_value",
        p_bh.alias("p_bh"),
        (p_bh <= 0.05).alias("reject"),
    ).orderBy("event_type", "hr")


@register(
    "stat_theil_sen",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    head AS (
      SELECT datediff('day', DATE '1992-01-01', day) AS x, cents,
             row_number() OVER (ORDER BY day) AS rn
      FROM daily
    ),
    pts AS (SELECT x, cents FROM head WHERE rn <= 60),
    slopes AS (
      SELECT (b.cents - a.cents) * 1.0 / (b.x - a.x) AS slope
      FROM pts a JOIN pts b ON a.x < b.x
    ),
    med AS (
      SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_days,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(quantile_cont(slope, 0.5), 6) AS slope_cents_per_day
      FROM slopes
    )
    SELECT m.n_days, m.n_pairs, m.slope_cents_per_day,
           round(quantile_cont(p.cents - m.slope_cents_per_day * p.x, 0.5), 4) AS intercept_cents
    FROM med m, pts p GROUP BY 1, 2, 3
    """,
    "stats",
    "robust-regression",
    "theil-sen",
)
def stat_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the median of all pairwise slopes over
    the first 60 days of daily revenue (integer cents), then the median
    intercept at the ROUNDED slope so both engines interpolate from
    bit-identical residuals. Pairwise expansion is explicitly bounded
    (60 points → 1,770 pairs — a driver-side constant, not data-scaled;
    the all-pairs frame never leaves aggregate size, the same bounded-
    verifier posture as queries/llm2.py's fuzzy all-pairs). Each slope
    is one exact-integer subtraction pair and a single division; the
    only cross-engine seam is the shared linear-interpolation midpoint,
    absorbed by round-6/round-4."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        revenue_cents().alias("cents")
    )
    head = daily.select(
        F.datediff("day", F.lit("1992-01-01")).alias("x"),
        "cents",
        F.row_number().over(W.orderBy("day")).alias("rn"),
    )
    pts = head.filter(F.col("rn") <= 60).select("x", "cents")
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.cents") - F.col("a.cents")) * 1.0 / (F.col("b.x") - F.col("a.x"))).alias("slope")
    )
    n_days = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    med = slopes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("slope_cents_per_day"),
    ).crossJoin(F.broadcast(n_days))
    return (
        pts.crossJoin(F.broadcast(med))
        .groupBy("n_days", "n_pairs", "slope_cents_per_day")
        .agg(
            F.round(
                F.expr("percentile(cents - slope_cents_per_day * x, 0.5)"), 4
            ).alias("intercept_cents")
        )
        .select("n_days", "n_pairs", "slope_cents_per_day", "intercept_cents")
    )


# Poisson(1) inverse CDF as integer thresholds on the md5-uniform
# 32-bit bucket (floor(CDF(k) * 2^32) for k = 0..4; k=5 tail beyond).
_POIS = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373]
_POIS_CASE_SQL = (
    "CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1 "
    "WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3 "
    "WHEN u < 4279248373 THEN 4 ELSE 5 END"
)


@register(
    "stat_poisson_bootstrap_ci",
    f"""
    WITH base AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ),
    fan AS (
      SELECT c, r,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8))::UBIGINT AS u
      FROM base, generate_series(0, 99) rs(r)
    ),
    rep AS (
      SELECT r,
             CAST(sum(({_POIS_CASE_SQL}) * c) AS BIGINT) AS wc,
             CAST(sum({_POIS_CASE_SQL}) AS BIGINT) AS w
      FROM fan GROUP BY r
    ),
    means AS (SELECT r, wc * 1.0 / w AS m FROM rep),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s FROM base
    )
    SELECT n, CAST(100 AS BIGINT) AS n_replicates,
           round(s * 1.0 / n, 4) AS mean_cents,
           round(quantile_cont(m, 0.025), 4) AS ci_lo_cents,
           round(quantile_cont(m, 0.975), 4) AS ci_hi_cents
    FROM tot, means GROUP BY 1, 2, 3
    """,
    "stats",
    "bootstrap",
    "confidence-interval",
)
def stat_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap CI for the mean purchase value — the
    ONE-PASS Poisson bootstrap (the classic large-scale spelling: with
    n large, a with-replacement resample's per-row multiplicity is
    ~Poisson(1), so each of the B=100 replicates needs only a
    deterministic per-(row, replicate) weight, never a resample shuffle
    of the data). The weight is the Poisson(1) inverse CDF applied to
    the md5-uniform 32-bit bucket of (event_id, replicate) — integer
    threshold compares, the repo's portable-selection idiom, identical
    in the oracle. The ×B fan-out exists only inside the map stage:
    partial aggregation collapses it to B rows per partition before the
    one shuffle, so cluster cost is B extra CPU per row and a B-row
    shuffle — no replicated data, no driver loop. Replicate means are
    exact-integer sums with one division; the CI is the 2.5/97.5
    percentile over the 100-row replicate frame."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = e.select("event_id", F.round(F.col("value") * 100).cast("bigint").alias("c"))
    fan = base.select(
        "event_id", "c", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("r")
    ).select(
        "c", "r",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("event_id").cast("string"), F.col("r").cast("string"))), 1, 8
            ),
            16, 10,
        ).cast("bigint").alias("u"),
    )
    w = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .otherwise(5)
    )
    rep = fan.groupBy("r").agg(
        F.sum(w * F.col("c")).cast("bigint").alias("wc"),
        F.sum(w).cast("bigint").alias("w"),
    )
    means = rep.select((F.col("wc") * 1.0 / F.col("w")).alias("m"))
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("c").cast("bigint").alias("s")
    )
    return (
        means.crossJoin(F.broadcast(tot))
        .groupBy(
            "n",
            F.lit(100).cast("bigint").alias("n_replicates"),
            F.round(F.col("s") * 1.0 / F.col("n"), 4).alias("mean_cents"),
        )
        .agg(
            F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo_cents"),
            F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi_cents"),
        )
    )


@register(
    "stat_holm_stepdown",
    """
    WITH cents AS (
      SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    g AS (
      SELECT event_type, hr, count(*) AS n_g, sum(c) AS s_g
      FROM cents GROUP BY 1, 2
    ),
    tot AS (
      SELECT count(*) AS n, sum(c) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS ss
      FROM cents
    ),
    z AS (
      SELECT event_type, hr, n_g,
             round((s_g * 1.0 / n_g - s * 1.0 / n) * sqrt(n_g)
                   / sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)), 4) AS z_stat
      FROM g, tot
    ),
    p AS (
      SELECT event_type, hr, z_stat,
             round(1 - (1 - (((((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt
                    - 0.284496736) * tt + 0.254829592) * tt) * exp(-xx * xx)), 6) AS p_value
      FROM (SELECT *, abs(z_stat) / sqrt(2) AS xx,
                   1 / (1 + 0.3275911 * abs(z_stat) / sqrt(2)) AS tt FROM z)
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY p_value, event_type, hr) AS BIGINT) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    )
    SELECT event_type, CAST(hr AS BIGINT) AS hr, z_stat, p_value,
           round(least(max(p_value * (m - rk + 1)) OVER (
             ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) AS p_holm,
           (round(least(max(p_value * (m - rk + 1)) OVER (
             ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6) <= 0.05) AS reject
    FROM ranked ORDER BY event_type, hr
    """,
    "stats",
    "multiple-testing",
    "fwer",
)
def stat_holm_stepdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-DOWN FWER correction over the same 120 event_type x
    hour z-tests as stat_bh_fdr (which controls the weaker FDR): the
    adjusted p at rank i is the running MAX of (m-j+1)*p_(j) for j<=i,
    clipped at 1 — monotone by construction, so a rejection at rank i
    implies rejections at all smaller ranks (asserted in tests). The
    cells and p-values are _cell_p_values, shared with stat_bh_fdr; the
    step-down window runs over the aggregate-sized 120-cell frame."""
    from pyspark.sql import Window as W

    ranked = _cell_p_values(spark, sf_dir)
    # step-down: running max over ascending rank (aggregate-sized frame)
    wh = W.orderBy("rk").rowsBetween(W.unboundedPreceding, 0)
    holm = F.round(
        F.least(F.max(F.col("p_value") * (F.col("m") - F.col("rk") + 1)).over(wh), F.lit(1.0)),
        6,
    )
    return ranked.select(
        "event_type",
        F.col("hr").cast("bigint").alias("hr"),
        "z_stat",
        "p_value",
        holm.alias("p_holm"),
        (holm <= 0.05).alias("reject"),
    ).orderBy("event_type", "hr")
