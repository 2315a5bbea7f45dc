"""Full relational surface: join variants, aggregation variants, window
functions, sorts, set operations and the scalar function library.

The reference implements exactly one join-like operator (the broadcast
config lookup, SURVEY.md §2.1 row 4) and no aggregation/window/sort/set
operator at all (§2.2); this module supplies that surface on Spark
built-ins so Catalyst handles pushdown, join selection and partial aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_file_sync_spark.functions.numcast import num_int_sql, num_str_int
from etl_file_sync_spark.queries.registry import register, t

# ---------------------------------------------------------------------------
# Join variants
# ---------------------------------------------------------------------------


@register(
    "join_semi_exists",
    """
    SELECT o_orderkey, o_orderdate, round(o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    ORDER BY o_orderkey
    """,
    "join",
    "semi",
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join == EXISTS: orders having any line with quantity > 45."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .select("o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


@register(
    "join_anti_not_exists",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
    "join",
    "anti",
)
def join_anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join == NOT EXISTS: customers with no urgent orders.

    (Every customer has *some* order in the synthetic data, so the filter
    keeps the result non-vacuous at all SFs.)
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    """
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    ORDER BY nationkey
    """,
    "join",
    "outer",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer and supplier counts."""
    cn = t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(F.count(F.lit(1)).alias("n_customers"))
    sn = t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("snk")).agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        cn.join(sn, cn.nk == sn.snk, "full_outer")
        .select(
            F.coalesce("nk", "snk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_cross_small",
    """
    SELECT r_name, s.o_orderstatus, count(*) AS n_combos
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    GROUP BY r_name, s.o_orderstatus
    """,
    "join",
    "cross",
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two small dimensions (broadcast NLJ physically)."""
    r = t(spark, sf_dir, "region")
    s = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).groupBy("r_name", "o_orderstatus").agg(F.count(F.lit(1)).alias("n_combos"))


@register(
    "join_range_bucketed",
    """
    WITH buckets AS (
      SELECT i AS bucket_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
      FROM UNNEST(range(0, 10)) t(i)
    )
    SELECT bucket_id, count(*) AS n_orders, round(sum(o_totalprice), 2) AS bucket_value
    FROM orders JOIN buckets ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY bucket_id
    ORDER BY bucket_id
    """,
    "join",
    "range",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join orders→price bands.

    Scale path: instead of the O(n·m) theta join, derive the band key
    arithmetically (equi-join key = floor(price/width)) so the plan stays
    a hash join / pure map — the standard trick for fixed-width range
    joins at 100 TB. The oracle states it as the naive range join.
    """
    o = t(spark, sf_dir, "orders")
    width = 50000.0
    return (
        o.withColumn("bucket_id", F.floor(F.col("o_totalprice") / width).cast("bigint"))
        .filter((F.col("bucket_id") >= 0) & (F.col("bucket_id") < 10))
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("bucket_value"))
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "agg_distinct_counts",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderpriority) AS n_priorities
    FROM orders GROUP BY o_orderstatus
    """,
    "agg",
    "distinct",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregation (expand+two-phase agg)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "agg",
    "rollup",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag, flag+status, grand total)."""
    l = t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "agg",
    "cube",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority."""
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT c_mktsegment, c_nationkey, count(*) AS n, round(sum(c_acctbal), 2) AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    """,
    "agg",
    "grouping-sets",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL on a temp view."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        FROM customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


@register(
    "agg_stats_moments",
    """
    SELECT c_mktsegment,
           round(avg(c_acctbal), 4) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(stddev_samp(c_acctbal), 4) AS sd_bal,
           round(var_samp(c_acctbal), 2) AS var_bal,
           round(quantile_cont(c_acctbal, 0.5), 4) AS median_bal
    FROM customer GROUP BY c_mktsegment
    """,
    "agg",
    "stats",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates incl. exact interpolated median.

    Spark `percentile` (exact) == DuckDB `quantile_cont`; the approximate
    sketch variant is `approx_percentile`/`percentile_approx` at scale.
    """
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 2).alias("var_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_bal"),
    )


@register(
    "agg_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
    "agg",
    "pivot",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT linestatus into columns (== conditional aggregation)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "win_topk_per_group",
    """
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY c_custkey, rn
    """,
    "window",
    "topk",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — row_number over a partitioned window."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rn",
        )
        .orderBy("c_custkey", "rn")
    )


@register(
    "win_running_sum",
    """
    SELECT s_suppkey, l_orderkey, l_linenumber,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT))
                 OVER (PARTITION BY l_suppkey
                       ORDER BY l_shipdate, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS running_rev
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_suppkey <= 3
    ORDER BY s_suppkey, l_orderkey, l_linenumber
    """,
    "window",
    "running",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier with a fully deterministic order.

    The summed term is integer cents: windowed double sums are evaluated
    in engine-specific orders (DuckDB segment tree vs Spark running
    accumulation), so exact-integer terms are the only way two engines
    agree bit-for-bit on a long running sum."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= 3)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("bigint")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("running_rev", F.round(F.sum(cents).over(w) / 100.0, 2))
        .select("s_suppkey", "l_orderkey", "l_linenumber", "running_rev")
        .orderBy("s_suppkey", "l_orderkey", "l_linenumber")
    )


@register(
    "win_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER) AS days_since_prev,
           lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey
    FROM orders
    WHERE o_custkey <= 20
    ORDER BY o_custkey, o_orderkey
    """,
    "window",
    "lag-lead",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD: days between consecutive orders per customer."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("days_since_prev", F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)))
        .withColumn("next_orderkey", F.lead("o_orderkey").over(w))
        .select("o_custkey", "o_orderkey", "days_since_prev", "next_orderkey")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "win_rank_dense",
    """
    SELECT p_brand, p_partkey,
           CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS INTEGER) AS price_rank,
           CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size) AS INTEGER) AS size_dense_rank
    FROM part
    ORDER BY p_brand, p_partkey
    """,
    "window",
    "rank",
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK and DENSE_RANK within brand."""
    p = t(spark, sf_dir, "part")
    w_price = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    w_size = W.partitionBy("p_brand").orderBy("p_size")
    return (
        p.withColumn("price_rank", F.rank().over(w_price))
        .withColumn("size_dense_rank", F.dense_rank().over(w_size))
        .select("p_brand", "p_partkey", "price_rank", "size_dense_rank")
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "win_ntile_quartiles",
    """
    SELECT quartile, count(*) AS n,
           round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
    FROM (SELECT c_acctbal,
                 CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
          FROM customer)
    GROUP BY quartile ORDER BY quartile
    """,
    "window",
    "ntile",
)
def win_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles of customer balances."""
    c = t(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return (
        c.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------


@register(
    "sort_topn_global",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
    "sort",
    "topk",
)
def sort_topn_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N — Spark plans TakeOrderedAndProject (no full sort)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice"))
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(25)
    )


@register(
    "set_union_intersect_except",
    """
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
    SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM y96 UNION SELECT * FROM y97)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
    """,
    "setop",
)
def set_union_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT cardinalities of 1996-vs-1997 buyers."""
    o = t(spark, sf_dir, "orders")

    def buyers(lo: str, hi: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96 = buyers("1996-01-01", "1997-01-01")
    y97 = buyers("1997-01-01", "1998-01-01")
    rows = [
        ("union", y96.union(y97).distinct()),
        ("intersect", y96.intersect(y97)),
        ("except", y96.exceptAll(y97).distinct()),
    ]
    out = None
    for op, df in rows:
        piece = df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")
        out = piece if out is None else out.unionByName(piece)
    return out


# ---------------------------------------------------------------------------
# Scalar function library
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    """
    SELECT c_custkey,
           -- ASCII fold: native upper() is runtime-dependent on
           -- arbitrary text (JVM upper('ß')='SS' vs utf8proc 'ẞ');
           -- the enum seg column keeps the native lower() demo
           translate(c_name, 'abcdefghijklmnopqrstuvwxyz',
                     'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INTEGER) AS name_len,
           concat_ws('/', c_name, c_mktsegment) AS name_seg,
           replace(c_name, 'Customer', 'Cust') AS name_short,
           trim('  ' || c_name || ' ') AS name_trim,
           CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos
    FROM customer WHERE c_custkey <= 50 ORDER BY c_custkey
    """,
    "scalar",
    "string",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function parity: case-fold/substr/length/concat/replace/
    trim/instr. name_upper is the ASCII fold (operators/text.py
    ascii_upper) — native upper() on arbitrary text is runtime-dependent
    (SpecialCasing vs simple maps); the enum c_mktsegment keeps the
    native lower() demo where every runtime agrees."""
    from etl_file_sync_spark.operators.text import ascii_upper

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    return c.select(
        "c_custkey",
        ascii_upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit(" "))).alias("name_trim"),
        F.instr(F.col("c_name"), "#").alias("hash_pos"),
    ).orderBy("c_custkey")


@register(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(extract(month FROM o_orderdate) AS INTEGER) AS o_month,
           CAST(extract(day FROM o_orderdate) AS INTEGER) AS o_day,
           CAST(extract(dow FROM o_orderdate) AS INTEGER) AS o_dow,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since_epoch_start
    FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey
    """,
    "scalar",
    "date",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function parity: extract/trunc/add/diff.

    Note DuckDB `dow` is 0=Sunday; Spark `dayofweek` is 1=Sunday — aligned
    by subtracting 1.
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        (F.dayofweek("o_orderdate") - 1).alias("o_dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias("days_since_epoch_start"),
    ).orderBy("o_orderkey")


@register(
    "scalar_math_funcs",
    """
    SELECT p_partkey,
           round(abs(p_retailprice - 1000.0), 2) AS abs_dev,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           round(sqrt(p_retailprice), 4) AS price_sqrt,
           round(ln(p_retailprice), 6) AS price_ln,
           round(pow(p_size, 2), 1) AS size_sq,
           CAST(p_size % 5 AS INTEGER) AS size_mod,
           CAST(greatest(p_size, 25) AS INTEGER) AS size_hi,
           CAST(least(p_size, 25) AS INTEGER) AS size_lo
    FROM part WHERE p_partkey <= 100 ORDER BY p_partkey
    """,
    "scalar",
    "math",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function parity: abs/ceil/floor/sqrt/ln/pow/mod/greatest/least."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.round(F.abs(F.col("p_retailprice") - 1000.0), 2).alias("abs_dev"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        F.round(F.sqrt("p_retailprice"), 4).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.pow("p_size", F.lit(2)), 1).alias("size_sq"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.greatest("p_size", F.lit(25)).alias("size_hi"),
        F.least("p_size", F.lit(25)).alias("size_lo"),
    ).orderBy("p_partkey")


@register(
    "scalar_case_buckets",
    """
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'medium'
                ELSE 'large' END AS size_class,
           o_orderstatus,
           count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY size_class, o_orderstatus
    """,
    "scalar",
    "case",
)
def scalar_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing feeding an aggregation."""
    o = t(spark, sf_dir, "orders")
    size_class = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        o.withColumn("size_class", size_class)
        .groupBy("size_class", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


@register(
    "scalar_json_extract",
    f"""
    WITH x AS (
      -- mirror of the engine's lenient JSON int extraction: malformed
      -- JSON yields NULL (json_valid guard; DuckDB's
      -- json_extract_string ERRORS where Jackson returns NULL) and the
      -- extracted string casts under the shared numeric-string grammar
      -- convention (functions/numcast.py: grammar-match, double parse,
      -- trunc toward zero; junk/boolean/overflow -> NULL — neither
      -- engine's NATIVE cast matches the other at the edges)
      SELECT event_type,
             CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS ks
      FROM events
    ),
    k AS (
      SELECT event_type,
             {num_int_sql('ks')} AS k
      FROM x
    )
    SELECT event_type,
           count(*) AS n_events,
           round(avg(k), 4) AS avg_k,
           CAST(max(k) AS INTEGER) AS max_k
    FROM k GROUP BY event_type
    """,
    "scalar",
    "json",
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props payload column.

    Mirrors the reference's json.loads surface (message.py:69) as a
    vectorized JVM expression instead of per-row Python. get_json_object
    is LENIENT — malformed payloads, wrong-typed values, non-integral
    number strings and out-of-range integers all yield NULL, never an
    error (the don't-kill-the-job posture; the JSON-poked tier
    tests/test_tiers.py pins this against the guarded oracle).
    The int coercion is the shared numeric-string grammar convention
    (functions/numcast.py), not the engine-native cast, so both
    engines agree at the edges ('1e3' -> 1000, '1d'/junk -> NULL).
    """
    from etl_file_sync_spark.catalog import estimated_scan_tasks

    e = t(spark, sf_dir, "events").select("event_type", "props")
    # The JSON parse + grammar regex is per-row CPU; when the scan
    # cannot feed enough tasks (single-row-group bench files), spread
    # the 2-column projection across the cores first. Conditional on
    # the ESTIMATED scan split count, so at cluster scale (thousands
    # of splits) no shuffle is ever added. Interleaved A/B at sf0.1:
    # 1.26 -> 0.44 s min-of-4. Aggregation values are order-exact
    # (integer counts/max; one avg division at the end).
    cpus = spark.sparkContext.defaultParallelism
    if estimated_scan_tasks(sf_dir, "events") < cpus:
        e = e.repartition(cpus)
    k = num_str_int(F.get_json_object("props", "$.k"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )
