"""Advanced SQL-surface queries: recursive CTE graph traversal and
mergeable-sketch (Apache DataSketches HLL) aggregation lifecycles.

Recursive CTEs landed in Spark 4.0 (SPARK-24497); the BFS below runs the
SAME recursive SQL text in Spark and in the DuckDB oracle — only the
edge-table CTE differs (Spark reads a registered temp view built by the
exact-Jaccard operator, DuckDB restates the shingle math inline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import local_rows_df

from etl_file_sync_spark.functions.numcast import num_int_sql, num_str_int
from etl_file_sync_spark.operators.dedup import jaccard_oracle_ctes
from etl_file_sync_spark.queries.registry import register, t

# multi-source BFS over the undirected near-dup graph, bounded at 6 hops;
# min(hop) per (src, node) collapses revisits from cyclic walks
_BFS_SQL = """
    WITH RECURSIVE
    edges AS (
      SELECT id_a AS u, id_b AS v FROM nd_edges
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM nd_edges
    ),
    walk(src, node, hop) AS (
      SELECT u, u, 0 FROM (SELECT DISTINCT u FROM edges)
      UNION ALL
      SELECT w.src, e.v, w.hop + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.hop < 6
    )
    SELECT src, node, CAST(min(hop) AS INTEGER) AS hops
    FROM walk
    WHERE src < node
    GROUP BY src, node
    ORDER BY src, node
"""

# restates jaccard_pairs INCLUDING the stop-shingle cut (shared oracle
# spelling, operators/dedup.py jaccard_oracle_ctes). The cut is doubly
# load-bearing here: a cut-less oracle on a boilerplate-heavy corpus
# builds a near-complete edge graph and the UNION ALL walk below then
# enumerates ~n^6 paths — the constant-text degenerate tier hung exactly
# this way before the mirror.
_EDGES_ORACLE = f"""
    nd_edges AS (
      WITH {jaccard_oracle_ctes(0.5)}
      SELECT id_a, id_b FROM jpairs
    )
"""


@register(
    "sql_recursive_bfs_pairs",
    "WITH RECURSIVE " + _EDGES_ORACLE.strip().rstrip() + ",\n"
    + _BFS_SQL.replace("WITH RECURSIVE", "", 1).strip(),
    "sql",
    "recursive-cte",
    "graph",
)
def sql_recursive_bfs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise hop distance inside near-dup clusters via a Spark
    recursive CTE (multi-source BFS over the exact-Jaccard edge graph,
    6-hop bound) — the transitive-chaining diagnostic for dedup: hops>1
    means two docs are merged only through intermediates.

    The recursion is the SQL-surface parity demo; its UNION ALL walk
    enumeration is exponential in clique degree, so the 100 TB path for
    whole-corpus components stays operators/cluster.py (large/small-star
    contraction). At this SF the generator plants isolated dup PAIRS
    (every output row is hops=1); multi-hop traversal is proven on a
    planted chain in tests/test_recursive.py, and
    sql_recursive_hierarchy below exercises 5 recursion levels on
    organic data."""
    from etl_file_sync_spark.operators.dedup import jaccard_pairs

    # every recursion round scans the edge view: checkpoint it eagerly so
    # the rounds read the materialized pairs, not the jaccard_pairs plan
    edges = jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5).select("id_a", "id_b")
    edges.localCheckpoint(eager=True).createOrReplaceTempView("nd_edges")
    return spark.sql(_BFS_SQL)


@register("agg_hll_lifecycle", None, "agg", "sketch", "hll", "datasketches")
def agg_hll_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch lifecycle (Apache DataSketches HLL, Spark 4
    built-ins): per-(event_type, week) user sketches built with
    hll_sketch_agg, rolled up with hll_union_agg to per-type totals —
    the 100 TB cardinality pattern: sketches build map-side, merge
    associatively across any re-aggregation level, and never re-scan
    source data. Engine-specific binary sketches ⇒ rows-only driver
    check; estimate accuracy vs exact distinct counts is asserted in
    tests/test_sketches.py.

    Output: (event_type, n_weeks, est_users_union, exact_users) — the
    union estimate next to the exact count it approximates."""
    ev = t(spark, sf_dir, "events")
    weekly = (
        ev.groupBy("event_type", F.weekofyear("ts").alias("week"))
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    rolled = weekly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("est_users_union"),
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("exact_users"))
    return rolled.join(exact, "event_type").orderBy("event_type")


@register("agg_approx_top_k", None, "agg", "sketch", "topk")
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4 frequent-items sketch) over the corpus token
    stream — the sketch answer to "most common tokens" that never holds
    the full term dictionary per task. Engine-specific tie handling ⇒
    rows-only; agreement with the exact top-k is asserted in
    tests/test_sketches.py. Output: (term, cnt) for the top 10."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("term")).where(F.length("term") > 0)
    return (
        toks.agg(F.expr("approx_top_k(term, 10)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("term"), F.col("e.count").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
    )


_HIER_SQL = """
    WITH RECURSIVE anc(anc_key, leaf_key, cents) AS (
      SELECT c_custkey, c_custkey, cents FROM cust_cents
      UNION ALL
      -- parent(k) = the decimal-string prefix, computed EXACTLY at any
      -- magnitude: floor(k / 10.0) detours through a double, which is
      -- inexact above 2^53 and lands in the engines' differing
      -- double->int cast semantics (extreme-id tier, 2^62 keys)
      SELECT CASE WHEN anc_key <= 9 THEN CAST(0 AS BIGINT)
                  ELSE CAST(substr(CAST(anc_key AS STRING), 1,
                            length(CAST(anc_key AS STRING)) - 1) AS BIGINT)
             END, leaf_key, cents
      FROM anc WHERE anc_key > 0
    )
    SELECT anc_key, CAST(count(*) AS BIGINT) AS n_desc,
           CAST(sum(cents) AS BIGINT) AS subtree_cents
    FROM anc
    GROUP BY anc_key
    HAVING count(*) > 1
    ORDER BY anc_key
"""


@register(
    "sql_recursive_hierarchy",
    "WITH RECURSIVE cust_cents AS (\n"
    "  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer\n"
    "),\n" + _HIER_SQL.replace("WITH RECURSIVE", "", 1).strip(),
    "sql",
    "recursive-cte",
    "hierarchy",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a decimal-prefix hierarchy (parent(k) =
    floor(k/10)) of all customers — the BOM/org-chart recursive-CTE
    pattern, 5 recursion levels deep on organic keys, aggregating
    integer-cent balances bottom-up. Same recursive SQL text runs in
    Spark (4.0+ WITH RECURSIVE) and the DuckDB oracle; each level is
    one self-join the engine plans as an ordinary equi-join, so depth,
    not fan-out, bounds the stage count at scale."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents")
    )
    cust.createOrReplaceTempView("cust_cents")
    return spark.sql(_HIER_SQL)


_LATERAL_SQL = """
    SELECT r.r_name, t.n_name, t.bal
    FROM region r,
    LATERAL (
      SELECT n.n_name, CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY bal DESC, n_name
      LIMIT 2
    ) t
    ORDER BY r_name, bal DESC, n_name
"""


@register("sql_lateral_topn", _LATERAL_SQL, "sql", "lateral", "correlated")
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY/LIMIT: top-2
    nations by customer balance inside each region — the SQL spelling of
    top-k-per-group. Identical SQL text runs in both engines (integer
    cents keep the sums exact); Catalyst decorrelates the lateral into a
    window-rank plan rather than re-executing per outer row."""
    from etl_file_sync_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "join_null_safe",
    """
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 5 AS BIGINT) END AS bucket_key
      FROM orders WHERE o_orderkey <= 2000
    ),
    b AS (
      SELECT CAST(k AS BIGINT) AS bucket_key, lbl FROM (VALUES
        (0, 'zero'), (1, 'one'), (2, 'two'), (3, 'three'), (4, 'four'),
        (NULL, 'missing')) v(k, lbl)
    )
    SELECT b.lbl, CAST(count(a.o_orderkey) AS BIGINT) AS n_orders
    FROM a JOIN b ON a.bucket_key IS NOT DISTINCT FROM b.bucket_key
    GROUP BY b.lbl ORDER BY b.lbl
    """,
    "join",
    "null-safe",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys match
    the NULL dimension row instead of silently dropping — the lookup
    semantics a curation pipeline wants for 'unknown' buckets. Spark
    plans eqNullSafe as an ordinary hash join key (NULLs hash like any
    value), so this stays a broadcast join, not a nested loop."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("bigint"))
        .otherwise((F.col("o_orderkey") % 5).cast("bigint"))
        .alias("bucket_key"),
    )
    b = local_rows_df(
        spark,
        [(0, "zero"), (1, "one"), (2, "two"), (3, "three"), (4, "four"), (None, "missing")],
        "bucket_key bigint, lbl string",
    )
    return (
        a.join(F.broadcast(b), a["bucket_key"].eqNullSafe(b["bucket_key"]))
        .groupBy("lbl")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("lbl")
    )


@register(
    "scalar_variant_ops",
    f"""
    WITH x AS (
      -- json_valid guard: DuckDB json functions ERROR on malformed
      -- input where try_parse_json yields a NULL variant
      SELECT event_id,
             CASE WHEN json_valid(props) THEN props END AS p
      FROM events WHERE event_id < 500
    ),
    s AS (
      SELECT event_id,
             json_extract_string(p, '$.k') AS ks,
             json_extract_string(p, '$.missing') AS ms,
             CASE WHEN json_type(p) = 'OBJECT' THEN 'OBJECT' END AS vtype
      FROM x
    )
    SELECT event_id,
           -- shared numeric-string grammar convention (numcast.py):
           -- trim control chars, grammar-match, parse double, trunc;
           -- neither engine's native cast survives the poked tier
           {num_int_sql('ks')} AS k_val,
           vtype,
           {num_int_sql('ms')} AS absent_path
    FROM s ORDER BY event_id
    """,
    "scalar",
    "variant",
    "semi-structured",
)
def scalar_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured columns (Spark 4): try_parse_json once
    into a variant, then typed variant_get path extraction — the
    open-format answer to schema-on-read JSON that keeps a binary
    columnar encoding instead of re-parsing strings per access. TRY
    semantics throughout (the don't-kill-the-job posture): malformed
    payloads parse to a NULL variant, missing paths and wrong-typed
    values extract to NULL, never an error — plain parse_json would
    abort the whole 100 TB job on the first truncated producer write
    (the JSON-poked tier in tests/test_tiers.py pins this). Values
    extract as string and cast under the shared numeric-string grammar
    convention (functions/numcast.py: '12.7' -> 12, '1e3' -> 1000;
    boolean/junk/overflow -> NULL) so both engines agree on every
    poked payload, including VARIANT's exact-decimal rendering where
    Jackson would emit Java E-notation. Oracle restates the paths with
    json_valid-guarded DuckDB JSON functions over the raw string."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    v = ev.select("event_id", F.expr("try_parse_json(props)").alias("v"))
    return v.select(
        "event_id",
        num_str_int(F.expr("try_variant_get(v, '$.k', 'string')")).alias("k_val"),
        F.expr("schema_of_variant(v)").startswith("OBJECT").alias("_is_obj"),
        num_str_int(F.expr("try_variant_get(v, '$.missing', 'string')")).alias("absent_path"),
    ).select(
        "event_id",
        "k_val",
        F.when(F.col("_is_obj"), "OBJECT").alias("vtype"),
        "absent_path",
    ).orderBy("event_id")


@register(
    "sql_group_order_by_all",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    "sql",
    "group-by-all",
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB share the exact
    same SQL text — the analyst-ergonomics surface where every
    non-aggregate select item becomes a grouping key and the full
    select list becomes the sort key). Same physical plan as the
    explicit spelling: one partial-aggregated exchange."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )
