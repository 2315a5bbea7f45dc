"""Distributed order statistics: global ranks / running sums / running
maxima without a single-partition window.

A bare ``Window.orderBy(v)`` (no partitionBy) funnels the whole table
through ONE task — the classic Spark scale cliff for rank statistics
(Mann-Whitney, Kolmogorov-Smirnov, ECDFs, balanced sharding). Every
function here is the same two-phase plan instead, built from two helpers:

1. :func:`_buckets` caches the input and makes the call's ONE driver
   action: a one-row aggregate of ``percentile_approx`` boundaries per
   order column, NULL counts per order/group column and the row count.
   NULL keys raise right there, before any plan runs. A row's bucket is
   the number of boundaries strictly below its key, so equal keys never
   straddle buckets and bucket order follows key order.
2. :func:`_offsets` aggregates the per-(group, bucket) totals (at most
   ``n_groups * n_buckets`` rows) and turns them into exclusive running
   offsets with a window over the bucket id. The caller broadcast-joins
   them back — the offsets stay a JVM-only branch of the returned plan,
   no driver round trip — and a window PARTITIONED BY bucket finishes
   the job: global figure = bucket offset + within-bucket figure.

Bucket boundaries affect only the partitioning, never the arithmetic, so
integer outputs are identical for any bucketing (double sums only
reassociate at bucket edges). Each bucket holds ~1/n_buckets of the rows,
so the per-bucket window is shuffle-balanced and spill-safe at any scale;
callers that rank distinct values of an aggregate (the rank-test pattern)
additionally shrink the frame before the window ever runs.

The input is cached because the boundary probe, the offsets branch and
the final window all read it; callers/bench own ``clearCache()``, the
same lifecycle convention as the dedup shingle caches.

The rank-test pieces the statistics faces share sit on top:
:func:`midranked` and :func:`group_rank_sums` (midranks of a
pre-aggregated count frame, via :func:`avg_ranks`), :func:`tie_sum`
(the tie-correction numerator) and :func:`window_midrank`, a plain
window midrank for frames that are bounded by construction (blocks, a
calendar series), never row-grain data.

The reference pipeline has no analytics surface (SURVEY.md §2.2); this
is engine-only scale infrastructure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_file_sync_spark.localrel import sql_double

_BUCKET = "__rs_bucket"


def _buckets(
    df: DataFrame, order_cols: list[str], n_buckets: int, group_cols=()
) -> tuple[DataFrame, list[Column], int]:
    """Cache ``df`` and run the call's one driver action; returns the
    cached frame, one bucket-id Column per order column and the row count.

    The bucket id is ONE ``F.expr`` sum of ``CAST(key > bound AS INT)``
    terms (a Column-op spelling costs py4j round trips per bound), each
    bound spelled by :func:`sql_double`, which parses finite, ±inf and
    NaN boundaries alike."""
    src = df.cache()
    probs = ", ".join(f"{i / n_buckets!r}D" for i in range(1, n_buckets))
    exprs = ["count(1) AS n"]
    for i, c in enumerate(order_cols):
        exprs.append(f"count_if(`{c}` IS NULL) AS o{i}")
        if probs:
            exprs.append(f"percentile_approx(CAST(`{c}` AS DOUBLE), array({probs}), 1000) AS q{i}")
    exprs += [f"count_if(`{g}` IS NULL) AS g{j}" for j, g in enumerate(group_cols)]
    row = src.selectExpr(*exprs).collect()[0]
    if any(row[f"g{j}"] for j in range(len(group_cols))):
        raise ValueError(
            f"rankstats: NULL values in group columns {list(group_cols)!r}; filter them first"
        )
    buckets = []
    for i, c in enumerate(order_cols):
        bounds = sorted(set(row[f"q{i}"] or [])) if probs else []
        if row[f"o{i}"] and bounds:
            # a NULL key gets a NULL bucket and would silently drop at the
            # offsets join — refuse. With no boundaries (an all-NULL key
            # column) every row shares bucket 0 and nothing drops.
            raise ValueError(f"rankstats: NULL values in order column {c!r}; filter them first")
        terms = "".join(f" + CAST(CAST(`{c}` AS DOUBLE) > {sql_double(b)} AS INT)" for b in bounds)
        buckets.append(F.expr(f"0{terms}"))
    return src, buckets, row["n"]


def _offsets(b: DataFrame, keys: list[str], totals: dict[str, Column], combine) -> DataFrame:
    """Per-(group, bucket) ``totals`` turned into exclusive running
    ``combine`` (``F.sum`` or ``F.max``) offsets in bucket order within
    each group; ``keys`` is ``[*group_cols, bucket_col]``. At most
    n_groups * n_buckets rows — meant for a broadcast join. An empty
    prefix sums to 0 and maxes to NULL."""
    *groups, bucket = keys
    win = Window.partitionBy(*groups).orderBy(bucket).rowsBetween(Window.unboundedPreceding, -1)
    offs = {n: combine(n).over(win) for n in totals}
    if combine is F.sum:
        offs = {n: F.coalesce(o, F.lit(0)) for n, o in offs.items()}
    t = b.groupBy(*keys).agg(*[c.alias(n) for n, c in totals.items()])
    return t.select(*keys, *[o.alias(n) for n, o in offs.items()])


def bucketed_cumsums(
    df: DataFrame,
    order_col: str,
    weight_cols: list[str],
    inclusive: bool = True,
    n_buckets: int = 32,
) -> DataFrame:
    """Global running sum of each weight column over rows ordered by
    ``order_col`` (ascending, keys assumed distinct — aggregate first),
    as new columns ``cum_<w>``. ``inclusive=False`` gives the exclusive
    prefix (sum over strictly-smaller keys)."""
    src, (bucket,), _ = _buckets(df, [order_col], n_buckets)
    b = src.withColumn(_BUCKET, bucket)
    offs = {f"__off_{w}": F.sum(w) for w in weight_cols}
    win = (
        Window.partitionBy(_BUCKET)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return (
        b.join(F.broadcast(_offsets(b, [_BUCKET], offs, F.sum)), _BUCKET)
        .withColumns(
            {
                f"cum_{w}": F.coalesce(F.sum(w).over(win), F.lit(0)) + F.col(f"__off_{w}")
                for w in weight_cols
            }
        )
        .drop(_BUCKET, *offs)
    )


def grouped_bucketed_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    weight_col: str,
    out_col: str = "cum",
    n_buckets: int = 32,
) -> DataFrame:
    """Per-group global running sum of ``weight_col`` over rows ordered
    by ``order_col`` ascending (keys assumed distinct WITHIN a group —
    aggregate first), without a single-partition-per-group window.

    Same two-phase plan as :func:`bucketed_cumsums` but the offsets are
    prefix-summed independently per group, so a group whose rows span
    every time bucket still never funnels through one task. The offsets
    frame is ``n_groups * n_buckets`` rows — callers must only use this
    with a BOUNDED group cardinality (an enum-like column such as
    event_type, not a user id)."""
    src, (bucket,), _ = _buckets(df, [order_col], n_buckets, group_cols)
    b = src.withColumn(_BUCKET, bucket)
    keys = [*group_cols, _BUCKET]
    off = _offsets(b, keys, {"__off": F.sum(weight_col)}, F.sum)
    win = Window.partitionBy(*keys).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return (
        b.join(F.broadcast(off), keys)
        .withColumn(out_col, F.sum(weight_col).over(win) + F.col("__off"))
        .drop(_BUCKET, "__off")
    )


def bucketed_cummax(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cummax",
    inclusive: bool = True,
    n_buckets: int = 32,
) -> DataFrame:
    """Global running MAX of ``value_col`` over rows ordered by
    ``order_col`` ascending (keys assumed distinct — aggregate first),
    without a single-partition window. ``inclusive=False`` gives the
    strict prefix (max over strictly-smaller keys; NULL when none) —
    the building block for distributed 2-D skyline membership.

    Same two-phase plan as :func:`bucketed_cumsums`: max is associative,
    so per-bucket maxima prefix-combine into bucket offsets."""
    src, (bucket,), _ = _buckets(df, [order_col], n_buckets)
    b = src.withColumn(_BUCKET, bucket)
    off = _offsets(b, [_BUCKET], {"__off": F.max(value_col)}, F.max)
    win = (
        Window.partitionBy(_BUCKET)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return (
        b.join(F.broadcast(off), _BUCKET)
        .withColumn(out_col, F.greatest(F.max(value_col).over(win), F.col("__off")))
        .drop(_BUCKET, "__off")
    )


def bucketed_row_number(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str] | None = None,
    out_col: str = "rn",
    n_buckets: int = 32,
) -> DataFrame:
    """Global 1-based ``row_number`` ordered by ``(order_col,
    *tiebreak_cols)`` ascending, without a single-partition window."""
    return bucketed_row_numbers(df, [(order_col, tiebreak_cols or [], out_col)], n_buckets)


def bucketed_row_numbers(
    df: DataFrame,
    specs: list[tuple[str, list[str], str]],
    n_buckets: int = 32,
    return_count: bool = False,
):
    """Several global row_numbers over the SAME frame, layered without
    re-joining: ``specs`` is a list of (order_col, tiebreak_cols,
    out_col); the result is ``df`` plus every out_col.

    Output-identical to calling :func:`bucketed_row_number` once per
    spec and equi-joining the results back on a unique key, but the
    boundary probe is one driver action for all rankings, and the
    rankings are layered as successive windows on one cached frame, so
    the per-ranking equi-joins (a shuffle of the frame per ranking at
    scale) disappear entirely.

    ``return_count=True`` returns ``(frame, n_rows)`` — the exact row
    count the probe already computed — so callers that need the total
    (quintile = ((rn-1)*k) div n) spell it as a literal instead of
    paying their own count action + broadcast-join dimension.
    """
    src, buckets, n_rows = _buckets(df, [o for o, _, _ in specs], n_buckets)
    keys = [f"{_BUCKET}{i}" for i in range(len(specs))]
    b = src.withColumns(dict(zip(keys, buckets)))
    out = b
    for key, (order_col, tiebreak_cols, out_col) in zip(keys, specs):
        off = _offsets(b, [key], {"__off": F.count(F.lit(1))}, F.sum)
        win = Window.partitionBy(key).orderBy(order_col, *tiebreak_cols)
        out = (
            out.join(F.broadcast(off), key)
            .withColumn(out_col, F.row_number().over(win) + F.col("__off"))
            .drop("__off")
        )
    out = out.drop(*keys)
    return (out, n_rows) if return_count else out


def avg_ranks(
    df: DataFrame, value_col: str, count_col: str, n_buckets: int = 32
) -> DataFrame:
    """Midrank (average tied rank) per distinct value: input is the
    pre-aggregated ``(value, count)`` frame; output adds ``avg_rank`` =
    exclusive-prefix(count) + (count+1)/2. Halves are binary-exact, so
    downstream rank sums are bit-reproducible in any summation order."""
    out = bucketed_cumsums(df, value_col, [count_col], inclusive=False, n_buckets=n_buckets)
    return out.withColumn(
        "avg_rank",
        F.col(f"cum_{count_col}") + (F.col(count_col) + F.lit(1)) / F.lit(2.0),
    ).drop(f"cum_{count_col}")


def midranked(g: DataFrame, value_col: str) -> tuple[DataFrame, DataFrame]:
    """Midranks of a pre-aggregated ``(..., value, c)`` count frame:
    returns the ``(value, cnt)`` frame of per-value totals (tie
    corrections read it) and ``g`` with each row's ``avg_rank``."""
    vals = g.groupBy(value_col).agg(F.sum("c").cast("bigint").alias("cnt"))
    ranked = avg_ranks(vals, value_col, "cnt")
    return vals, g.join(ranked.select(value_col, "avg_rank"), value_col)


def group_rank_sums(g: DataFrame, group_col: str) -> tuple[DataFrame, DataFrame]:
    """Rank sums of a ``(group, v, c)`` count frame: returns the
    ``(v, cnt)`` frame and per group its size ``n`` and midrank sum
    ``rank_sum`` (half-integers, exact in any summation order)."""
    vals, r = midranked(g, "v")
    return vals, r.groupBy(group_col).agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("avg_rank")).alias("rank_sum"),
    )


def tie_sum() -> Column:
    """Aggregate over a ``(v, cnt)`` frame: sum(t^3 - t) over the tie
    sizes, the numerator of the rank-test tie corrections."""
    return F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast("double")


def window_midrank(value_col: str, *partition_cols: str) -> Column:
    """Midrank of ``value_col`` within its window partition:
    #(<= v) - #(= v) + (#(= v) + 1) / 2. Meant for bounded partitions
    (blocks, a calendar series), never row-grain data."""
    w_leq = Window.partitionBy(*partition_cols).orderBy(value_col).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cnt_leq = F.count(F.lit(1)).over(w_leq)
    cnt_eq = F.count(F.lit(1)).over(Window.partitionBy(*partition_cols, value_col))
    return (cnt_leq - cnt_eq) + (cnt_eq + 1) / F.lit(2.0)
