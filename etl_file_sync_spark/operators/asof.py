"""As-of join — Spark lacks a native one; composed from a union + window.

Technique (the shuffle-minimal classic): tag both sides, union on a
common schema, sort within (key, time) partitions, and carry the most
recent right-side row forward with last(..., ignorenulls=True) over an
unbounded-preceding window. ONE shuffle on the join key total — same cost
as a sort-merge join, versus the naive theta-join's O(n·m) explosion.

Directions mirror pandas merge_asof: backward (latest right at or before
the left time), forward (earliest right at or after), nearest (whichever
of the two is closer; backward wins exact ties). `tolerance` bounds the
match gap — a stale quote older than the tolerance is no match at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_vals: list[str],
    direction: str = "backward",
    tolerance=None,
) -> DataFrame:
    """For each left row, attach the matching right row's `right_vals`
    per `direction` (null when no match). A right row at the left row's
    own time matches in every direction. `tolerance` (a Column-
    compatible duration in the time column's own units, e.g.
    F.expr("INTERVAL 5 MINUTES") for timestamps or a plain number for
    numeric times) discards matches whose |gap| exceeds it.

    Still ONE shuffle on the join key for every direction: forward is
    the time-mirrored window, nearest overlays both passes and picks the
    smaller gap per row.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward/forward/nearest, got {direction!r}")

    # _rt (the matched right timestamp) is only consumed by the nearest
    # overlay and the tolerance filter; the default backward/forward
    # no-tolerance path skips carrying it through the window entirely.
    need_rt = tolerance is not None or direction == "nearest"

    lt = F.col(left_time)
    l_tagged = left.withColumn("_t", lt).withColumn("_side", F.lit(1))
    for c in right_vals:
        l_tagged = l_tagged.withColumn(f"_rv_{c}", F.lit(None).cast(right.schema[c].dataType))
    r_cols = [
        F.col(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_rv_{c}") for c in right_vals],
    ]
    if need_rt:
        l_tagged = l_tagged.withColumn("_rt", F.lit(None).cast(right.schema[right_time].dataType))
        r_cols.append(F.col(right_time).alias("_rt"))
    r_tagged = right.select(*r_cols)
    for c in left.columns:
        if c not in (on,):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tagged.select(r_tagged.columns).unionByName(r_tagged.select(r_tagged.columns))

    # _side: left=1, right=0. A right row at equal _t IS visible, so
    # backward sorts right before left at ties (ascending _side) and
    # forward mirrors it.
    carry = [f"_rv_{c}" for c in right_vals] + (["_rt"] if need_rt else [])

    def _carried(frame, back: bool, suffix: str):
        if back:
            order = [F.col("_t").asc(), F.col("_side")]
            w = W.partitionBy(on).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
            agg = lambda c: F.last(c, ignorenulls=True).over(w)  # noqa: E731
        else:
            order = [F.col("_t").asc(), 1 - F.col("_side")]
            w = W.partitionBy(on).orderBy(*order).rowsBetween(0, W.unboundedFollowing)
            agg = lambda c: F.first(c, ignorenulls=True).over(w)  # noqa: E731
        for c in carry:
            frame = frame.withColumn(f"{c}{suffix}", agg(c))
        return frame

    if direction == "backward":
        filled = _carried(unioned, True, "")
    elif direction == "forward":
        filled = _carried(unioned, False, "")
    else:  # nearest: overlay both passes, pick the smaller |gap|
        filled = _carried(_carried(unioned, True, "_b"), False, "_f")
        gap_b = F.col("_t") - F.col("_rt_b")
        gap_f = F.col("_rt_f") - F.col("_t")
        use_b = F.col("_rt_f").isNull() | (F.col("_rt_b").isNotNull() & (gap_b <= gap_f))
        for c in carry:
            filled = filled.withColumn(c, F.when(use_b, F.col(f"{c}_b")).otherwise(F.col(f"{c}_f")))

    if tolerance is not None:
        tol = tolerance if isinstance(tolerance, F.Column) else F.lit(tolerance)
        gap = F.when(F.col("_rt") <= F.col("_t"), F.col("_t") - F.col("_rt")).otherwise(
            F.col("_rt") - F.col("_t")
        )
        ok = F.col("_rt").isNotNull() & (gap <= tol)
        for c in right_vals:
            filled = filled.withColumn(f"_rv_{c}", F.when(ok, F.col(f"_rv_{c}")))

    out_cols = [c for c in left.columns] + [F.col(f"_rv_{c}").alias(c) for c in right_vals]
    return filled.filter(F.col("_side") == 1).select(*out_cols)
