"""Unit tests for the distributed two-phase rank machinery
(operators/rankstats.py): output must equal the naive global-window
answer regardless of bucketing, including ties, tiny inputs, and
fewer-distinct-values-than-buckets inputs."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.rankstats import (
    avg_ranks,
    bucketed_cummax,
    bucketed_cumsums,
    bucketed_row_number,
    bucketed_row_numbers,
    grouped_bucketed_cumsum,
)


def _values_df(spark):
    # deterministic, with heavy ties and a skewed tail
    rows = [(float(i % 17), i) for i in range(500)] + [(999.5, 10_000 + i) for i in range(20)]
    return spark.createDataFrame(rows, ["v", "id"])


def test_row_number_matches_global_window(spark):
    df = _values_df(spark)
    got = bucketed_row_number(df, "v", ["id"], out_col="rn", n_buckets=8)
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    g = {(r["v"], r["id"]): r["rn"] for r in got.collect()}
    w = {(r["v"], r["id"]): r["rn"] for r in want.collect()}
    assert g == w


def test_row_number_handles_fewer_values_than_buckets(spark):
    df = spark.createDataFrame([(1.0, 1), (1.0, 2), (2.0, 3)], ["v", "id"])
    got = sorted(
        (r["id"], r["rn"])
        for r in bucketed_row_number(df, "v", ["id"], n_buckets=32).collect()
    )
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_cumsums_match_global_window(spark):
    df = (
        _values_df(spark)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("id").alias("s"))
    )
    got = bucketed_cumsums(df, "v", ["c", "s"], inclusive=True, n_buckets=8)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum_c", F.sum("c").over(w)).withColumn(
        "cum_s", F.sum("s").over(w)
    )
    g = {r["v"]: (r["cum_c"], r["cum_s"]) for r in got.collect()}
    e = {r["v"]: (r["cum_c"], r["cum_s"]) for r in want.collect()}
    assert g == e


def test_cumsums_exclusive_prefix(spark):
    df = spark.createDataFrame([(1.0, 5), (2.0, 7), (3.0, 11)], ["v", "c"])
    got = {
        r["v"]: r["cum_c"]
        for r in bucketed_cumsums(df, "v", ["c"], inclusive=False, n_buckets=2).collect()
    }
    assert got == {1.0: 0, 2.0: 5, 3.0: 12}


def test_avg_ranks_match_pandas_average_method(spark):
    raw = [1.0, 1.0, 2.0, 3.0, 3.0, 3.0, 7.5, 7.5, 9.0]
    pdf = pd.DataFrame({"v": raw})
    expected = (
        pdf.assign(r=pdf["v"].rank(method="average")).groupby("v")["r"].first().to_dict()
    )
    df = (
        spark.createDataFrame([(v,) for v in raw], ["v"])
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    got = {r["v"]: r["avg_rank"] for r in avg_ranks(df, "v", "c", n_buckets=4).collect()}
    assert got == expected


def _per_value(df):
    """(v, c, s, m): distinct order keys with integer weights."""
    return df.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("id").alias("s"), F.max("id").alias("m")
    )


# one call per public function over the raw (v, id) frame; ``nb`` is the
# bucket count. Integer weights only, so outputs are exact.
_PUBLIC = {
    "bucketed_cumsums": lambda df, nb: bucketed_cumsums(
        _per_value(df), "v", ["c", "s"], inclusive=False, n_buckets=nb
    ),
    "grouped_bucketed_cumsum": lambda df, nb: grouped_bucketed_cumsum(
        df.groupBy((F.col("id") % 3).alias("g"), "v").agg(F.sum("id").alias("w")),
        ["g"], "v", "w", n_buckets=nb,
    ),
    "bucketed_cummax": lambda df, nb: bucketed_cummax(
        _per_value(df), "v", "m", inclusive=False, n_buckets=nb
    ),
    "bucketed_row_number": lambda df, nb: bucketed_row_number(
        df, "v", ["id"], n_buckets=nb
    ),
    "bucketed_row_numbers": lambda df, nb: bucketed_row_numbers(
        df.withColumn("u", -F.col("id")),
        [("v", ["id"], "rn_v"), ("u", [], "rn_u")],
        n_buckets=nb,
    ),
    "avg_ranks": lambda df, nb: avg_ranks(_per_value(df), "v", "c", n_buckets=nb),
}


@pytest.mark.parametrize("fn", sorted(_PUBLIC))
def test_bucket_count_independence(spark, fn):
    """Boundaries shift with n_buckets; outputs must not."""
    df = _values_df(spark)
    a = sorted(tuple(r) for r in _PUBLIC[fn](df, 2).collect())
    b = sorted(tuple(r) for r in _PUBLIC[fn](df, 32).collect())
    assert a == b and len(a) > 0


@pytest.mark.parametrize("fn", sorted(_PUBLIC))
def test_one_driver_action_per_call(spark, monkeypatch, fn):
    """Building any rankstats function makes exactly ONE driver call
    (the boundary probe); the offsets stay inside the returned plan."""
    from pyspark.sql.classic.dataframe import DataFrame, DataFrameStatFunctions

    df = _values_df(spark)
    calls = []
    for cls, name in ((DataFrame, "collect"), (DataFrameStatFunctions, "approxQuantile")):
        orig = getattr(cls, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            calls.append(_name)
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, counted)
    _PUBLIC[fn](df, 8)
    assert calls == ["collect"]


def test_nonfinite_order_keys_match_global_window(spark):
    """±inf and NaN keys become ±inf/NaN bucket boundaries; the buckets
    must still follow Spark's key order (NaN sorts last)."""
    inf, nan = math.inf, math.nan
    keys = [-inf, -2.5, 0.0, 1.0, 7.0, inf, nan]
    distinct = spark.createDataFrame(
        [(v, i, i * 3 - 7) for i, v in enumerate(keys)], "v double, id long, w long"
    )
    w_incl = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_excl = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)

    got = bucketed_cumsums(distinct, "v", ["w"], inclusive=False, n_buckets=8)
    want = distinct.withColumn("cum_w", F.coalesce(F.sum("w").over(w_excl), F.lit(0)))
    assert {r["id"]: r["cum_w"] for r in got.collect()} == {
        r["id"]: r["cum_w"] for r in want.collect()
    }

    got = bucketed_cummax(distinct, "v", "w", out_col="m", n_buckets=8)
    want = distinct.withColumn("m", F.max("w").over(w_incl))
    assert {r["id"]: r["m"] for r in got.collect()} == {
        r["id"]: r["m"] for r in want.collect()
    }

    # ties: 3 of the 7 keys (~43% of rows) are non-finite, so several
    # boundaries are non-finite too
    tied = spark.createDataFrame(
        [(keys[(i * 5) % len(keys)], i) for i in range(60)], "v double, id long"
    )
    got = bucketed_row_number(tied, "v", ["id"], out_col="rn", n_buckets=8)
    want = tied.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    assert {r["id"]: r["rn"] for r in got.collect()} == {
        r["id"]: r["rn"] for r in want.collect()
    }


def test_null_order_key_raises(spark):
    """NULL order/group keys raise at call time, before any plan runs."""
    df = spark.createDataFrame([(1.0, 1), (None, 2), (3.0, 3)], "v double, id long")
    with pytest.raises(ValueError, match="NULL values in order column 'v'"):
        bucketed_row_number(df, "v", ["id"])
    with pytest.raises(ValueError, match="NULL values in order column 'v'"):
        bucketed_row_numbers(df.withColumn("u", F.col("id")), [("u", [], "a"), ("v", [], "b")])
    with pytest.raises(ValueError, match="NULL values in order column 'v'"):
        bucketed_cumsums(df, "v", ["id"])
    with pytest.raises(ValueError, match="NULL values in order column 'v'"):
        bucketed_cummax(df, "v", "id")
    with pytest.raises(ValueError, match="NULL values in order column 'v'"):
        grouped_bucketed_cumsum(df.withColumn("g", F.lit("a")), ["g"], "v", "id")
    null_group = spark.createDataFrame(
        [("a", 1.0, 1), (None, 2.0, 2)], "g string, v double, id long"
    )
    with pytest.raises(ValueError, match="NULL values in group columns"):
        grouped_bucketed_cumsum(null_group, ["g"], "v", "id")


def test_all_null_order_key_ranks_by_tiebreak(spark):
    """An all-NULL key column has no boundaries, so every row shares
    bucket 0 and nothing drops: it ranks by the tiebreak alone."""
    df = spark.createDataFrame([(None, 2), (None, 1), (None, 3)], "v double, id long")
    got = {r["id"]: r["rn"] for r in bucketed_row_number(df, "v", ["id"]).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_grouped_cumsum_matches_per_group_window(spark):
    rows = [(chr(97 + i % 3), float(i % 29), (-1) ** i * (i + 1)) for i in range(300)]
    df = (
        spark.createDataFrame(rows, ["g", "v", "w"])
        .groupBy("g", "v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    got = grouped_bucketed_cumsum(df, ["g"], "v", "w", out_col="cum", n_buckets=8)
    w = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("w").over(w))
    g = {(r["g"], r["v"]): r["cum"] for r in got.collect()}
    e = {(r["g"], r["v"]): r["cum"] for r in want.collect()}
    assert g == e


def test_grouped_cumsum_double_weights(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 0.5), ("a", 2.0, 0.25), ("b", 1.0, -1.5)], ["g", "v", "w"]
    )
    got = {
        (r["g"], r["v"]): r["cum"]
        for r in grouped_bucketed_cumsum(df, ["g"], "v", "w").collect()
    }
    assert got == {("a", 1.0): 0.5, ("a", 2.0): 0.75, ("b", 1.0): -1.5}


def test_cummax_matches_global_window(spark):
    rows = [(float(i), float((i * 37) % 101)) for i in range(200)]
    df = spark.createDataFrame(rows, ["v", "x"])
    for inclusive in (True, False):
        got = bucketed_cummax(
            df, "v", "x", out_col="m", inclusive=inclusive, n_buckets=8
        )
        end = 0 if inclusive else -1
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
        want = df.withColumn("m", F.max("x").over(w))
        g = {r["v"]: r["m"] for r in got.collect()}
        e = {r["v"]: r["m"] for r in want.collect()}
        assert g == e, f"inclusive={inclusive}"


def test_cummax_strict_prefix_is_null_at_minimum(spark):
    df = spark.createDataFrame([(1.0, 9), (2.0, 3), (3.0, 11)], ["v", "x"])
    got = {
        r["v"]: r["m"]
        for r in bucketed_cummax(df, "v", "x", out_col="m", inclusive=False).collect()
    }
    assert got == {1.0: None, 2.0: 9, 3.0: 9}


def test_cumsums_double_weights_keep_fractional_offsets(spark):
    """Regression (round 5): a fractional weight column must not infer a
    LongType offset frame from the integer zero of the first bucket.
    Bucketed association reorders double additions, so agreement with
    the sequential global window is to ulp tolerance, not bit-exact —
    the documented accepted risk for fractional weights."""
    rows = [(float(i), 0.1 * i) for i in range(100)]
    df = spark.createDataFrame(rows, ["v", "w"])
    got = bucketed_cumsums(df, "v", ["w"], inclusive=True, n_buckets=8)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum_w", F.sum("w").over(w))
    g = {r["v"]: r["cum_w"] for r in got.collect()}
    e = {r["v"]: r["cum_w"] for r in want.collect()}
    assert g == pytest.approx(e, abs=1e-9)


def test_multi_row_numbers_match_single_calls(spark):
    """bucketed_row_numbers (the layered multi-ranking spelling, r8) must
    equal one bucketed_row_number per spec — ties, skewed tail and all."""
    rows = [(float(i % 17), float((i * 7) % 23), i) for i in range(500)] + [
        (999.5, -3.25, 10_000 + i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["a", "b", "id"])
    got = bucketed_row_numbers(
        df, [("a", ["id"], "rn_a"), ("b", ["id"], "rn_b")], n_buckets=8
    )
    g = {r["id"]: (r["rn_a"], r["rn_b"]) for r in got.collect()}
    ra = {
        r["id"]: r["rn"]
        for r in bucketed_row_number(df, "a", ["id"], out_col="rn", n_buckets=8).collect()
    }
    rb = {
        r["id"]: r["rn"]
        for r in bucketed_row_number(df, "b", ["id"], out_col="rn", n_buckets=8).collect()
    }
    assert g == {i: (ra[i], rb[i]) for i in ra}


def test_multi_row_numbers_empty_and_null(spark):
    empty = spark.createDataFrame([], "a double, b double, id long")
    out = bucketed_row_numbers(empty, [("a", ["id"], "rn_a"), ("b", ["id"], "rn_b")])
    assert out.count() == 0 and {"rn_a", "rn_b"} <= set(out.columns)

    withnull = spark.createDataFrame(
        [(1.0, 1.0, 1), (None, 2.0, 2)], "a double, b double, id long"
    )
    with pytest.raises(Exception, match="NULL values in order column"):
        bucketed_row_numbers(withnull, [("a", ["id"], "rn_a")]).collect()
