"""localrel: driver-built doubles in SQL text round-trip exactly, and
local_rows_df refuses wrong-typed cells instead of CAST-coercing them."""

from __future__ import annotations

import datetime
import math
import struct

import pytest

from etl_file_sync_spark.localrel import local_rows_df, sql_double


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_sql_double_round_trips_bit_for_bit(spark):
    xs = [math.inf, -math.inf, math.nan, -0.0, 5e-324, 0.1, 1.7976931348623157e308]
    row = spark.sql(
        "SELECT " + ", ".join(f"{sql_double(x)} AS c{i}" for i, x in enumerate(xs))
    ).collect()[0]
    for i, x in enumerate(xs):
        got = row[f"c{i}"]
        if math.isnan(x):
            assert math.isnan(got)
        else:
            assert _bits(got) == _bits(x), (x, got)
    assert math.copysign(1.0, row["c3"]) == -1.0


@pytest.mark.parametrize("rows", [[(1.5, "7")], [("abc", 1)], [(True, 1)]])
def test_local_rows_df_rejects_wrong_typed_cells(spark, rows):
    with pytest.raises(TypeError, match="column 'x'"):
        local_rows_df(spark, rows, "x bigint, y int")


def test_local_rows_df_accepts_declared_types(spark):
    rows = [
        (1, 2.5, 3, "s", True, datetime.date(2024, 1, 2), None),
        (None, None, None, None, None, None, None),
    ]
    df = local_rows_df(
        spark, rows, "a bigint, b double, c double, d string, e boolean, f date, g bigint"
    )
    assert [tuple(r) for r in df.collect()] == [
        (1, 2.5, 3.0, "s", True, datetime.date(2024, 1, 2), None),
        (None,) * 7,
    ]
