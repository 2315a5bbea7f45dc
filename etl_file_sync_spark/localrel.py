"""Pure-JVM local dimension frames (guide §4/§5: keep Python off the hot
path — including the SCAN of tiny driver-built dimensions).

``spark.createDataFrame(list_of_rows)`` builds its DataFrame over a
PICKLED PYTHON RDD (``applySchemaToPythonRDD`` → ``Scan ExistingRDD``):
every downstream materialization — including the BroadcastExchange build
of an ``F.broadcast(dim)`` — runs a real Spark job whose tasks each
block on a Python worker handshake to unpickle a handful of rows.
Measured on this engine (round 9): stages of ``defaultParallelism``
tasks at ~190-250 ms wall with ~3 ms CPU and zero I/O — the
previously-unattributed "blocked broadcast stage" that poisoned every
rankstats consumer (zorder, winsorized, wasserstein, rfm,
conformal, ...). A k-row dimension spelled as a SQL ``VALUES`` table is
a ``LocalTableScan`` instead: broadcast builds collect it driver-side
with NO job, no Python worker, at any cluster size.

Values bind through **named SQL parameters** (``spark.sql(q, args=...)``)
rather than literal spelling, so arbitrary strings (quotes, backslashes,
newlines), dates, decimals, NaN/Infinity doubles and NULLs round-trip
exactly with zero escaping risk; an outer ``CAST`` per column pins the
declared schema exactly as ``createDataFrame``'s schema string would.
Because that ``CAST`` would also coerce a wrong-typed cell (``1.5`` into
a bigint column reads back ``1``, ``"abc"`` reads back NULL), every
non-NULL cell is first checked against its declared type, the way
``createDataFrame`` verifies rows.

:func:`sql_double` is the one spelling of a driver-side double inside SQL
text (bucket boundaries, query vectors, model coefficients).
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, SparkSession

# simple (non-nested) SQL types only — every current call site; nested
# types would need a comma-aware schema parser and struct parameters
_NESTED = ("array<", "map<", "struct<")

# Python cell types each declared simple type accepts. Ints widen into
# floating/decimal columns (SQL's own implicit numeric widening); nothing
# narrows or parses. bool is an int subclass and is refused for numbers.
_INTEGRAL = ("tinyint", "byte", "smallint", "short", "int", "integer", "bigint", "long")
_ACCEPTS: dict[str, tuple[type, ...]] = {
    **{t: (int,) for t in _INTEGRAL},
    **{t: (int, float) for t in ("float", "real", "double")},
    "decimal": (int, decimal.Decimal),
    **{t: (str,) for t in ("string", "varchar", "char")},
    "boolean": (bool,),
    "date": (datetime.date,),
    **{t: (datetime.datetime,) for t in ("timestamp", "timestamp_ltz", "timestamp_ntz")},
    "binary": (bytes, bytearray),
}


def sql_double(x) -> str:
    """``x`` as an exact SQL DOUBLE: ``CAST('<repr(float(x))>' AS DOUBLE)``.

    ``repr`` round-trips every double (the nearest double to the printed
    decimal IS the original), and the string cast also parses ``inf``,
    ``-inf`` and ``nan`` — a bare ``CAST(inf AS DOUBLE)`` would read
    ``inf`` as a column name."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _check_cell(v, name: str, sql_type: str) -> None:
    """Raise TypeError unless ``v`` is a Python value of ``sql_type``."""
    accepts = _ACCEPTS.get(sql_type.lower().split("(", 1)[0].strip())
    if accepts is None:
        raise TypeError(f"local_rows_df: column {name!r} has unsupported type {sql_type!r}")
    if not isinstance(v, accepts) or (isinstance(v, bool) and bool not in accepts):
        raise TypeError(
            f"local_rows_df: column {name!r} ({sql_type}) got {type(v).__name__} {v!r}"
        )


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small driver-built dimension as a pure-JVM LocalRelation.

    ``rows``: sequence of tuples (k rows — driver-bounded by the caller's
    own contract, same as createDataFrame). ``schema``: a simple
    ``"name type, name type"`` schema string; nested types fall back to
    ``createDataFrame``. Empty input falls back too (VALUES needs >= 1
    row; the empty createDataFrame is already a plain empty
    LocalRelation with no Python RDD behind it).
    """
    cols = [c.strip() for c in schema.split(",")]
    if (
        not rows
        or any(t in schema.lower() for t in _NESTED)
        or any(len(c.split(None, 1)) != 2 for c in cols)
    ):
        return spark.createDataFrame(rows, schema)
    names_types = [tuple(c.split(None, 1)) for c in cols]
    args: dict[str, object] = {}
    specs = []
    for i, r in enumerate(rows):
        cells = []
        for j, v in enumerate(r):
            if v is None:
                cells.append("NULL")
            else:
                _check_cell(v, *names_types[j])
                key = f"v{i}_{j}"
                args[key] = v
                cells.append(f":{key}")
        specs.append("(" + ", ".join(cells) + ")")
    proj = ", ".join(
        f"CAST(c{j} AS {t}) AS `{n}`" for j, (n, t) in enumerate(names_types)
    )
    anon = ", ".join(f"c{j}" for j in range(len(names_types)))
    sql = f"SELECT {proj} FROM VALUES {', '.join(specs)} AS t({anon})"
    return spark.sql(sql, args=args)
