"""Fresh-process driver-contract sweep (verify skill, surface 1).

Replicates the correctness driver exactly: import __spark_entry__ with
only sys.path (no cwd tricks), smoke entry(), then run every queries()
entry at sf0.01 against its oracle_sql() in DuckDB — columns sorted by
name, rows sorted by all columns, floats atol=1e-9.

Usage: python tools/verify_sweep.py [name-substring ...]
Exit 0 = all green. Prints one line per query.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from etl_file_sync_spark.catalog import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # strip tz, normalize dtypes for stable sorting/compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            if not np.allclose(av.astype(float), bv.astype(float), atol=1e-9, equal_nan=True):
                return f"float mismatch in {c}"
        else:
            am, bm = pd.isna(av), pd.isna(bv)
            if not (am == bm).all() or not (av[~am] == bv[~bm]).all():
                return f"value mismatch in {c}"
    return None


def main() -> int:
    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    filters = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    n = E.entry(spark).count()
    print(f"entry(): {n} rows  OK")

    qs, osql = E.queries(), E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = [k for k in qs if not filters or any(f in k for f in filters)]
    fails: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            sdf = canon(qs[name](spark, SF_DIR).toPandas())
            if name in osql:
                odf = canon(con.sql(osql[name]).df())
                err = compare(sdf, odf)
                status = err or f"OK ({len(sdf)} rows)"
            else:
                status = f"rows-only ({len(sdf)} rows)"
                err = None if len(sdf) >= 0 else "negative?"
        except Exception as exc:  # noqa: BLE001
            err = f"{type(exc).__name__}: {exc}"
            status = err
        if err:
            fails.append(name)
        print(f"{'FAIL' if err else 'ok  '} {name:40s} {time.time() - t0:6.2f}s  {status[:120]}")

    print(f"\n{len(names) - len(fails)}/{len(names)} green")
    if fails:
        print("FAILED:", ", ".join(fails))
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
