"""Table catalog over the driver's synthetic parquet tables.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (see
/root/repo/TESTDATA.md). Reads are plain ``spark.read.parquet`` so Catalyst
gets predicate pushdown / column pruning for free; at cluster scale these
would be partitioned directories and the same code path applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Memo of the UNRESOLVED table DataFrames (logical plans), keyed on
# (session, path, file identity). This caches METADATA only — the
# parquet footer schema sniff + file listing that spark.read.parquet
# performs on the driver (~0.1-0.3 s per call) and the sanitize
# projection built on top. No row data is cached or persisted: every
# action on the returned frame still scans the parquet files. A build
# sweep measured 150 s of the 239 s sf0.1 bench total inside query
# build(), a large slice of it these repeated per-query loads of the
# same ten tables. The file's (mtime, size) is part of the key so a
# tier tool rewriting a table in place gets a fresh listing.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (id(spark.sparkContext), os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # missing/odd path: no memo, let the reader raise as before
    if key is not None and key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    df = micros_ts(read_events(spark, path)) if name == "events" else spark.read.parquet(path)
    df = _sanitize_doubles(df)
    if key is not None:
        _TABLE_MEMO[key] = df
    return df


def _sanitize_doubles(df: DataFrame) -> DataFrame:
    """Ingest contract: non-finite floating values are NULL.

    The non-ANSI session casts NaN -> 0 and Infinity -> Long.MaxValue
    (9.2e18) SILENTLY, so one corrupt upstream double in a money column
    would inject 9.2 quintillion cents into every revenue aggregate at
    100 TB — strictly worse than DuckDB, which at least aborts the
    cast. Mapping NaN/±Inf to NULL at the scan chokepoint makes every
    downstream cents cast, aggregate, and rank treat corrupt values
    like the missing values they are (the pipeline's
    don't-kill-the-job posture). A cheap whole-stage-codegen
    projection on top-level FLOAT/DOUBLE columns only; array columns
    (embeddings) are guarded by similarity.vec_ok instead.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, (DoubleType, FloatType))
    ]
    for c in cols:
        col = F.col(c)
        df = df.withColumn(
            c, F.when(~F.isnan(col) & (F.abs(col) != float("inf")), col)
        )
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch-read an events parquet file with a TIMESTAMP(NANOS) ``ts``
    readable: Spark's vectorized reader rejects that vintage, so the
    legacy conf surfaces it as int64 nanos for ``micros_ts`` to map."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def micros_ts(df: DataFrame) -> DataFrame:
    """Map the events ``ts`` column of any frame, batch or streaming, read
    through ``read_events``' conf to a plain microsecond TIMESTAMP, which
    matches the DuckDB oracle's TIMESTAMP.

    events.ts has shipped as parquet TIMESTAMP(NANOS) (arrives as int64
    nanos, truncated to micros here) and as TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which arrives as TIMESTAMP_NTZ; watermarks
    reject NTZ, and with the session TZ pinned to UTC the cast is
    instant-preserving and keeps the oracle (NTZ semantics) in exact
    agreement. This is the one place the vintage is decided."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def estimated_scan_tasks(sf_dir: str, name: str) -> int:
    """Estimated scan-task count for a table: file bytes over the
    default 128 MB ``spark.sql.files.maxPartitionBytes`` split size.

    Used to make CPU-heavy narrow projections SCALE-ADAPTIVE: a query
    whose per-row work dominates (JSON parse, decode, DP kernels) only
    repartitions when the scan itself cannot feed enough tasks (small/
    single-row-group files — the bench testdata shape). At cluster
    scale the same table scans as thousands of splits and the
    repartition never fires, so no payload shuffle is added where the
    scan already parallelizes. os.stat only — no Spark job, no RDD
    conversion (df.rdd.getNumPartitions() costs ~1.5 s of planning).
    On stat failure, returns a large count so callers never add a
    shuffle on unknown layouts.
    """
    try:
        size = os.stat(f"{sf_dir}/{name}.parquet").st_size
    except OSError:
        return 1 << 20
    return max(1, -(-size // (128 * 1024 * 1024)))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL face)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
