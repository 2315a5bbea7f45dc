"""Pure DataFrame transforms: parse → validate → enrich → classify.

This is rows 2-4 of SURVEY.md §2.1 as one declarative plan, built by ONE
``spark.sql`` call (built as a chain of ``F.*``/``withColumn``/``join``
calls it costs one py4j round trip per step, over a thousand per batch):
- JSON parse with PERMISSIVE semantics (extra fields ignored, malformed →
  null struct) — matches reference leniency (message.py:93-97) with the
  required-field strictness re-added as an explicit predicate
  (message.py:88-91).
- job_id defaulting via uuid() (message.py:94).
- server enrichment as a broadcast hash join on upper(hostname) ×2
  (config.py:92-130's lookup, :104 case-insensitivity); unknown server ⇒
  DLQ, not crash (tests/test_consumer.py:210-225).

``classify_jobs`` keeps every input row, the way the reference handles
each message once (consumer.py:53-60): the transfer columns, the
classification ``error`` (NULL for a job that passed) and the DLQ payload
``original_message``. For a job that passed, that payload is the one its
transfer failure carries, so every DLQ payload format is decided here.
``split_valid_dlq`` is its two projections.

The whole plan is shuffle-free: from_json/validity are narrow, both
enrichment joins broadcast — at 100 TB this scales linearly with input
partitions.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.pipeline.schemas import JOB_SCHEMA

ERR_PARSE = "parse_error: invalid or non-object JSON"
ERR_MISSING = "missing_field: source/destination hostname+path required"
ERR_UNKNOWN_SRC = "unknown_server: source hostname not configured"
ERR_UNKNOWN_DST = "unknown_server: destination hostname not configured"


@dataclass
class SplitResult:
    valid: DataFrame  # enriched jobs ready for transfer (error IS NULL)
    dlq: DataFrame  # (original_message, error) — raw payload preserved


# `error` follows the reference's order: malformed JSON first (ValueError,
# message.py:68-71; from_json yields a struct of nulls for it, so the
# payload shape is re-checked), then required fields (message.py:88-91),
# then the two server lookups.
#
# Reference parity for `original_message`: BOTH parse failures and
# required-field failures raise ValueError inside from_json
# (message.py:68-71, :88-91) before any job object exists, so the
# consumer wraps the RAW text for both (consumer.py:126-134 →
# _send_raw_to_dlq, :198-209). Only post-parse failures carry a job:
# an unknown server the parsed job dict, a transfer error the job's id
# and paths (consumer.py:188-196).
#
# Each server row joins as ONE struct column, so the dimension is pruned
# to the columns a plan reads and broadcast once.
_CLASSIFY_SQL = """
WITH servers AS (SELECT hostname, struct(*) AS srv FROM {servers}),
parsed AS (
  SELECT value, from_json(value, {{schema}}) AS j,
         get_json_object(value, '$') IS NOT NULL AS is_json_obj
  FROM {{raw}}
),
classified AS (
  SELECT /*+ BROADCAST(s, d) */
         coalesce(j.job_id, uuid()) AS job_id,
         j.source.path AS src_path,
         j.destination.path AS dst_path,
         {servers_cols},
         CASE WHEN NOT is_json_obj THEN {{err_parse}}
              WHEN j.source.hostname IS NULL OR j.source.path IS NULL
                OR j.destination.hostname IS NULL OR j.destination.path IS NULL
                THEN {{err_missing}}
              WHEN s.srv IS NULL THEN {{err_unknown_src}}
              WHEN d.srv IS NULL THEN {{err_unknown_dst}}
         END AS error,
         value, j
  FROM parsed
  LEFT JOIN servers s ON upper(j.source.hostname) = s.hostname
  LEFT JOIN servers d ON upper(j.destination.hostname) = d.hostname
)
SELECT * EXCEPT (value, j),
       CASE WHEN error IN ({{err_parse}}, {{err_missing}})
              THEN to_json(named_struct('raw', value))
            WHEN error IS NOT NULL THEN to_json(j)
            ELSE to_json(named_struct('job_id', job_id, 'src_path', src_path, 'dst_path', dst_path))
       END AS original_message
FROM classified
"""


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def classify_jobs(raw: DataFrame, servers: DataFrame) -> DataFrame:
    """Parse, validate and enrich a raw ``value:string`` frame, one row per
    input row: job_id, src_path, dst_path, the src_*/dst_* columns of
    ``servers`` (the config dimension: hostname, type, host, port,
    username, password, base_path), ``error`` and ``original_message``."""
    servers_cols = ", ".join(
        f"{side}.srv.{_ident(c)} AS {_ident(f'{prefix}_{c}')}"
        for side, prefix in (("s", "src"), ("d", "dst"))
        for c in servers.columns
    )
    # `servers` is read through a GLOBAL temporary view: a foreachBatch
    # frame lives in the stream's own session, which does not see the
    # temp views of the session that built `servers`.
    spark = raw.sparkSession
    view = f"etl_servers_{uuid.uuid4().hex}"
    servers.createGlobalTempView(view)
    try:
        return spark.sql(
            _CLASSIFY_SQL.format(
                servers=f"{_ident(spark.conf.get('spark.sql.globalTempDatabase'))}.{view}",
                servers_cols=servers_cols,
            ),
            raw=raw,
            schema=JOB_SCHEMA.simpleString(),
            err_parse=ERR_PARSE,
            err_missing=ERR_MISSING,
            err_unknown_src=ERR_UNKNOWN_SRC,
            err_unknown_dst=ERR_UNKNOWN_DST,
        )
    finally:
        spark.catalog.dropGlobalTempView(view)


def split_valid_dlq(raw: DataFrame, servers: DataFrame) -> SplitResult:
    """The two projections of ``classify_jobs``: the jobs to transfer and
    the (original_message, error) rows that go to the DLQ."""
    jobs = classify_jobs(raw, servers)
    return SplitResult(
        valid=jobs.where("error IS NULL"),
        dlq=jobs.where("error IS NOT NULL").select("original_message", "error"),
    )


def dlq_envelope(dlq: DataFrame) -> DataFrame:
    """Wrap (original_message, error) rows in the DLQ Kafka envelope:
    value = JSON {original_message, error, timestamp, retry_count} —
    message.py:112-130 / :132-153 parity (retry_count always 0)."""
    return dlq.select(
        F.to_json(
            F.struct(
                F.col("original_message"),
                F.col("error"),
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
                F.lit(0).alias("retry_count"),
            )
        ).alias("value")
    )
