"""Pure DataFrame transforms: parse → validate → enrich → split.

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
    valid: DataFrame  # enriched jobs ready for transfer
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
# _send_raw_to_dlq, :198-209). Only post-parse failures (unknown server,
# transfer errors) carry the parsed job dict (consumer.py:188-196).
#
# Each server row joins as ONE struct column: a valid-row plan and a
# DLQ-row plan over the same batch then prune the dimension to the same
# two columns and share one broadcast.
_SPLIT_SQL = """
WITH servers AS (SELECT hostname, struct(*) AS srv FROM {servers}),
parsed AS (
  SELECT {{value}} AS value, from_json({{value}}, {{schema}}) AS j,
         get_json_object({{value}}, '$') IS NOT NULL AS is_json_obj
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
SELECT *,
       CASE WHEN error IN ({{err_parse}}, {{err_missing}})
            THEN to_json(named_struct('raw', value))
            ELSE to_json(j) END AS original_message
FROM classified
"""


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def split_valid_dlq(raw: DataFrame, servers: DataFrame, value_col: str = "value") -> SplitResult:
    """Full classify/enrich/split. `servers` is the config dimension
    (hostname,type,host,port,username,password,base_path)."""
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
        classified = spark.sql(
            _SPLIT_SQL.format(
                servers=f"{_ident(spark.conf.get('spark.sql.globalTempDatabase'))}.{view}",
                servers_cols=servers_cols,
            ),
            raw=raw,
            value=F.col(value_col),
            schema=JOB_SCHEMA.simpleString(),
            err_parse=ERR_PARSE,
            err_missing=ERR_MISSING,
            err_unknown_src=ERR_UNKNOWN_SRC,
            err_unknown_dst=ERR_UNKNOWN_DST,
        )
    finally:
        spark.catalog.dropGlobalTempView(view)
    return SplitResult(
        valid=classified.where("error IS NULL").drop("error", "value", "j", "original_message"),
        dlq=classified.where("error IS NOT NULL").select("original_message", "error"),
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
