"""Message and config schemas for the pipeline face.

Parity notes (citations into /root/reference):
- Job message: {job_id?: str, source: {hostname, path}, destination:
  {hostname, path}} — src/etl/models/message.py:33-53; job_id optional and
  auto-generated (message.py:94); extra JSON fields silently ignored
  (message.py:93-97) which `from_json` reproduces natively.
- DLQ message: {original_message, error, timestamp, retry_count=0} —
  src/etl/models/message.py:112-130. `original_message` is schema-variant
  (parsed job dict OR {"raw": text}, consumer.py:205-208) so it stays a
  serialized JSON string.
- Server config: {hostname, type, host, port, username, password} —
  src/etl/config.py:10-19; plus base_path for local type (local.py:36).
"""

from __future__ import annotations

from pyspark.sql import types as T

ENDPOINT_SCHEMA = T.StructType(
    [
        T.StructField("hostname", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)

JOB_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("source", ENDPOINT_SCHEMA),
        T.StructField("destination", ENDPOINT_SCHEMA),
    ]
)

SERVER_SCHEMA = T.StructType(
    [
        T.StructField("hostname", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("port", T.IntegerType()),
        T.StructField("username", T.StringType()),
        T.StructField("password", T.StringType()),
        T.StructField("base_path", T.StringType()),
    ]
)

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("status", T.StringType()),  # 'ok' | 'error'; NULL: failed classification
        T.StructField("error", T.StringType()),
        T.StructField("src_path", T.StringType()),
        T.StructField("dst_path", T.StringType()),
    ]
)
