"""Transfer execution sink: side-effecting file copies on executors.

Spark-idiomatic error channel: per-row try/except emitting STATUS ROWS
instead of raising, so a failed transfer never fails the micro-batch —
this reproduces the reference's commit-even-on-failure delivery contract
(consumer.py:136-137) with checkpoint-backed at-least-once semantics
(SURVEY.md §2.1 row 11).

Execution shape: mapInPandas over the classified job frame. Each Arrow
batch is processed row-wise INSIDE the executor (the transfer itself is
inherently per-file I/O); handlers and FTP pools are per-executor
singletons reused across batches. Temp staging mirrors
consumer.py:139-186 (download → upload through a local temp file, always
deleted in finally). A row that failed classification passes through as
a status-NULL row and touches no server.

A manifest batch is ONE pass, as the reference handles each message once
(consumer.py:53-60): classify → transfer → one eager checkpoint, which the
status sink and the DLQ sink both read. The checkpoint and each write run
one task per input split, the input is scanned once, and a batch with its
two writes runs four Spark jobs (servers broadcast, checkpoint, two
writes).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from etl_file_sync_spark.pipeline.config import ServerConfig
from etl_file_sync_spark.pipeline.handlers import TransferFactory
from etl_file_sync_spark.pipeline.schemas import STATUS_SCHEMA
from etl_file_sync_spark.pipeline.transform import classify_jobs, dlq_envelope

# the status row plus the DLQ payload the job carries if it fails
_ROW_SCHEMA = T.StructType([*STATUS_SCHEMA.fields, T.StructField("original_message", T.StringType())])


def _config_from_row(row: pd.Series, prefix: str) -> ServerConfig:
    return ServerConfig(
        hostname=row[f"{prefix}_hostname"],
        type=row[f"{prefix}_type"],
        host=row.get(f"{prefix}_host") or "",
        port=int(row.get(f"{prefix}_port") or 21),
        username=row.get(f"{prefix}_username") or "",
        password=row.get(f"{prefix}_password") or "",
        base_path=row.get(f"{prefix}_base_path") or "",
    )


def _execute_one(row: pd.Series, staging_dir: str) -> dict:
    """One job: temp file → download → upload → cleanup (finally). A row
    whose classification already failed returns status NULL untouched."""

    def status(state: str | None, error: str | None = None) -> dict:
        return {
            "job_id": row["job_id"],
            "status": state,
            "error": error,
            "src_path": row["src_path"],
            "dst_path": row["dst_path"],
            "original_message": row["original_message"],
        }

    if pd.notna(row["error"]):
        return status(None, row["error"])
    tmp = os.path.join(staging_dir, f"etl-{uuid.uuid4().hex}")
    try:
        src = TransferFactory.create(_config_from_row(row, "src"))
        dst = TransferFactory.create(_config_from_row(row, "dst"))
        src.download(row["src_path"], tmp)
        dst.upload(tmp, row["dst_path"])
        return status("ok")
    except Exception as exc:  # error → status row, never a task failure
        return status("error", f"{type(exc).__name__}: {exc}")
    finally:
        try:
            if os.path.exists(tmp):
                os.unlink(tmp)
        except OSError:
            pass


def run_transfers(jobs: DataFrame, staging_dir: str | None = None) -> DataFrame:
    """Execute the transfers of a ``classify_jobs`` frame (or its valid
    projection); returns its status rows with ``original_message``.

    Arrow-batched; per-executor handler/pool reuse; parallelism = input
    partitions (repartition upstream to set transfer concurrency — the
    Spark analogue of ETL_CONSUMER_COUNT × pool_size).
    """
    staging = staging_dir or tempfile.gettempdir()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame([_execute_one(row, staging) for _, row in pdf.iterrows()])

    return jobs.mapInPandas(run, schema=_ROW_SCHEMA)


def run_manifest_batch(
    raw: DataFrame, servers: DataFrame, staging_dir: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Batch-mode pipeline: raw value:string frame → (status, dlq-envelope).

    The same transform functions serve streaming foreachBatch — this IS
    the foreachBatch body, usable standalone for manifest-driven runs.

    The transfer stage is side-effecting, so it runs exactly once, under
    ONE eager localCheckpoint per batch. Both returned frames read only
    that checkpoint: writing or counting them never re-runs a
    download/upload, nor re-reads and re-parses the input.
    """
    rows = run_transfers(classify_jobs(raw, servers), staging_dir).localCheckpoint(eager=True)
    status = rows.where("status IS NOT NULL").drop("original_message")
    dlq = dlq_envelope(rows.where("status IS NULL OR status = 'error'"))
    return status, dlq


def kafka_dlq_writer(bootstrap_servers: str, topic: str):
    """DLQ producer for kafka mode: publish each envelope row to the
    derived DLQ topic (parity: consumer.py:211-225 — producer.send to
    config.get_dlq_topic). The envelope frame already carries one JSON
    string per row in `value`, which is exactly the kafka sink's wire
    contract. Needs the spark-sql-kafka connector on the classpath (it
    ships on real clusters / via --packages; absent in this sandbox, so
    failures route through the swallow path like any DLQ-send error).
    """

    def write(dlq: DataFrame) -> None:
        (
            dlq.selectExpr("CAST(value AS STRING) AS value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .save()
        )

    return write


def foreach_batch_factory(
    servers: DataFrame,
    dlq_dir: str,
    status_dir: str,
    staging_dir: str | None = None,
    dlq_writer=None,
):
    """foreachBatch body for the streaming pipeline: execute transfers,
    append status as parquet, route DLQ envelopes to every configured DLQ
    sink. In kafka mode the runner passes dlq_writer=kafka_dlq_writer(...)
    so failed jobs land ON THE BUS like the reference's producer
    (consumer.py:188-225); the parquet DLQ is always written too as the
    operational record. Each DLQ-sink failure is swallowed independently
    (logged, never fails the batch — consumer.py:224-225 parity), so a
    dead broker can't take down the parquet trail or vice versa.
    Checkpointing upstream gives at-least-once; a replayed batch copies
    its files again, which is idempotent: local uploads publish through
    os.replace and FTP STOR overwrites."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        import logging

        status, dlq = run_manifest_batch(batch_df, servers, staging_dir)
        status.write.mode("append").parquet(status_dir)
        if dlq_writer is not None:
            # two DLQ sinks: pin one envelope timestamp for both
            dlq = dlq.localCheckpoint(eager=True)
            try:
                dlq_writer(dlq)
            except Exception:
                logging.getLogger(__name__).exception(
                    "Kafka DLQ send failed; continuing (swallow semantics)"
                )
        try:
            dlq.write.mode("append").parquet(dlq_dir)
        except Exception:  # DLQ-sink failure is swallowed (logged), never
            # fails the batch — reference parity: consumer.py:224-225
            logging.getLogger(__name__).exception("DLQ write failed; continuing (swallow semantics)")

    return body
