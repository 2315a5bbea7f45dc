"""Transfer execution sink: side-effecting file copies on executors.

Spark-idiomatic error channel: per-row try/except emitting STATUS ROWS
instead of raising, so a failed transfer never fails the micro-batch —
this reproduces the reference's commit-even-on-failure delivery contract
(consumer.py:136-137) with checkpoint-backed at-least-once semantics
(SURVEY.md §2.1 row 11).

Execution shape: mapInPandas over the enriched job frame. Each Arrow
batch is processed row-wise INSIDE the executor (the transfer itself is
inherently per-file I/O); handlers and FTP pools are per-executor
singletons reused across batches. Temp staging mirrors
consumer.py:139-186 (download → upload through a local temp file, always
deleted in finally).

A manifest batch makes ONE eager checkpoint: the status rows and the
pre-transfer DLQ rows in one frame. The status sink and the DLQ sink both
read only that checkpoint, so a batch and its two writes run four Spark
jobs (servers broadcast, checkpoint, two writes) and neither write reads
or parses the input again.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from etl_file_sync_spark.pipeline.config import ServerConfig
from etl_file_sync_spark.pipeline.handlers import LocalTransfer, TransferFactory
from etl_file_sync_spark.pipeline.schemas import STATUS_SCHEMA
from etl_file_sync_spark.pipeline.transform import SplitResult, dlq_envelope, split_valid_dlq


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


def _execute_one(row: pd.Series, staging_dir: str, skip_if_exists: bool = False) -> dict:
    """One job: temp file → download → upload → cleanup (finally).

    skip_if_exists short-circuits local destinations that already exist —
    the idempotency guard for task retries (SURVEY.md §7.4 risk 1; the
    reference's STOR overwrite makes retries idempotent for FTP already).
    """
    tmp = os.path.join(staging_dir, f"etl-{uuid.uuid4().hex}")

    def status(error: str | None = None) -> dict:
        return {
            "job_id": row["job_id"],
            "status": "ok" if error is None else "error",
            "error": error,
            "src_path": row["src_path"],
            "dst_path": row["dst_path"],
        }

    try:
        src = TransferFactory.create(_config_from_row(row, "src"))
        dst = TransferFactory.create(_config_from_row(row, "dst"))
        if (
            skip_if_exists
            and row["dst_type"] == "local"
            and isinstance(dst, LocalTransfer)
            and os.path.exists(dst._resolve(row["dst_path"]))
        ):
            return status()
        src.download(row["src_path"], tmp)
        dst.upload(tmp, row["dst_path"])
        return status()
    except Exception as exc:  # error → status row, never a task failure
        return status(f"{type(exc).__name__}: {exc}")
    finally:
        try:
            if os.path.exists(tmp):
                os.unlink(tmp)
        except OSError:
            pass


def run_transfers(
    valid: DataFrame, staging_dir: str | None = None, skip_if_exists: bool = False
) -> DataFrame:
    """Execute transfers for the enriched job frame; returns status rows.

    Arrow-batched; per-executor handler/pool reuse; parallelism = input
    partitions (repartition upstream to set transfer concurrency — the
    Spark analogue of ETL_CONSUMER_COUNT × pool_size).
    """
    staging = staging_dir or tempfile.gettempdir()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                [_execute_one(row, staging, skip_if_exists) for _, row in pdf.iterrows()]
            )

    return valid.mapInPandas(run, schema=STATUS_SCHEMA)


def run_manifest_batch(
    raw: DataFrame,
    servers: DataFrame,
    staging_dir: str | None = None,
    skip_if_exists: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Batch-mode pipeline: raw value:string frame → (status, dlq-envelope).

    The same transform functions serve streaming foreachBatch — this IS
    the foreachBatch body, usable standalone for manifest-driven runs.

    The transfer stage is side-effecting, so it runs exactly once, under
    ONE eager localCheckpoint per batch that holds the status rows and
    the pre-transfer DLQ rows together (status NULL). Both returned
    frames read only that checkpoint: writing or counting them never
    re-runs a download/upload, nor re-reads and re-parses the input.
    """
    split: SplitResult = split_valid_dlq(raw, servers)
    rows = (
        run_transfers(split.valid, staging_dir, skip_if_exists)
        .selectExpr(
            "*",
            "to_json(named_struct('job_id', job_id, 'src_path', src_path, 'dst_path', dst_path)) AS original_message",
        )
        .unionByName(split.dlq, allowMissingColumns=True)
        .localCheckpoint(eager=True)
    )
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
    skip_if_exists: bool = False,
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
    Checkpointing upstream gives at-least-once; skip_if_exists makes
    replayed batches idempotent on local sinks."""

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        import logging

        status, dlq = run_manifest_batch(batch_df, servers, staging_dir, skip_if_exists)
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
