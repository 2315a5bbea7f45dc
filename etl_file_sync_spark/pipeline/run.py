"""CLI entry point — argparse parity with the reference main
(/root/reference/src/etl/main.py:33-90): topic / group-id / bootstrap
servers accepted positionally AND as flags (flag wins, main.py:100-102),
``--env-file``, ``-v`` for debug logging. Adds engine-specific modes:

- kafka mode (default): readStream(kafka) → transform → foreachBatch sink,
  checkpointed — the reference's consumer loop as one streaming query.
- manifest mode (--manifest PATH): batch run over a json-lines manifest of
  job messages, no Kafka needed (mirrors tests/test_e2e.py:354-394
  local→local semantics).
"""

from __future__ import annotations

import argparse
import logging
import os
import signal
import sys

from etl_file_sync_spark.pipeline.config import get_dlq_topic, servers_dataframe
from etl_file_sync_spark.pipeline.sink import (
    foreach_batch_factory,
    kafka_dlq_writer,
    run_manifest_batch,
)
from etl_file_sync_spark.session import get_spark

log = logging.getLogger("etl_file_sync_spark")


def kafka_reader_options(
    topic: str, bootstrap_servers: str, group_id: str | None = None, env: dict | None = None
) -> dict[str, str]:
    """The kafka reader configuration, as a plain dict (unit-testable
    seam — the stream builder just applies it with .options(**...)).

    - startingOffsets=earliest: the reference consumer's
      auto_offset_reset="earliest" (consumer.py:83).
    - kafka.group.id: consumer-group parity (main.py:45).
    - maxOffsetsPerTrigger (env ETL_MAX_OFFSETS_PER_TRIGGER): bound
      records per micro-batch so transfer work stays inside executor
      disk/connection budgets — the Spark analogue of the reference's
      1 s poll granularity (consumer.py:94).
    - minPartitions (env ETL_KAFKA_MIN_PARTITIONS): fan the scan out
      beyond the topic's partition count for transfer parallelism.
    """
    e = os.environ if env is None else env
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "kafka.group.id": group_id or "etl-file-sync-spark",
    }
    if e.get("ETL_MAX_OFFSETS_PER_TRIGGER"):
        opts["maxOffsetsPerTrigger"] = e["ETL_MAX_OFFSETS_PER_TRIGGER"]
    if e.get("ETL_KAFKA_MIN_PARTITIONS"):
        opts["minPartitions"] = e["ETL_KAFKA_MIN_PARTITIONS"]
    return opts


def ensure_topics(bootstrap_servers: str, topics: dict[str, int]) -> bool:
    """Opt-in topic auto-creation (parity: docker/entrypoint.sh:66-117 —
    create-if-not-exists for the main topic and its 1-partition DLQ).

    Uses whichever Kafka admin client is importable (confluent-kafka or
    kafka-python); neither ships in this image, so absence degrades to a
    logged no-op returning False — the reference's entrypoint likewise
    soft-fails topic creation (`|| true`).
    """
    try:
        from confluent_kafka.admin import AdminClient, NewTopic  # type: ignore

        admin = AdminClient({"bootstrap.servers": bootstrap_servers})
        futures = admin.create_topics(
            [NewTopic(t, num_partitions=p, replication_factor=1) for t, p in topics.items()]
        )
        for t, fut in futures.items():
            try:
                fut.result(timeout=10)
                log.info("created topic %s", t)
            except Exception as exc:  # exists / transient — soft-fail like entrypoint.sh
                log.warning("topic %s not created: %s", t, exc)
        return True
    except ImportError:
        pass
    try:
        from kafka.admin import KafkaAdminClient, NewTopic  # type: ignore

        admin = KafkaAdminClient(bootstrap_servers=bootstrap_servers)
        for t, p in topics.items():
            try:
                admin.create_topics([NewTopic(name=t, num_partitions=p, replication_factor=1)])
                log.info("created topic %s", t)
            except Exception as exc:
                log.warning("topic %s not created: %s", t, exc)
        return True
    except ImportError:
        log.warning("no Kafka admin client installed; skipping topic auto-creation")
        return False


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="etl-file-sync-spark", description="PySpark file-sync pipeline")
    p.add_argument("topic", nargs="?", help="Kafka topic")
    p.add_argument("group_id", nargs="?", help="consumer group id")
    p.add_argument("bootstrap_servers", nargs="?", help="Kafka bootstrap servers")
    p.add_argument("--topic", dest="topic_flag")
    p.add_argument("--group-id", dest="group_flag")
    p.add_argument("--bootstrap-servers", dest="bootstrap_flag")
    p.add_argument("--env-file", help=".env file with server configs")
    p.add_argument("--manifest", help="json-lines manifest path (batch mode, no Kafka)")
    p.add_argument("--output-dir", default="/tmp/etl-sync-out", help="status/dlq output root")
    p.add_argument("--checkpoint", default="/tmp/etl-sync-ckpt")
    p.add_argument("-v", "--verbose", action="store_true")
    a = p.parse_args(argv)
    # flags take precedence over positionals (main.py:100-102 parity)
    a.topic = a.topic_flag or a.topic
    a.group_id = a.group_flag or a.group_id
    a.bootstrap_servers = a.bootstrap_flag or a.bootstrap_servers
    return a


def load_env_file(path: str) -> None:
    """Minimal .env loader (KEY=VALUE lines, # comments)."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, _, v = line.partition("=")
            os.environ.setdefault(k.strip(), v.strip())


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    logging.basicConfig(level=logging.DEBUG if args.verbose else logging.INFO)
    if args.env_file:
        load_env_file(args.env_file)

    spark = get_spark("etl-file-sync-pipeline")
    servers = servers_dataframe(spark)

    if args.manifest:
        raw = spark.read.text(args.manifest)
        status, dlq = run_manifest_batch(raw, servers)
        status.write.mode("append").parquet(f"{args.output_dir}/status")
        dlq.write.mode("append").parquet(f"{args.output_dir}/dlq")
        n_err = status.filter("status = 'error'").count()
        log.info("manifest run complete; %d transfer errors", n_err)
        return 0

    if not (args.topic and args.bootstrap_servers):
        print("topic and bootstrap servers required in kafka mode", file=sys.stderr)
        return 2

    dlq_topic = get_dlq_topic(args.topic)
    if os.environ.get("ETL_AUTO_CREATE_TOPICS", "").lower() in ("1", "true", "yes", "on"):
        parts = int(os.environ.get("ETL_TOPIC_PARTITIONS", "1"))
        ensure_topics(args.bootstrap_servers, {args.topic: parts, dlq_topic: 1})

    opts = kafka_reader_options(args.topic, args.bootstrap_servers, args.group_id)
    stream = (
        spark.readStream.format("kafka")
        .options(**opts)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    log.info("producing DLQ to Kafka topic: %s", dlq_topic)
    query = (
        stream.writeStream.foreachBatch(
            foreach_batch_factory(
                servers,
                f"{args.output_dir}/dlq",
                f"{args.output_dir}/status",
                dlq_writer=kafka_dlq_writer(args.bootstrap_servers, dlq_topic),
            )
        )
        .option("checkpointLocation", args.checkpoint)
        .start()
    )

    def stop(_sig, _frm):  # graceful shutdown (main.py:25-30 parity)
        log.info("stopping streaming query")
        query.stop()

    signal.signal(signal.SIGINT, stop)
    signal.signal(signal.SIGTERM, stop)
    query.awaitTermination()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
