"""Unit tests for the parse/validate/enrich transform — mirrors the
reference's consumer-routing test matrix (tests/test_consumer.py:126-277)."""

from __future__ import annotations

import gc
import json

from pyspark.sql import functions as F

from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe
from etl_file_sync_spark.pipeline.transform import dlq_envelope, split_valid_dlq

SERVERS = [
    ServerConfig(hostname="SRC1", type="local"),
    ServerConfig(hostname="DST1", type="ftp", host="h", port=21),
]


def mk_raw(spark, values):
    return spark.createDataFrame([(v,) for v in values], "value string")


def good(job_id="j1", src="SRC1", dst="DST1"):
    return json.dumps(
        {"job_id": job_id, "source": {"hostname": src, "path": "/a"}, "destination": {"hostname": dst, "path": "/b"}}
    )


def test_valid_job_enriched(spark):
    res = split_valid_dlq(mk_raw(spark, [good()]), servers_dataframe(spark, SERVERS))
    rows = res.valid.collect()
    assert len(rows) == 1 and res.dlq.count() == 0
    r = rows[0]
    assert r.job_id == "j1" and r.src_type == "local" and r.dst_type == "ftp" and r.dst_port == 21


def test_case_insensitive_hostname(spark):
    res = split_valid_dlq(mk_raw(spark, [good(src="src1", dst="dst1")]), servers_dataframe(spark, SERVERS))
    assert res.valid.count() == 1


def test_job_id_autogenerated(spark):
    msg = json.dumps({"source": {"hostname": "SRC1", "path": "/a"}, "destination": {"hostname": "DST1", "path": "/b"}})
    row = split_valid_dlq(mk_raw(spark, [msg]), servers_dataframe(spark, SERVERS)).valid.collect()[0]
    assert row.job_id and len(row.job_id) == 36  # uuid4 format


def test_extra_fields_ignored(spark):
    msg = json.loads(good())
    msg["unexpected"] = {"deep": [1, 2, 3]}
    res = split_valid_dlq(mk_raw(spark, [json.dumps(msg)]), servers_dataframe(spark, SERVERS))
    assert res.valid.count() == 1


def test_error_routing_matrix(spark):
    missing_dst = json.dumps({"job_id": "x", "source": {"hostname": "SRC1", "path": "/a"}})
    missing_path = json.dumps(
        {"source": {"hostname": "SRC1"}, "destination": {"hostname": "DST1", "path": "/b"}}
    )
    unknown = good(src="NOPE")
    raw = mk_raw(spark, ["garbage{{{", missing_dst, missing_path, unknown, good()])
    res = split_valid_dlq(raw, servers_dataframe(spark, SERVERS))
    assert res.valid.count() == 1
    errs = {r.error.split(":")[0] for r in res.dlq.collect()}
    assert errs == {"parse_error", "missing_field", "unknown_server"}
    assert res.dlq.count() == 4


def test_raw_payload_preserved_for_unparseable(spark):
    res = split_valid_dlq(mk_raw(spark, ["!!not json!!"]), servers_dataframe(spark, SERVERS))
    om = json.loads(res.dlq.collect()[0].original_message)
    assert om == {"raw": "!!not json!!"}


def test_dlq_envelope_shape(spark):
    res = split_valid_dlq(mk_raw(spark, ["bad"]), servers_dataframe(spark, SERVERS))
    env = json.loads(dlq_envelope(res.dlq).collect()[0].value)
    assert set(env) == {"original_message", "error", "timestamp", "retry_count"}
    assert env["retry_count"] == 0  # reference never retries (message.py:130)


def test_scalar_json_is_missing_field_not_parse_error(spark):
    # json.loads('5') succeeds in the reference, then required-field check
    # fails — classification must be missing_field, not parse_error.
    res = split_valid_dlq(mk_raw(spark, ["5"]), servers_dataframe(spark, SERVERS))
    assert res.dlq.collect()[0].error.startswith("missing_field")


def test_split_builds_its_plan_in_few_py4j_round_trips(spark, monkeypatch):
    """One split_valid_dlq call makes at most 150 py4j round trips: the
    plan is one SQL statement, not a chain of F.*/withColumn/join calls
    that cost one round trip each (over 1,100 per call)."""
    raw = mk_raw(spark, [good()])
    servers = servers_dataframe(spark, SERVERS)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    gc.collect()  # drop earlier tests' garbage JVM references first
    monkeypatch.setattr(client, "send_command", counting)
    split_valid_dlq(raw, servers)
    monkeypatch.undo()
    assert len(sent) <= 150, f"{len(sent)} py4j round trips"
