"""FTP integration tier against a real in-process socket server —
mirrors the reference's tests/test_ftp_integration.py coverage: upload/
download round-trip with content equality, nested-dir creation,
not-found error mapping, pooled-connection reuse, and the full pipeline
ftp→local / local→ftp flows."""

from __future__ import annotations

import json
import os
import time

import pytest

from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe
from etl_file_sync_spark.pipeline.handlers import FTPTransfer
from etl_file_sync_spark.pipeline.pool import FTPPoolManager
from etl_file_sync_spark.pipeline.sink import run_manifest_batch
from tests.ftp_fixture import MiniFTPServer


@pytest.fixture()
def ftp_server(tmp_path):
    root = tmp_path / "ftproot"
    root.mkdir()
    srv = MiniFTPServer(str(root)).start()
    yield srv, root
    srv.stop()
    FTPPoolManager.instance().close_all()  # fresh pools per test


def _cfg(srv) -> ServerConfig:
    return ServerConfig(hostname="FTPX", type="ftp", host="127.0.0.1", port=srv.port, username="u", password="p")


def test_upload_download_roundtrip(ftp_server, tmp_path):
    srv, root = ftp_server
    payload = b"\x00binary\xffcontent" * 100
    local_in = tmp_path / "in.bin"
    local_in.write_bytes(payload)
    h = FTPTransfer(_cfg(srv))
    h.upload(str(local_in), "/dir1/dir2/out.bin")  # nested remote dirs created
    assert (root / "dir1" / "dir2" / "out.bin").read_bytes() == payload
    local_out = tmp_path / "back.bin"
    h.download("/dir1/dir2/out.bin", str(local_out))
    assert local_out.read_bytes() == payload


def test_download_missing_maps_550_to_file_not_found(ftp_server, tmp_path):
    srv, _ = ftp_server
    h = FTPTransfer(_cfg(srv))
    with pytest.raises(FileNotFoundError):
        h.download("/nope.bin", str(tmp_path / "x"))


def test_pool_reuses_connections_across_transfers(ftp_server, tmp_path):
    srv, root = ftp_server
    (root / "a.bin").write_bytes(b"a")
    h = FTPTransfer(_cfg(srv))
    for i in range(6):
        h.download("/a.bin", str(tmp_path / f"a{i}"))
    # 6 sequential transfers over a pooled connection: 1 socket, not 6
    assert srv.connect_count == 1


def test_sequential_transfers_do_not_wait_out_delayed_ack(ftp_server, tmp_path):
    """MiniFTPServer writes `150` and `226` as two segments without
    TCP_NODELAY, like the benchmark's server: unless the client ACKs the
    `150` at once, Nagle holds the `226` until the client's delayed-ACK
    timer fires, ~40 ms per transfer whatever its size (about 1.8 s for
    these 40 transfers)."""
    srv, root = ftp_server
    payload = os.urandom(1024)
    (root / "small.bin").write_bytes(payload)
    local_in = tmp_path / "small.bin"
    local_in.write_bytes(payload)
    h = FTPTransfer(_cfg(srv))
    h.download("/small.bin", str(tmp_path / "warm"))  # connect + login, untimed
    t0 = time.perf_counter()
    for i in range(20):
        h.download("/small.bin", str(tmp_path / f"d{i}"))
    for i in range(20):
        h.upload(str(local_in), f"/up/u{i}.bin")
    elapsed = time.perf_counter() - t0
    assert (root / "up" / "u19.bin").read_bytes() == payload
    assert elapsed < 0.4, f"40 sequential 1 KiB transfers took {elapsed:.2f} s"


def test_pipeline_ftp_to_local_and_back(spark, ftp_server, tmp_path):
    srv, root = ftp_server
    (root / "src.bin").write_bytes(b"ftp payload 123")
    servers = [
        _cfg(srv),
        ServerConfig(hostname="LOCALX", type="local"),
    ]
    jobs = [
        json.dumps(
            {
                "job_id": "ftp2local",
                "source": {"hostname": "FTPX", "path": "/src.bin"},
                "destination": {"hostname": "LOCALX", "path": str(tmp_path / "got.bin")},
            }
        ),
        json.dumps(
            {
                "job_id": "local2ftp",
                "source": {"hostname": "LOCALX", "path": str(tmp_path / "up.bin")},
                "destination": {"hostname": "FTPX", "path": "/up/dest.bin"},
            }
        ),
    ]
    (tmp_path / "up.bin").write_bytes(b"uploaded via pipeline")
    raw = spark.createDataFrame([(j,) for j in jobs], "value string").coalesce(1)
    status, dlq = run_manifest_batch(raw, servers_dataframe(spark, servers), staging_dir=str(tmp_path))
    ok = {r.job_id: r.status for r in status.collect()}
    assert ok == {"ftp2local": "ok", "local2ftp": "ok"}
    assert (tmp_path / "got.bin").read_bytes() == b"ftp payload 123"
    assert (root / "up" / "dest.bin").read_bytes() == b"uploaded via pipeline"
    assert dlq.count() == 0


def test_clean_550_keeps_connection_pooled(ftp_server, tmp_path):
    """A 550 not-found is a complete reply — the connection must re-pool;
    only mid-stream failures discard it."""
    srv, root = ftp_server
    (root / "ok.bin").write_bytes(b"ok")
    h = FTPTransfer(_cfg(srv))
    h.download("/ok.bin", str(tmp_path / "a"))
    with pytest.raises(FileNotFoundError):
        h.download("/missing.bin", str(tmp_path / "b"))
    h.download("/ok.bin", str(tmp_path / "c"))
    assert srv.connect_count == 1  # one socket throughout


def test_concurrent_transfers_respect_pool_limit(spark, ftp_server, tmp_path):
    """More concurrent tasks than pool_size: borrows block and complete
    rather than exceeding the per-server connection budget."""
    import json

    srv, root = ftp_server
    for i in range(8):
        (root / f"f{i}.bin").write_bytes(bytes([i]) * 64)
    servers = [_cfg(srv), ServerConfig(hostname="LOCALX", type="local")]
    jobs = [
        json.dumps(
            {
                "job_id": f"c{i}",
                "source": {"hostname": "FTPX", "path": f"/f{i}.bin"},
                "destination": {"hostname": "LOCALX", "path": str(tmp_path / f"out{i}.bin")},
            }
        )
        for i in range(8)
    ]
    raw = spark.createDataFrame([(j,) for j in jobs], "value string").repartition(8)
    status, dlq = run_manifest_batch(raw, servers_dataframe(spark, servers), staging_dir=str(tmp_path))
    assert status.filter("status = 'ok'").count() == 8
    for i in range(8):
        assert (tmp_path / f"out{i}.bin").read_bytes() == bytes([i]) * 64
    # local[*]: all tasks share one python-worker-side pool budget of 4,
    # but workers are separate processes — each holds <= pool_size sockets
    assert srv.connect_count <= 8


def test_large_file_streams_through(ftp_server, tmp_path):
    """A multi-megabyte payload streams through RETR/STOR callbacks."""
    srv, root = ftp_server
    payload = bytes(range(256)) * 20000  # ~5 MB
    (root / "big.bin").write_bytes(payload)
    h = FTPTransfer(_cfg(srv))
    local = tmp_path / "big_local.bin"
    h.download("/big.bin", str(local))
    assert local.read_bytes() == payload
    h.upload(str(local), "/copy/big2.bin")
    assert (root / "copy" / "big2.bin").read_bytes() == payload
