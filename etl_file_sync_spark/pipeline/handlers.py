"""Pluggable transfer handlers + type-keyed registry.

Parity with the reference's transfer package (fresh implementation):
- registry/factory: case-insensitive type key; unknown type raises with
  the supported list (/root/reference/src/etl/transfer/base.py:73-108).
- local: plain copy with parent-dir creation on both legs
  (local.py:50-94); honors an optional base_path prefix (local.py:36).
- ftp: RETR/STOR with recursive remote mkdir; FTP 550 → FileNotFoundError
  (ftp.py:115-184, 550 mapping :143-146); connections come from the
  per-executor pool (pool semantics: transfer/pool.py).

These run INSIDE executor tasks (mapInPandas partitions) — the one
genuinely custom, non-Catalyst component of the engine (SURVEY.md §4.2).
"""

from __future__ import annotations

import os
import shutil
from abc import ABC, abstractmethod
from ftplib import error_perm

from etl_file_sync_spark.pipeline.config import ServerConfig
from etl_file_sync_spark.pipeline.pool import FTPPoolManager


class BaseTransfer(ABC):
    """A transfer backend: stage files down from / up to one server."""

    def __init__(self, config: ServerConfig) -> None:
        self.config = config

    @abstractmethod
    def download(self, remote_path: str, local_path: str) -> None: ...

    @abstractmethod
    def upload(self, local_path: str, remote_path: str) -> None: ...


class TransferFactory:
    """Type-keyed handler registry — the engine's plugin point, mirroring
    TransferFactory.register (base.py:78-86)."""

    _registry: dict[str, type[BaseTransfer]] = {}

    @classmethod
    def register(cls, type_key: str, handler: type[BaseTransfer]) -> None:
        cls._registry[type_key.lower()] = handler

    @classmethod
    def create(cls, config: ServerConfig) -> BaseTransfer:
        key = (config.type or "").lower()
        handler = cls._registry.get(key)
        if handler is None:
            supported = ", ".join(sorted(cls._registry))
            raise ValueError(f"unsupported transfer type {config.type!r}; supported: {supported}")
        return handler(config)


class LocalTransfer(BaseTransfer):
    """Filesystem copy — both legs are copies with parent-dir creation.

    On a cluster, 'local' means a path visible to the executor (NFS/fuse
    mount); parity tests pin to local[*] where driver==executor.
    """

    def _resolve(self, path: str) -> str:
        base = self.config.base_path
        if base and not os.path.isabs(path):
            return os.path.join(base, path)
        return path

    def download(self, remote_path: str, local_path: str) -> None:
        src = self._resolve(remote_path)
        if not os.path.isfile(src):
            raise FileNotFoundError(f"source file not found: {src}")
        os.makedirs(os.path.dirname(local_path) or ".", exist_ok=True)
        shutil.copy2(src, local_path)

    def upload(self, local_path: str, remote_path: str) -> None:
        if not os.path.isfile(local_path):
            raise FileNotFoundError(f"local file not found: {local_path}")
        dst = self._resolve(remote_path)
        os.makedirs(os.path.dirname(dst) or ".", exist_ok=True)
        # atomic publish: copy to a temp name in the destination dir, then
        # os.replace — a task killed mid-copy never leaves a truncated dst,
        # and a retried or replayed copy just publishes the same bytes again.
        tmp = f"{dst}.etl-tmp-{os.getpid()}-{id(self):x}"
        try:
            shutil.copy2(local_path, tmp)
            os.replace(tmp, dst)
        finally:
            if os.path.exists(tmp):
                try:
                    os.unlink(tmp)
                except OSError:
                    pass


class FTPTransfer(BaseTransfer):
    """FTP transfers over pooled connections (pool is executor-wide)."""

    def __init__(self, config: ServerConfig) -> None:
        super().__init__(config)
        self._pool = FTPPoolManager.instance().get_pool(
            config.host, config.port, config.username, config.password
        )

    def _borrowed(self):
        return _Borrowed(self._pool)

    def download(self, remote_path: str, local_path: str) -> None:
        os.makedirs(os.path.dirname(local_path) or ".", exist_ok=True)
        not_found = None
        with self._borrowed() as conn, open(local_path, "wb") as fh:
            try:
                conn.retrbinary(f"RETR {remote_path}", fh.write)
            except error_perm as exc:
                # a 550 is a COMPLETE server reply — the control channel is
                # clean, so stash and raise outside the with-block to let
                # the connection re-pool; any other failure propagates and
                # the borrowed connection is discarded (desync risk)
                if str(exc).startswith("550"):
                    not_found = exc
                else:
                    raise OSError(f"FTP download failed: {exc}") from exc
        if not_found is not None:
            raise FileNotFoundError(f"remote file not found: {remote_path}") from not_found

    def upload(self, local_path: str, remote_path: str) -> None:
        if not os.path.isfile(local_path):
            raise FileNotFoundError(f"local file not found: {local_path}")
        with self._borrowed() as conn:
            self._ensure_remote_dir(conn, os.path.dirname(remote_path))
            with open(local_path, "rb") as fh:
                try:
                    conn.storbinary(f"STOR {remote_path}", fh)
                except error_perm as exc:
                    raise OSError(f"FTP upload failed: {exc}") from exc

    @staticmethod
    def _ensure_remote_dir(conn, remote_dir: str) -> None:
        """Recursively create the remote directory chain (ftp.py:186-212)."""
        if not remote_dir or remote_dir in ("/", "."):
            return
        parts = [p for p in remote_dir.split("/") if p]
        path = "/" if remote_dir.startswith("/") else ""
        for part in parts:
            path = f"{path}{part}"
            try:
                conn.mkd(path)
            except error_perm as exc:
                if not str(exc).startswith("550"):  # 550: already exists
                    raise
            path += "/"


class _Borrowed:
    def __init__(self, pool) -> None:
        self._pool = pool
        self._conn = None

    def __enter__(self):
        self._conn = self._pool.borrow()
        return self._conn

    def __exit__(self, exc_type, exc, tb):
        if exc_type is None:
            self._pool.return_connection(self._conn)
        else:
            # an exception mid-transfer can leave the control channel
            # desynchronized (unread reply) — discard, don't re-pool
            self._pool.discard(self._conn)
        return False


TransferFactory.register("local", LocalTransfer)
TransferFactory.register("ftp", FTPTransfer)
