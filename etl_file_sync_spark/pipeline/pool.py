"""Thread-safe bounded FTP connection pool, shared per executor.

Semantics parity with the reference pool (/root/reference/src/etl/transfer/
pool.py:44-320), implemented fresh:
- bounded pool per (host, port, username); borrow = reuse → validate
  (NOOP) → or create up to capacity → or block up to max_wait then
  TimeoutError (pool.py:88-160).
- return = requeue, or close when pool is full (pool.py:162-182).
- stale connections are detected by NOOP on borrow and replaced
  (pool.py:212-227). Idle connections are never evicted: the reference
  stores an idle_timeout but enforces it nowhere (pool.py:59,76), so this
  pool does not take one.
- manager is a process-wide singleton with double-checked locking
  (pool.py:260-306); under Spark that means ONE pool per (server,
  executor python worker), reused across tasks and micro-batches — the
  Spark analogue of the reference's per-consumer-process pool.
- connections ACK a `1xx` preliminary reply at once (QuickAckFTP): a
  server that writes `150` and then `226` as two small segments would
  otherwise hold `226` under Nagle until the client's delayed ACK of
  `150` fires, a fixed ~40 ms stall on every RETR and STOR.
"""

from __future__ import annotations

import os
import queue
import socket
import threading
import time
from ftplib import FTP
from typing import Callable

DEFAULT_POOL_SIZE = int(os.environ.get("FTP_POOL_SIZE", "4"))
DEFAULT_MAX_WAIT = float(os.environ.get("FTP_POOL_MAX_WAIT", "30.0"))
DEFAULT_CONNECT_TIMEOUT = float(os.environ.get("FTP_CONNECT_TIMEOUT", "30.0"))


class PoolTimeoutError(TimeoutError):
    pass


class QuickAckFTP(FTP):
    """ftplib.FTP that ACKs a preliminary (1xx) reply immediately, so the
    server's completion reply is not held back behind a delayed ACK.
    Nothing visible changes on the protocol level."""

    def getresp(self) -> str:
        resp = super().getresp()
        if resp[:1] == "1" and hasattr(socket, "TCP_QUICKACK"):
            self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        return resp


class FTPConnectionPool:
    """Bounded, validating connection pool for one server."""

    def __init__(
        self,
        host: str,
        port: int,
        username: str,
        password: str,
        pool_size: int = DEFAULT_POOL_SIZE,
        max_wait: float = DEFAULT_MAX_WAIT,
        connect_timeout: float = DEFAULT_CONNECT_TIMEOUT,
        factory: Callable[[], FTP] | None = None,
    ) -> None:
        self._host, self._port = host, port
        self._username, self._password = username, password
        self._pool_size = pool_size
        self._max_wait = max_wait
        self._connect_timeout = connect_timeout
        self._factory = factory or self._connect
        self._idle: queue.Queue = queue.Queue()
        self._created = 0
        self._lock = threading.Lock()

    def _connect(self) -> FTP:
        conn = QuickAckFTP()
        conn.connect(self._host, self._port, timeout=self._connect_timeout)
        conn.login(self._username, self._password)
        conn.set_pasv(True)
        return conn

    @staticmethod
    def _is_alive(conn: FTP) -> bool:
        try:
            conn.voidcmd("NOOP")
            return True
        except Exception:
            return False

    def _close_quietly(self, conn: FTP) -> None:
        try:
            conn.quit()
        except Exception:
            try:
                conn.close()
            except Exception:
                pass

    def borrow(self) -> FTP:
        """Reuse an idle validated connection, create if below capacity,
        else block up to max_wait for a return."""
        deadline = None
        while True:
            try:
                conn = self._idle.get_nowait()
            except queue.Empty:
                conn = None
            if conn is not None:
                if self._is_alive(conn):
                    return conn
                self.discard(conn)
                continue
            with self._lock:
                if self._created < self._pool_size:
                    self._created += 1
                    create = True
                else:
                    create = False
            if create:
                try:
                    return self._factory()
                except Exception:
                    with self._lock:
                        self._created -= 1
                    raise
            # at capacity: block for a returned connection
            if deadline is None:
                deadline = time.monotonic() + self._max_wait
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                raise PoolTimeoutError(
                    f"no connection available for {self._host}:{self._port} within {self._max_wait}s"
                )
            try:
                conn = self._idle.get(timeout=remaining)
            except queue.Empty:
                raise PoolTimeoutError(
                    f"no connection available for {self._host}:{self._port} within {self._max_wait}s"
                ) from None
            if self._is_alive(conn):
                return conn
            self.discard(conn)
            # loop back: capacity freed, we may create fresh

    def return_connection(self, conn: FTP) -> None:
        self._idle.put(conn)

    def discard(self, conn: FTP) -> None:
        """Close a borrowed connection instead of re-pooling it — for
        failures mid-transfer, where the control channel may be
        desynchronized (a pending reply would poison the next borrower's
        NOOP validation)."""
        self._close_quietly(conn)
        with self._lock:
            self._created -= 1

    def close_all(self) -> None:
        while True:
            try:
                conn = self._idle.get_nowait()
            except queue.Empty:
                break
            self.discard(conn)


class FTPPoolManager:
    """Process-wide singleton registry of pools, keyed host:port:username."""

    _instance: "FTPPoolManager | None" = None
    _instance_lock = threading.Lock()

    def __init__(self) -> None:
        self._pools: dict[str, FTPConnectionPool] = {}
        self._lock = threading.Lock()

    @classmethod
    def instance(cls) -> "FTPPoolManager":
        if cls._instance is None:
            with cls._instance_lock:
                if cls._instance is None:
                    cls._instance = cls()
        return cls._instance

    def get_pool(self, host: str, port: int, username: str, password: str) -> FTPConnectionPool:
        key = f"{host}:{port}:{username}"
        pool = self._pools.get(key)
        if pool is None:
            with self._lock:
                pool = self._pools.get(key)
                if pool is None:
                    pool = FTPConnectionPool(host, port, username, password)
                    self._pools[key] = pool
        return pool

    def close_all(self) -> None:
        with self._lock:
            for pool in self._pools.values():
                pool.close_all()
            self._pools.clear()
