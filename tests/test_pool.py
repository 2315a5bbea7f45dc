"""Connection-pool semantics tests (reference: tests/test_ftp_pool.py) —
run against a fake connection factory, no FTP server needed."""

from __future__ import annotations

import threading
import time

import pytest

from etl_file_sync_spark.pipeline.pool import FTPConnectionPool, FTPPoolManager, PoolTimeoutError


class FakeConn:
    def __init__(self):
        self.alive = True
        self.closed = False

    def voidcmd(self, cmd):
        if not self.alive:
            raise OSError("dead")

    def quit(self):
        self.closed = True

    def close(self):
        self.closed = True


def mk_pool(size=2, max_wait=0.3):
    created = []

    def factory():
        c = FakeConn()
        created.append(c)
        return c

    p = FTPConnectionPool("h", 21, "u", "p", pool_size=size, max_wait=max_wait, factory=factory)
    return p, created


def test_reuse_validated_connection():
    p, created = mk_pool()
    c1 = p.borrow()
    p.return_connection(c1)
    c2 = p.borrow()
    assert c2 is c1 and len(created) == 1


def test_exhaustion_times_out():
    p, _ = mk_pool(size=1, max_wait=0.15)
    p.borrow()
    t0 = time.monotonic()
    with pytest.raises(PoolTimeoutError):
        p.borrow()
    assert time.monotonic() - t0 >= 0.14


def test_blocked_borrower_unblocks_on_return():
    p, _ = mk_pool(size=1, max_wait=2.0)
    c1 = p.borrow()
    got = []

    def waiter():
        got.append(p.borrow())

    th = threading.Thread(target=waiter)
    th.start()
    time.sleep(0.05)
    p.return_connection(c1)
    th.join(timeout=2)
    assert got and got[0] is c1


def test_stale_connection_replaced():
    p, created = mk_pool()
    c1 = p.borrow()
    c1.alive = False
    p.return_connection(c1)
    c2 = p.borrow()
    assert c2 is not c1 and c1.closed and len(created) == 2


def test_close_all():
    p, created = mk_pool(size=2)
    a, b = p.borrow(), p.borrow()
    p.return_connection(a)
    p.return_connection(b)
    p.close_all()
    assert all(c.closed for c in created)
    # capacity freed: borrow creates fresh
    c = p.borrow()
    assert not c.closed


def test_concurrent_borrow_return_stress():
    p, created = mk_pool(size=4, max_wait=5.0)
    errors = []

    def worker():
        try:
            for _ in range(25):
                c = p.borrow()
                time.sleep(0.001)
                p.return_connection(c)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(created) <= 4  # never exceeded capacity


def test_manager_singleton_per_key():
    m1, m2 = FTPPoolManager.instance(), FTPPoolManager.instance()
    assert m1 is m2
    p1 = m1.get_pool("hostA", 21, "u", "pw")
    p2 = m1.get_pool("hostA", 21, "u", "pw")
    p3 = m1.get_pool("hostB", 21, "u", "pw")
    assert p1 is p2 and p1 is not p3
