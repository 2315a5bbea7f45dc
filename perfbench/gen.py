"""Seeded input generators for the benchmark workloads.

Everything the engine sees is written here, before any timed region:

- ``sync_ftp_inputs``: a job list with seeded, skewed file sizes; half
  FTP->local (RETR), half local->FTP (STOR), plus a few missing remote
  files. Manifests are rendered per round (``ftp_round_manifest``).
- ``query_tables``: the ten parquet tables the registry queries read,
  in the schema of the engine's synthetic test tables.

The same seed always gives the same bytes. Where the parameters come
from is stated at each generator; perfbench/README.md collects it.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np

LOCAL_SRC, LOCAL_DST, FTP_HOST = "LOCAL_SRC", "LOCAL_DST", "BENCH_FTP"


def digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


@dataclass
class Job:
    kind: str  # "valid" or "nosource"
    src: str = ""
    dst: str = ""
    size: int = 0
    sha: str = ""
    direction: str = ""  # "retr" | "stor"


@dataclass
class SyncInputs:
    jobs: list[Job]
    src_root: str = ""
    ftp_root: str = ""

    def expected(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for j in self.jobs:
            out[j.kind] = out.get(j.kind, 0) + 1
        return out


def _job_line(job_id: str, src_host: str, src: str, dst_host: str, dst: str) -> str:
    return json.dumps(
        {
            "job_id": job_id,
            "source": {"hostname": src_host, "path": src},
            "destination": {"hostname": dst_host, "path": dst},
        }
    )


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def sync_ftp_inputs(root: str, seed: int, n_jobs: int, n_missing: int) -> SyncInputs:
    """Skewed sizes: the quantiles of a Pareto (Lomax, shape 1.2) tail
    over a 128 KiB base, capped at 8 MiB, so a few files carry most of the
    bytes. The size multiset is fixed, and so is each size's direction:
    sizes alternate RETR (FTP -> local) and STOR (local -> FTP) in size
    order, so both directions move nearly the same bytes on every seed.
    The seed sets the contents and the job order. ``n_missing`` extra RETR
    jobs name absent remote files (FTP 550 -> DLQ).

    Provenance: the only measured traffic of the reference is its bulk
    run, 1,000 FTP->FTP files through a pool of 4 connections; its file
    sizes are not recorded. The per-round job count (n_jobs + n_missing
    = 50) is 1/20 of that run, and the benchmark's FTP leg holds at most
    nproc connections (4 on a 4-core host). The size distribution, its
    base and cap, and the missing-file share are not taken from any
    recorded workload: they were chosen so that a few files dominate the
    bytes and one round takes about 2 s on a 4-core host.
    """
    rng = np.random.default_rng(seed)
    q = (np.arange(n_jobs) + 0.5) / n_jobs
    sizes = np.minimum(131072 * (1 - q) ** (-1 / 1.2), 8 << 20).astype(int)
    src_root, ftp_root = os.path.join(root, "src"), os.path.join(root, "ftp")
    jobs = []
    for i, size in enumerate(sizes):
        data = rng.bytes(int(size))
        if i % 2 == 0:
            rel = f"pub/{i % 8}/f{i:05d}.bin"
            _write(os.path.join(ftp_root, rel), data)
            jobs.append(Job("valid", src="/" + rel, dst=f"in/{i % 8}/f{i:05d}.bin", size=int(size), sha=digest(data), direction="retr"))
        else:
            rel = f"out/{i % 8}/f{i:05d}.bin"
            _write(os.path.join(src_root, rel), data)
            jobs.append(Job("valid", src=rel, dst=f"up/{i % 8}/f{i:05d}.bin", size=int(size), sha=digest(data), direction="stor"))
    for k in range(n_missing):
        jobs.append(Job("nosource", src=f"/pub/absent/g{k:03d}.bin", dst=f"in/absent/g{k:03d}.bin", direction="retr"))
    order = rng.permutation(len(jobs))
    return SyncInputs(jobs=[jobs[i] for i in order], src_root=src_root, ftp_root=ftp_root)


def deal(sizes: list[int], parts: int) -> list[list[int]]:
    """Job indices per manifest part file (one transfer task each): largest
    first onto the part with the fewest bytes, then the fewest jobs. A
    round's time follows its fullest task, and this way the same size
    multiset loads every task the same on every seed, whatever the order."""
    load = [(0, 0, p) for p in range(parts)]
    out: list[list[int]] = [[] for _ in range(parts)]
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        nbytes, njobs, p = min(load)
        out[p].append(i)
        load[p] = (nbytes + sizes[i], njobs + 1, p)
    return [sorted(ix) for ix in out]


def ftp_round_manifest(inputs: SyncInputs, seed: int, rnd: int) -> list[str]:
    """Manifest lines for one round. Local destinations are relative to a
    per-round LOCAL_DST base path; remote STOR targets carry the round in
    the path so no round overwrites another."""
    lines = []
    for i, j in enumerate(inputs.jobs):
        jid = f"F{seed}-{rnd}-{i:05d}"
        if j.direction == "retr":
            lines.append(_job_line(jid, FTP_HOST, j.src, LOCAL_DST, j.dst))
        else:
            lines.append(_job_line(jid, LOCAL_SRC, j.src, FTP_HOST, f"/r{rnd}/{j.dst}"))
    return lines


# ---------------------------------------------------------------------------
# query tables

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector line data "
    "table agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "old")
_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "valve", "panel", "cog")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
_EPOCH_2024 = 1_704_067_200_000_000


def query_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf``; returns file sizes.

    Row counts per unit of ``sf`` are TPC-H's (150k customers, 10k
    suppliers, 200k parts, 1.5M orders, 6M line items) and, for events,
    documents and embeddings, those of the engine's synthetic test tables,
    whose sf 0.01 set (about 60k line items) is the one its correctness
    tier checks against DuckDB. Value distributions are uniform; they are
    not fitted to any recorded data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 25), int(200_000 * sf)
    n_ord, n_line, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(base, span_days, n, daily):
        off = rng.integers(0, span_days, n) * _DAY_US if daily else rng.integers(0, span_days * _DAY_US, n)
        return pa.array(base + off, type=pa.timestamp("us"))

    def pick(options, n):
        return pa.array(np.array(options)[rng.integers(0, len(options), n)])

    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(_REGIONS)},
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pick(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord)),
            "o_orderdate": ts(_EPOCH_1995, 2404, n_ord, daily=True),
            "o_orderpriority": pick(_PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": ts(_EPOCH_1995 + _DAY_US, 2498, n_line, daily=True),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": ts(_EPOCH_2024, 30, n_ev, daily=False),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pick(_EVENT_TYPES, n_ev),
            "value": pa.array(money(0.01, 490.02, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(rng.integers(8, 90)))]))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 2.0
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
