"""sync_ftp_mixed: ``run_manifest_batch`` over a manifest of FTP->local
(RETR) and local->FTP (STOR) jobs against the benchmark's own FTP server
process. One round is one manifest batch; rounds repeat until the
measuring time is used.

Traced rounds call the same public pipeline functions in the same order
(``split_valid_dlq`` -> ``run_transfers(...).localCheckpoint`` ->
``dlq_envelope`` -> writes), materialising between them so each span
holds its own work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

from perfbench import gen
from perfbench.harness import MB, median, tail

ERR_CLASSES = (
    ("parse_error", "parse"),
    ("missing_field", "missing"),
    ("unknown_server", "unknown"),
    ("FileNotFoundError", "nosource"),
)


def _classify(error: str) -> str:
    for prefix, kind in ERR_CLASSES:
        if error.startswith(prefix):
            return kind
    return "other"


def _sha(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()
    except OSError:
        return None


def _read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def traced_batch(tracer, raw, servers, status_dir: str, dlq_dir: str, staging: str) -> dict:
    """The pipeline's batch body split into materialised, traced phases."""
    from etl_file_sync_spark.pipeline.sink import run_transfers
    from etl_file_sync_spark.pipeline.transform import dlq_envelope, split_valid_dlq

    with tracer.span("transform.split", "pipeline.transform"):
        split = split_valid_dlq(raw, servers)
        valid = split.valid.localCheckpoint(eager=True)
        dlq_in = split.dlq.localCheckpoint(eager=True)
    n_valid, n_dlq = valid.count(), dlq_in.count()
    with tracer.span("sink.transfer", "pipeline.sink"):
        status = run_transfers(valid, staging).localCheckpoint(eager=True)
    with tracer.span("sink.dlq_envelope", "pipeline.sink"):
        # the same failure projection run_manifest_batch applies
        failures = status.filter("status = 'error'").selectExpr(
            "to_json(named_struct('job_id', job_id, 'src_path', src_path, 'dst_path', dst_path)) AS original_message",
            "error",
        )
        dlq = dlq_envelope(dlq_in.unionByName(failures)).localCheckpoint(eager=True)
    with tracer.span("sink.status_write", "pipeline.sink"):
        status.write.mode("append").parquet(status_dir)
    with tracer.span("sink.dlq_write", "pipeline.sink"):
        dlq.write.mode("append").parquet(dlq_dir)
    n_err = status.filter("status = 'error'").count()
    return {"rows_in": n_valid + n_dlq, "valid": n_valid, "dlq": n_dlq, "ok": n_valid - n_err, "error": n_err}


class FtpMixed:
    """sync_ftp_mixed. A round is N_JOBS transfers plus N_MISSING absent
    remote files: 1/20 of the reference's 1,000-file bulk run."""

    N_JOBS, N_MISSING = 46, 4
    SETTLE_ROUNDS = 3

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.root = os.path.join(work, "sync")
        self.staging = os.path.join(work, "staging")
        os.makedirs(self.staging, exist_ok=True)
        self.batch_counts: list[dict] = []  # traced per-batch counts
        self.failed = 0
        self.attempted = 0
        self._n = 0
        self.server = None

    # -- helpers ------------------------------------------------------------
    def servers(self, spark, dst_base: str):
        from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe

        cfg = [
            ServerConfig(gen.LOCAL_SRC, "local", base_path=self.inputs.src_root),
            ServerConfig(gen.LOCAL_DST, "local", base_path=dst_base),
        ]
        if self.server is not None:
            cfg.append(ServerConfig(gen.FTP_HOST, "ftp", host="127.0.0.1", port=self.server.port,
                                    username="bench", password="bench"))
        with self.tracer.span("config.servers_df", "pipeline.config"):
            return servers_dataframe(spark, cfg)

    def _round_dirs(self, tag: str) -> dict:
        self._n += 1
        base = os.path.join(self.root, f"{tag}{self._n}")
        return {k: os.path.join(base, k) for k in ("dst", "status", "dlq", "manifest")} | {"base": base, "n": self._n}

    def settle(self, spark) -> None:
        """Untimed (but checked) rounds before measuring: the first rounds
        run in fresh Python workers on a JVM still compiling its hot paths
        and take about 15% longer; rounds are steady from the fourth on."""
        for _ in range(self.SETTLE_ROUNDS):
            self.check_round(self.round(spark, False))

    def run(self, spark, seconds: float, traced: bool) -> list[dict]:
        """Closed loop of rounds until ``seconds`` of measured time."""
        out, spent = [], 0.0
        while spent < seconds:
            rec = self.round(spark, traced)
            spent += rec["wall_s"]
            self.check_round(rec)
            out.append(rec)
        return out

    # -- checks (outside every timed region) --------------------------------
    def check_round(self, rec: dict) -> None:
        """Byte-compare destinations, match status/DLQ rows to the
        generator's per-class counts, and validate every DLQ envelope.
        Each job that misses its expected outcome counts as failed."""
        want = self.inputs.expected()
        jobs = self.inputs.jobs
        self.attempted += len(jobs)
        status = _read_parquet_dir(rec["dirs"]["status"])
        dlq = _read_parquet_dir(rec["dirs"]["dlq"])
        got: dict[str, int] = {}
        for row in status:
            if row["status"] == "ok":
                got["valid"] = got.get("valid", 0) + 1
        bad_env = 0
        for row in dlq:
            try:
                env = json.loads(row["value"])
                ok = set(env) == {"original_message", "error", "timestamp", "retry_count"} and env["retry_count"] == 0
            except (ValueError, TypeError):
                ok = False
            if not ok:
                bad_env += 1
                continue
            kind = _classify(env["error"])
            got[kind] = got.get(kind, 0) + 1
        failed = bad_env + sum(abs(got.get(k, 0) - n) for k, n in want.items())
        failed += sum(n for k, n in got.items() if k not in want)
        wrong = [j.dst for j in jobs if j.kind == "valid" and _sha(self.dest_path(j, rec)) != j.sha]
        failed += len(wrong)
        if failed:
            print(f"check round {rec['dirs']['n']}: want {want} got {got} bad envelopes {bad_env} "
                  f"wrong bytes {wrong[:5]}", file=sys.stderr, flush=True)
        rec["failed"] = failed
        self.failed += failed
        shutil.rmtree(rec["dirs"]["base"], ignore_errors=True)
        self.cleanup_round(rec)

    def check(self) -> list[str]:
        return []  # every round was checked as it finished

    # -- metrics ------------------------------------------------------------
    def end_to_end(self, rounds: list[dict], setup_s: float) -> dict:
        wall = sum(r["wall_s"] for r in rounds)
        steps = [s for r in rounds for s in r["steps"]]
        n_ok = sum(1 for j in self.inputs.jobs if j.kind == "valid") * len(rounds)
        nbytes = sum(j.size for j in self.inputs.jobs if j.kind == "valid") * len(rounds)
        tail_v, _pct = tail(steps)
        return {
            "setup_s": setup_s,
            "ops_per_s": n_ok / wall,
            "mb_per_s": nbytes / MB / wall,
            "step_p50_s": median(steps),
            "step_tail_s": tail_v,
        }

    def layer_counts(self) -> dict:
        rows = {k: sum(b[k] for b in self.batch_counts) for k in ("rows_in", "valid", "dlq", "ok", "error")}
        return {
            "transform.rows_in": rows["rows_in"],
            "transform.valid_rows": rows["valid"],
            "transform.dlq_rows": rows["dlq"],
            "transform.valid_ratio": rows["valid"] / rows["rows_in"] if rows["rows_in"] else 0.0,
            "sink.ok_rows": rows["ok"],
            "sink.error_rows": rows["error"],
        }

    def handler_probe(self, n: int = 24) -> dict:
        """Per-file medians of direct handler calls on a seeded sample of
        this workload's jobs (driver-side, outside any timed region)."""
        from etl_file_sync_spark.pipeline.config import ServerConfig
        from etl_file_sync_spark.pipeline.handlers import LocalTransfer

        rng = np.random.default_rng(self.seed)
        probe = os.path.join(self.work, "probe")
        src = LocalTransfer(ServerConfig(gen.LOCAL_SRC, "local", base_path=self.inputs.src_root))
        dst = LocalTransfer(ServerConfig(gen.LOCAL_DST, "local", base_path=os.path.join(probe, "dst")))
        local = [j for j in self.inputs.jobs if j.kind == "valid" and not j.src.startswith("/")]
        for k in rng.permutation(len(local))[:n]:
            j, tmp = local[k], os.path.join(probe, f"t{k}")
            with self.tracer.span("handlers.local_download", "pipeline.handlers"):
                src.download(j.src, tmp)
            with self.tracer.span("handlers.local_upload", "pipeline.handlers"):
                dst.upload(tmp, j.src)
        down = self.tracer.durations("handlers.local_download")
        up = self.tracer.durations("handlers.local_upload")
        shutil.rmtree(probe, ignore_errors=True)
        return {"handlers.local_download_s": median(down), "handlers.local_upload_s": median(up)}

    def generate(self) -> None:
        self.inputs = gen.sync_ftp_inputs(self.root, self.seed, self.N_JOBS, self.N_MISSING)

    def start_server(self) -> None:
        from perfbench.ftpd import FTPServerProcess

        self.server = FTPServerProcess(self.inputs.ftp_root, os.path.join(self.work, "ftp-counts.bin"))

    def dest_path(self, job, rec) -> str:
        if job.direction == "retr":
            return os.path.join(rec["dirs"]["dst"], job.dst)
        return os.path.join(self.inputs.ftp_root, f"r{rec['dirs']['n']}", job.dst)

    def cleanup_round(self, rec: dict) -> None:
        shutil.rmtree(os.path.join(self.inputs.ftp_root, f"r{rec['dirs']['n']}"), ignore_errors=True)

    def _manifest(self, d: dict, lines=None) -> str:
        """Write this round's manifest as one part file per task slot, so
        the transfer stage runs nproc tasks (and at most nproc FTP
        connections are borrowed at once), with the bytes dealt evenly."""
        if lines is None:
            lines = gen.ftp_round_manifest(self.inputs, self.seed, d["n"])
        sizes = [j.size for j in self.inputs.jobs[:len(lines)]]
        os.makedirs(d["manifest"])
        for p, part in enumerate(gen.deal(sizes, os.cpu_count() or 1)):
            with open(os.path.join(d["manifest"], f"part{p:03d}.jsonl"), "w") as fh:
                fh.write("".join(lines[i] + "\n" for i in part))
        return d["manifest"]

    def _batch(self, spark, d: dict, manifest: str, traced: bool) -> None:
        from etl_file_sync_spark.pipeline.sink import run_manifest_batch

        servers = self.servers(spark, d["dst"])
        raw = spark.read.text(manifest)
        if traced:
            self.batch_counts.append(traced_batch(self.tracer, raw, servers, d["status"], d["dlq"], self.staging))
            return
        status, dlq = run_manifest_batch(raw, servers, self.staging)
        status.write.mode("append").parquet(d["status"])
        dlq.write.mode("append").parquet(d["dlq"])

    def warmup(self, spark) -> None:
        d = self._round_dirs("warm")
        # a small batch: the first big transfers in fresh Python workers are
        # slow, but the untimed settle round absorbs that one-off cost
        lines = gen.ftp_round_manifest(self.inputs, self.seed, d["n"])[:8]
        self._batch(spark, d, self._manifest(d, lines), traced=False)
        shutil.rmtree(d["base"], ignore_errors=True)
        self.cleanup_round({"dirs": d})

    def round(self, spark, traced: bool) -> dict:
        d = self._round_dirs("r")
        manifest = self._manifest(d)  # generation: outside the timed region
        t0 = time.perf_counter()
        with self.tracer.span("manifest.batch", "pipeline.sink"):
            self._batch(spark, d, manifest, traced)
        wall = time.perf_counter() - t0
        return {"dirs": d, "wall_s": wall, "steps": [wall]}

    def pool_layer(self, before: dict, after: dict, n_rounds: int) -> dict:
        delta = {k: after[k] - before[k] for k in after}
        ftp_jobs = sum(1 for j in self.inputs.jobs) * n_rounds
        transfers = delta["RETR"] + delta["STOR"]
        return {
            "pool.connects": delta["connects"],
            "pool.connects_per_job": delta["connects"] / ftp_jobs if ftp_jobs else 0.0,
            "pool.noop_per_transfer": delta["NOOP"] / transfers if transfers else 0.0,
        }

    def ftp_probe(self, n: int = 16) -> dict:
        """Direct FTP handler and pool calls on a seeded job sample."""
        from etl_file_sync_spark.pipeline.config import ServerConfig
        from etl_file_sync_spark.pipeline.handlers import FTPTransfer
        from etl_file_sync_spark.pipeline.pool import FTPConnectionPool

        rng = np.random.default_rng(self.seed + 1)
        cfg = ServerConfig(gen.FTP_HOST, "ftp", host="127.0.0.1", port=self.server.port, username="bench", password="bench")
        ftp = FTPTransfer(cfg)
        probe = os.path.join(self.work, "probe")
        os.makedirs(probe, exist_ok=True)
        retr = [j for j in self.inputs.jobs if j.direction == "retr" and j.kind == "valid"]
        stor = [j for j in self.inputs.jobs if j.direction == "stor"]
        nbytes, secs = 0, 0.0
        for k in rng.permutation(len(retr))[:n]:
            j = retr[k]
            with self.tracer.span("handlers.ftp_download", "pipeline.handlers") as sp:
                ftp.download(j.src, os.path.join(probe, f"g{k}"))
            nbytes, secs = nbytes + j.size, secs + sp["end"] - sp["start"]
        for k in rng.permutation(len(stor))[:n]:
            j = stor[k]
            with self.tracer.span("handlers.ftp_upload", "pipeline.handlers") as sp:
                ftp.upload(os.path.join(self.inputs.src_root, j.src), f"/probe/{j.dst}")
            nbytes, secs = nbytes + j.size, secs + sp["end"] - sp["start"]
        pool = FTPConnectionPool("127.0.0.1", self.server.port, "bench", "bench")
        for _ in range(n):
            with self.tracer.span("pool.borrow", "pipeline.pool"):
                conn = pool.borrow()
            pool.return_connection(conn)
        pool.close_all()
        shutil.rmtree(probe, ignore_errors=True)
        shutil.rmtree(os.path.join(self.inputs.ftp_root, "probe"), ignore_errors=True)
        return {
            "handlers.ftp_download_s": median(self.tracer.durations("handlers.ftp_download")),
            "handlers.ftp_upload_s": median(self.tracer.durations("handlers.ftp_upload")),
            "handlers.ftp_mb_per_s": nbytes / MB / secs if secs else 0.0,
            "pool.borrow_s": median(self.tracer.durations("pool.borrow")),
        }
