"""Shared benchmark machinery: the run's sandbox directories, Spark
session set-up, an RSS sampler, in-memory trace spans, the event-log
reader for Spark and streaming counters, and the host stamp.

Nothing here touches the engine beyond its public entry points
(``session.get_spark`` / ``session.prep``); every number is timed from
this package around calls into the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
MB = 1024 * 1024


def prepare_workdir(name: str, trace: bool) -> str:
    """Create the run's private directory under ``perfbench/.work`` and
    point every temp/scratch location of Python, the JVM and Spark at it,
    so a run reads and writes only inside the checkout. Must run before
    pyspark starts its JVM."""
    work = os.path.join(BENCH_DIR, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "conf", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Spark counters for the traced run come from the event log; it is
        # enabled here, through a conf dir of the benchmark's own
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"  # plain JSON lines
    conf_dir = os.path.join(work, "conf")
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ["SPARK_CONF_DIR"] = conf_dir
    import tempfile

    tempfile.tempdir = tmp
    return work


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond: int = 10):
    """Highest percentile of ``xs`` with at least ``beyond`` samples above
    it (capped at a third of the samples, so short series still report a
    value above the median). Returns (value, percentile)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    k = min(beyond, n // 3)
    idx = n - 1 - k
    return s[idx], 100.0 * (idx + 1) / n


class Tracer:
    """Spans (name, layer, start, end, parent, run id) kept in memory and
    written as JSON at exit. Disabled tracers cost one branch per span."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled, self.run_id = enabled, run_id
        self.phase = "setup"  # stamped on each span
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "phase": self.phase, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_time_by_layer(self, phase: str) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover,
        summed over the spans of one phase."""
        spans = [s for s in self.spans if s["phase"] == phase]
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (parent pid, state, start time, RSS pages) of every process,
    from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), fields[0], int(fields[19]), int(fields[21]))
    return out


def _descendants(root: int, table=None) -> dict[int, int]:
    """pid -> start time of every process below ``root``."""
    table = table if table is not None else _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][2]
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of a process tree (the Spark JVM and the Python
    workers it forks), polled from /proc on a background thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.root_pid = None
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._active = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @staticmethod
    def tree_rss(root: int) -> int:
        table = _proc_table()
        page = os.sysconf("SC_PAGE_SIZE")
        return page * sum(table[p][3] for p in [root, *_descendants(root, table)] if p in table)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            if self._active.is_set() and self.root_pid:
                self.peak = max(self.peak, self.tree_rss(self.root_pid))

    def measure(self, on: bool) -> None:
        if on and self.root_pid:
            self.peak = max(self.peak, self.tree_rss(self.root_pid))
        (self._active.set if on else self._active.clear)()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def setup_session(tracer: Tracer, warmup):
    """The session as a user gets it: the engine's factory (which launches
    the JVM), package shipping and the workload's warm-up."""
    from etl_file_sync_spark.session import get_spark, prep

    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench")
    with tracer.span("session.prep", "session"):
        prep(spark)
    with tracer.span("session.warmup", "session"):
        warmup(spark)
    return spark


def stop_all(timeout: float = 30.0) -> None:
    """Stop the Spark session and its JVM, and wait until every process this
    one started has ended: the JVM, the Python workers it forked and the
    FTP server. Nothing of a run may outlive it and serve the next one."""
    started = _descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:  # a broken session still has a JVM to end
                pass
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # close the Python side first, so no finalizer of a Java object
            # writes to a JVM that is going away; the JVM exits when its
            # stdin closes
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # the JVM's Python workers are orphans by now, not children to wait on:
    # poll until each is gone (a zombie or a reused pid counts as gone)
    deadline = time.monotonic() + timeout
    alive = started
    while alive:
        table = _proc_table()
        alive = {p: t for p, t in alive.items() if p in table and table[p][1] != "Z" and table[p][2] == t}
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        if alive:
            time.sleep(0.05)
    while True:  # reap this process's own exited children
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cached_mb(spark) -> float:
    """Block-manager storage (memory + disk) still held by RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


STREAM_DURATIONS = {  # metric -> StreamingQueryProgress.durationMs key
    "stream.trigger_ms_p50": "triggerExecution",
    "stream.get_batch_ms_p50": "getBatch",
    "stream.add_batch_ms_p50": "addBatch",
    "stream.query_planning_ms_p50": "queryPlanning",
    "stream.wal_commit_ms_p50": "walCommit",
    "stream.commit_offsets_ms_p50": "commitOffsets",
}


def event_log_counters(eventlog_dir: str, t0: float, t1: float) -> dict[str, float]:
    """From the event log, for [t0, t1] (epoch seconds): jobs/stages/tasks,
    executor run and CPU time and shuffle-write MB of every job submitted
    in the window, and the micro-batch count and per-phase median
    ``durationMs`` of every streaming progress event in it. Call after the
    session is stopped so the log is complete."""
    from datetime import datetime

    jobs_stages: set[int] = set()
    n_jobs = 0
    tasks, run_ms, cpu_ns, shuffle = 0, 0, 0, 0
    task_rows = []
    progress = []
    # Spark 4 writes rolling logs: one directory of events_* files per app
    # (beside appstatus markers and hidden .crc checksums)
    files = sorted(os.path.join(d, f) for d, _, names in os.walk(eventlog_dir) for f in names
                   if f.startswith("events_"))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if t0 * 1000 <= ev.get("Submission Time", 0) <= t1 * 1000:
                        n_jobs += 1
                        jobs_stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    task_rows.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = ev["progress"]
                    at = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                    if t0 <= at <= t1:
                        progress.append(p["durationMs"])
    stages = set()
    for stage, m in task_rows:
        if stage not in jobs_stages:
            continue
        stages.add(stage)
        tasks += 1
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    out = {
        "spark.jobs": n_jobs,
        "spark.stages": len(stages),
        "spark.tasks": tasks,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_mb": shuffle / MB,
        "stream.batches": len(progress),
    }
    for metric, key in STREAM_DURATIONS.items():
        out[metric] = median([d.get(key, 0) for d in progress])
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: time a run waited that no code change explains."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def host_stamp() -> dict:
    def git_commit() -> str:
        # read .git directly: a benchmark checkout is usually not a git
        # repository, and git itself would search parent directories
        try:
            with open(os.path.join(REPO_ROOT, ".git", "HEAD")) as fh:
                head = fh.read().strip()
            if head.startswith("ref: "):
                with open(os.path.join(REPO_ROOT, ".git", head[5:])) as fh:
                    head = fh.read().strip()
            return head
        except OSError:
            return "unknown"

    try:
        import pyspark

        pv = pyspark.__version__
    except ImportError:
        pv = "missing"
    nproc = os.cpu_count() or 1
    load1 = os.getloadavg()[0]
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "loadavg_start": load1,
        "git_commit": git_commit(),
        "pyspark": pv,
        # a host whose run queue already filled every core before the run
        # started is flagged: its numbers say more about the box than the code
        "loaded_host": load1 >= nproc,
    }
