"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: sync_ftp_mixed, query_mix (see
perfbench/README.md). Inputs are generated from --seed before any timing.
The last stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}: the ``end_to_end`` metrics of BENCHMARK.json with --trace 0,
its ``per_layer`` metrics with --trace 1. A run whose outputs fail their
checks exits 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here, the process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import (  # noqa: E402
    MB,
    REPO_ROOT,
    RssSampler,
    Tracer,
    cached_mb,
    cpu_times,
    event_log_counters,
    host_stamp,
    jvm_pid,
    median,
    prepare_workdir,
    setup_session,
    steal_pct,
    stop_all,
    tail,
)

WORKLOADS = ("sync_ftp_mixed", "query_mix")


def declared_metrics(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def make_workload(name: str, work: str, seed: int, tracer):
    if name == "query_mix":
        from perfbench.querymix import QueryMix

        return QueryMix(work, seed, tracer)
    from perfbench.sync import FtpMixed

    return FtpMixed(work, seed, tracer)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    # a terminated run unwinds like a failed one, through the clean-up below
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    stamp = host_stamp()
    work = prepare_workdir(f"{args.workload}-s{args.seed}", traced)
    try:
        line = run(args, traced, work, stamp)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    # printed once every process of the run has ended, so nothing follows it
    print("host " + json.dumps(stamp), flush=True)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


def run(args, traced: bool, work: str, stamp: dict) -> dict:
    import etl_file_sync_spark.session  # noqa: F401  (fail fast without the engine)

    metrics = declared_metrics("per_layer" if traced else "end_to_end")
    tracer = Tracer(traced, f"{args.workload}-s{args.seed}-{os.getpid()}")
    wl = make_workload(args.workload, work, args.seed, tracer)
    cpu_start = cpu_times()
    # input generation and the FTP server are the benchmark's own work:
    # both run outside set-up and every timed region
    t0 = time.perf_counter()
    wl.generate()
    if hasattr(wl, "start_server"):
        wl.start_server()
    harness_s = time.perf_counter() - t0
    stamp["generate_s"] = harness_s
    spark = None
    sampler = RssSampler()
    result: dict = {}
    try:
        spark = setup_session(tracer, wl.warmup)
        setup_s = time.perf_counter() - T_START - harness_s
        sampler.root_pid = jvm_pid()

        def measure(phase_traced: bool):
            before = wl.server.counts() if getattr(wl, "server", None) else None
            sampler.measure(True)
            t0 = time.time()
            out = wl.run(spark, args.seconds, phase_traced)
            t1 = time.time()
            sampler.measure(False)
            after = wl.server.counts() if before is not None else None
            return out, (t0, t1), before, after

        # the untraced phase always runs; a traced run adds a traced phase
        # and reports its total beside the untraced one as the overhead
        tracer.enabled = False
        if hasattr(wl, "settle"):
            wl.settle(spark)
        plain, win, _b, _a = measure(False)
        peak_mb = sampler.peak / MB
        if traced:
            tracer.enabled, tracer.phase = True, "measure"
            traced_out, _win, before, after = measure(True)
        t_check = time.perf_counter()
        checks_bad = wl.check()
        stamp["check_s"] = time.perf_counter() - t_check
        cached = cached_mb(spark)

        if not traced:
            result = wl.end_to_end(plain, setup_s)
        else:
            result = traced_layers(args, wl, plain, traced_out, before, after, cached)
            result["peak_rss_mb"] = peak_mb
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
        if getattr(wl, "server", None) is not None:
            wl.server.stop()
    if traced:
        # Spark and streaming counters of the untraced phase: the engine's
        # own code path, without the traced phase's extra materialisation
        result.update(event_log_counters(os.path.join(work, "eventlog"), *win))
        tracer.dump(os.path.join(os.path.dirname(work), f"trace-{args.workload}-s{args.seed}.json"))
    result = {k: float(result.get(k, 0.0)) for k in metrics}  # 0 where a layer has no work

    attempted = max(wl.attempted, 1)
    failed = wl.failed
    stamp.update(wall_s=time.perf_counter() - T_START, steal_pct=steal_pct(cpu_start, cpu_times()),
                 loadavg_end=os.getloadavg()[0], workload=args.workload, seed=args.seed,
                 setup_s=setup_s, failed_checks=checks_bad)
    if args.workload == "query_mix":
        stamp.update(query_first_s=plain["first"], query_repeats_s=plain["repeats"])
    else:
        steps = [s for r in plain for s in r["steps"]]
        stamp.update(round_walls_s=[r["wall_s"] for r in plain], steps_s=steps, step_tail_percentile=tail(steps)[1])
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics[k]} for k, v in result.items()},
    }


def traced_layers(args, wl, plain, traced_out, before, after, cached) -> dict:
    tr = wl.tracer
    out = {
        "session.get_spark_s": median(tr.durations("session.get_spark")),
        "session.warmup_s": median(tr.durations("session.warmup")),
        "config.servers_df_s": median(tr.durations("config.servers_df")),
        "transform.split_s": median(tr.durations("transform.split")),
        "sink.transfer_s": median(tr.durations("sink.transfer")),
        "sink.dlq_envelope_s": median(tr.durations("sink.dlq_envelope")),
        "sink.status_write_s": median(tr.durations("sink.status_write")),
        "sink.dlq_write_s": median(tr.durations("sink.dlq_write")),
        "cached_mb_end": cached,
    }
    if args.workload == "query_mix":
        # warm totals: first executions of the second pass profit from the
        # first pass's JIT work, which would hide the tracing cost
        untraced, traced_total = sum(plain["warm"].values()), sum(traced_out["warm"].values())
        out.update(wl.layer(plain))
    else:
        untraced = median([s for r in plain for s in r["steps"]])
        traced_total = median([s for r in traced_out for s in r["steps"]])
        out.update(wl.layer_counts())
        out.update(wl.handler_probe())
        out.update(wl.pool_layer(before, after, len(traced_out)))
        out.update(wl.ftp_probe())
    out["trace.untraced_s"] = untraced
    out["trace.traced_s"] = traced_total
    out["trace.overhead_ratio"] = traced_total / untraced if untraced else 0.0
    out["ops_failed_ratio"] = wl.failed / max(wl.attempted, 1)
    for layer, secs in tr.self_time_by_layer("measure").items():
        out[f"self.{layer}_s"] = secs
    return out


if __name__ == "__main__":
    sys.exit(main())
