"""Steadiness check: run one workload with several seeds, one after
another, and print each metric's median and quartile spread
(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives them.

    python3 perfbench/spread.py --workload sync_ftp_mixed --runs 10 [--seconds 8] [--first-seed 100]

Run it on a quiet host: every run is timed, so anything else running
shows up as spread.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    run_py = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values: dict[str, list[float]] = {}
    for k in range(args.runs):
        seed = args.first_seed + k
        cmd = [sys.executable, run_py, "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        host = json.loads(next((ln for ln in lines if ln.startswith("host ")), "host {}")[5:])
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} wall {host.get('wall_s', 0):.1f}s "
              f"steal {host.get('steal_pct', 0):.1f}% loadavg {host.get('loadavg_start', 0):.2f}", flush=True)
        print("  host " + json.dumps(host), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _q2, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:40s} median {med:12.4f}  spread {spread:7.3f}  values {[round(v, 4) for v in vs]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
