"""Run one workload over several seeds and report each end-to-end
metric's median and spread (interquartile distance over the median).

    python3 steadybench/spread.py --workload analytics_scan --seeds 1-10

Runs are made one after the other, never interleaved, so that drift of
the box between two sets of runs shows up between sets.  Before each
run a fixed pure-Python loop is timed (``probe``): it does not touch the
engine, so when it slows down between sets the box slowed down, not the
program.  After each run the script checks that the run left no Spark
or Python worker process and no private directory behind.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

SPARK_MARKS = (b"org.apache.spark", b"pyspark.daemon", b"pyspark.worker")


def probe_s() -> float:
    """Seconds for a fixed amount of single-threaded CPU work."""
    t0 = time.perf_counter()
    h = b"steadybench"
    for _ in range(400_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def leftovers() -> list[str]:
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if any(m in cmd for m in SPARK_MARKS):
            found.append(f"process {pid}")
    if Path(".bench_run").exists():
        found.append(".bench_run/")
    return found


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    lo, _, hi = args.seeds.partition("-")
    values: dict[str, list[float]] = {}
    probes = []
    for seed in range(int(lo), int(hi or lo) + 1):
        probes.append(probe_s())
        t0 = time.time()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=900,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: exit {proc.returncode}, correct {result['correct']}, "
              f"{result['attempted']} ops, {result['failed']} failed, {time.time() - t0:.1f}s wall, "
              f"probe {probes[-1]:.3f}s; "
              + ", ".join(f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        phases = [ln for ln in proc.stderr.splitlines() if ln.startswith(("generate", "checks", "stop"))]
        passes = [ln.split()[3] for ln in proc.stderr.splitlines() if ln.startswith("pass ")]
        print("  " + "; ".join(phases) + "; pass times " + " ".join(passes), flush=True)
        left = leftovers()
        if left:
            print(f"  left behind: {', '.join(left)}", flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"probe median {statistics.median(probes):.3f}s, range {min(probes):.3f}-{max(probes):.3f}s")
    print(f"{'metric':24} {'median':>10} {'spread':>7} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:24} {med:10.4g} {(q3 - q1) / med:7.3f} {bounds.get(k) or '':>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
