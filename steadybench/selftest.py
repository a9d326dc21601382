"""Self-test of the benchmark at tiny size.

    python3 steadybench/selftest.py

Runs every workload untraced and traced at tiny size and checks that
every declared metric is printed by name with its unit, that the output
checks pass, and that the workload and metric names in BENCHMARK.json
are the ones the runner prints.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from steadybench.run import END_TO_END, PER_LAYER
    from steadybench.workloads import MIN_SAMPLES, TINY, WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    declared = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    if declared["end_to_end"] != END_TO_END:
        problems.append(f"end_to_end in BENCHMARK.json {declared['end_to_end']} != runner {END_TO_END}")
    if declared["per_layer"] != PER_LAYER:
        problems.append("per_layer in BENCHMARK.json differs from the runner's PER_LAYER")
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        problems.append(f"workloads in BENCHMARK.json != runner {list(WORKLOADS)}")
    for name, w in WORKLOADS.items():
        passes = -(-MIN_SAMPLES // (len(w.queries) or TINY["days"] + 1))
        for trace, metrics in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [sys.executable, str(spec["command"][1]), "--workload", name, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny", "--warmup", "1",
                   "--passes", str(passes)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            label = f"{name} trace={trace}"
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{label}: no result line (exit {proc.returncode}): {proc.stderr[-2000:]}")
                continue
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{label}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or proc.returncode:
                problems.append(f"{label}: correct={result['correct']} failed={result['failed']} "
                                f"exit={proc.returncode}: {proc.stderr[-2000:]}")
            printed = {k: v.get("unit") for k, v in result["metrics"].items()}
            if printed != metrics:
                problems.append(f"{label}: printed metrics {printed} != declared {metrics}")
            for k, v in result["metrics"].items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{label}: {k} has no numeric value")
            print(f"{label}: attempted {result['attempted']}, failed {result['failed']}, "
                  f"{len(printed)} metrics", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
