#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size: every workload untraced, then
one traced layer sweep; each must exit 0 and print a correct result whose
metrics are all finite numbers.  Takes a few minutes.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(workload: str, trace: int) -> str | None:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        return f"exited {proc.returncode}:\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        return f"{result['failed']} of {result['attempted']} checks failed"
    bad = [k for k, v in result["metrics"].items() if not math.isfinite(v["value"])]
    return f"non-finite metrics {bad}" if bad else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    failed = 0
    for workload, trace in [(w, 0) for w in workloads] + [(workloads[0], 1)]:
        problem = check(workload, trace)
        print(f"{workload} trace={trace}: {problem or 'ok'}", flush=True)
        failed += problem is not None
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
