#!/usr/bin/env python3
"""Extraction-engine benchmark: one workload, one seed, one fresh Spark
process, one JSON result line.

    python3 perfbench/run.py --workload extract_markup --seed 1 --seconds 12 --trace 0

Run it from the repository root.  Both workloads run Spark at ``local[2]``
on transcripts generated from the seed (``transcripts.
generate_conversation``: Zipf conversation lengths, mixed markup):

- ``extract_markup``: ``pipeline.extract_transcripts`` in ``map_only``
  mode into the noop sink.  Kernel-bound: no shuffle and no write.
  ``wall_s`` is the median pass.
- ``resume_skewed``: ``checkpoint.run_with_checkpoint`` in ``hash_conv``
  mode.  A fault run fails a fixed bucket and ends ``FAILED``; a second
  call resumes to ``COMPLETED`` and writes ``partitionBy("bucket")``
  parquet.  ``wall_s`` is the median resume call.

End-to-end metrics (``--trace 0``): ``setup_s`` (session start + median of
three input builds + warm-up), ``wall_s``, ``turns_per_s`` (turns over the
median timed wall; for ``resume_skewed`` over fault run plus resume) and
``peak_pss_mb`` (peak summed proportional set size of the Spark JVM, its
Python workers and the driver process) and ``python_pss_mb`` (the same for
the Python processes alone: the JVM heap is most of the total and varies
with when G1 grows it, so a Python-side change shows here first).
Outputs are checked outside the timed windows: every turn against
in-process ``kernel.convert_text``, the golden fixtures byte-exact, and the
resumed output against a clean run, bucket by bucket.  Mismatches count in
``failed``.

``--trace 1`` runs the traced layer sweep (``worker.layer_sweep``), the
same for both workloads, and prints the per-layer metrics instead.
``--size smoke`` shrinks every input for a quick self-check
(``perfbench/selftest.py``).

Before the result line, one ``{"perfbench_run": ...}`` line records the
environment (cores, versions, seeds, load average) and the run's detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Seed held back for checking a later claimed gain on inputs the change
# was not tuned on.
VALIDATION_SEED = 20261017
# A fixed, small driver heap (the program's default is 64g): the JVM's
# heap grows only as far as the program needs, up to this cap, and that
# growth counts in peak_pss_mb.
DRIVER_MEM = "1g"
TIMEOUT_S = 160
# What a run needs from the program; without it the benchmark cannot run.
PROGRAM_FILES = (
    "extractor/__init__.py", "__spark_entry__.py", "bench.py",
    "tests/driver_sim.py", "fixtures/golden_kernel.json",
)
SAMPLE_S = 0.2


def _session_pids(sid: int) -> dict[int, int]:
    """Live (non-zombie) processes of session *sid*, each with its parent."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            procs[int(name)] = int(fields[1])
    return procs


def _pss_mb(procs: dict[int, int]) -> tuple[float, float]:
    """Summed proportional set size of the JVM and of the other (Python)
    processes: resident memory, with each page shared by forked Python
    workers split between the processes sharing it."""
    exes = {}
    for pid in procs:
        try:
            exes[pid] = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
    jvm_kb = py_kb = 0
    for pid, exe in exes.items():
        if exe == "java" and exes.get(procs[pid]) == "java":
            # a child the JVM is spawning: until it execs it runs in the
            # JVM's own memory, which would count twice
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        if exe == "java":
            jvm_kb += kb
        else:
            py_kb += kb
    return jvm_kb / 1024, py_kb / 1024


def _stop_session(sid: int) -> None:
    """Stop every process left in session *sid* and wait until none is."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < deadline:
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                pass
            time.sleep(0.2)
        if not _session_pids(sid):
            return


def _run_worker(args, work: str, result_path: str) -> tuple[int, dict, str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GC_OPTS"}
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work-dir", work, "--result", result_path,
    ]
    log_path = os.path.join(work, "worker.log")
    peak = dict.fromkeys(("peak_pss_mb", "jvm_pss_mb", "python_pss_mb"), 0.0)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        deadline = time.monotonic() + TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                jvm, py = _pss_mb(_session_pids(proc.pid))
                for key, mb in (("peak_pss_mb", jvm + py), ("jvm_pss_mb", jvm), ("python_pss_mb", py)):
                    peak[key] = max(peak[key], mb)
                time.sleep(SAMPLE_S)
        finally:
            _stop_session(proc.pid)
            proc.wait()
    with open(log_path) as f:
        tail = f.read()[-4000:]
    return proc.returncode, peak, tail


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    result_path = os.path.join(work, "result.json")
    load_before = os.getloadavg()
    try:
        rc, peak, log_tail = _run_worker(args, work, result_path)
        if rc != 0 or not os.path.exists(result_path):
            print(log_tail, file=sys.stderr)
            print(f"perfbench: worker exited with code {rc}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(result["metrics"], **peak)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in declared}
    record = {
        "workload": args.workload, "seed": args.seed, "validation_seed": VALIDATION_SEED,
        "trace": args.trace, "size": args.size, "seconds": args.seconds,
        "nproc": len(os.sched_getaffinity(0)), "cores_used": result["cores"], "driver_mem": DRIVER_MEM,
        "python": sys.version.split()[0], "versions": result["versions"],
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "peak_memory": peak, "failed_share": result["failed"] / result["attempted"],
        "detail": result["detail"],
    }
    print(json.dumps({"perfbench_run": record}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
