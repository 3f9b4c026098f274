"""Benchmark entry point: run one workload in a fresh, watched child process.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--seconds`` is the run length; BENCHMARK.json
fixes it (``run_seconds``) so every commit is measured for the same time. The
child (perfbench/harness.py) starts its own Spark session sized to this
machine, builds the workload's inputs from the seed, measures and checks the
outputs. This parent owns the child's process group: it forwards the child's
report, prints the result JSON as the last stdout line, and kills whatever
the child left running. It exits non-zero when a workload fails its
correctness check.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "etl_german_fhir_core_spark")
WORKLOADS = ("ingest_trickle", "dedup_corpus")
# a run must end within 180 s; leave room to reap the process group
CHILD_TIMEOUT_S = 165


def _total_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def child_env(work: str) -> dict:
    """Environment for the child: package importable from any cwd (Python
    workers inherit it through the JVM), driver heap sized to this box,
    and every scratch directory inside the work dir."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    mem_mb = max(1024, min(2048, _total_mem_mb() // 5))
    env["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def _pgid_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state; fields[2] the process group id
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int, grace: float) -> None:
    """Stop every process left in the child's group and wait until gone.
    The JVM normally exits by itself once the child has; give it that
    chance first so its shutdown hooks finish."""
    deadline = time.monotonic() + grace
    while time.monotonic() < deadline and _pgid_alive(pgid):
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if not _pgid_alive(pgid):
                return
            time.sleep(0.1)


def run_workload(args, workload: str) -> dict | None:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "harness.py"),
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out_path,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work),
                            start_new_session=True)
    rc = None
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {workload} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        _reap_group(proc.pid, grace=15 if rc is not None else 0)
        if proc.poll() is None:
            proc.wait()
    result = None
    if rc == 0 and os.path.exists(out_path):
        with open(out_path) as fh:
            result = json.load(fh)
    elif rc is not None:
        print(f"perfbench: {workload} child exited with {rc}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        res = run_workload(args, name)
        if res is None:
            return 1
        results.append(res)
    try:
        os.rmdir(os.path.join(ROOT, ".perfbench_work"))
    except OSError:
        pass  # another run's work dir is still there
    if len(results) == 1:
        print(json.dumps(results[0]))
    else:
        print(json.dumps({"workloads": dict(zip(names, results))}))
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
