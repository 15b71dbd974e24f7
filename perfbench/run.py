#!/usr/bin/env python3
"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload search_dist --seed 1 --seconds 8 --trace 0

Runs the workload in a child process (a fresh JVM on local[<cores>]),
with every scratch directory inside ``.perfbench_run/`` of the checkout,
and removes them, and every process the run started, before it exits.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics`` holds
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exits 0 only when every checked result was correct.

``--scale tiny`` and ``--corrupt`` exist for ``selftest.py``.
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
WORKLOADS = ("search_dist", "code_lsm")
TIME_LIMIT_S = 170


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{min(8, max(1, total_kb // (4 * 1024 * 1024)))}g"


def child_env(tmp: str) -> dict:
    env = dict(os.environ)
    # Python workers are spawned by the JVM and inherit this environment;
    # without the engine on their path every UDF task fails to import it
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEMORY"] = driver_memory()
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["SPARK_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    env["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["TMPDIR"] = tmp
    # one string-hash layout for the driver and every Python worker, so
    # set and dict layouts do not differ from run to run
    env["PYTHONHASHSEED"] = "0"
    return env


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. The child starts a
    new session; Spark's Python daemon moves its workers to a process
    group of their own, but never leaves the session."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def stop_session(sid: int, timeout_s: float = 30.0) -> None:
    """Kill whatever the child left in its session and wait until none
    of it is left."""
    deadline = time.monotonic() + timeout_s
    while (pids := session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one seeded workload run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one checked result (tests the correctness gate)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "alertsage_spark", "__init__.py")):
        print("perfbench: engine sources (alertsage_spark/) not found", file=sys.stderr)
        return 2

    runs_dir = os.path.join(ROOT, ".perfbench_run")
    tmp = os.path.join(runs_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "spark-local"))
    out = os.path.join(tmp, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", args.scale, "--tmp", tmp, "--out", out,
    ] + (["--corrupt"] if args.corrupt else [])
    child = subprocess.Popen(cmd, cwd=ROOT, env=child_env(tmp), start_new_session=True)
    try:
        code = child.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {TIME_LIMIT_S}s, killed", file=sys.stderr)
    finally:
        stop_session(child.pid)
        child.wait()
        result = None
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass  # another run still uses it
    if result is None:
        print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
