"""Benchmark launcher: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload serve_topk --seed 1 --seconds 15 --trace 0

``--seconds`` is accepted and ignored: each workload runs a fixed number
of ops, so a run's work does not depend on it.

The run itself happens in a child process (``worker.py``) started from
this directory, with the repository root on ``PYTHONPATH``. Spark's
Python workers inherit that environment, so UDFs import the package no
matter which directory the benchmark was started from. The launcher
also pins the Spark knobs the figures depend on, bounds the run's wall
time, and stops every process the run started (driver, JVM, Python
workers) before it exits.
"""

from __future__ import annotations

import argparse
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "vector_database_with_gpu_acceleration_for_llm_retrieval_spark"
WORKLOADS = ("serve_topk", "ingest_mixed", "curate_rag")

#: the child must finish well inside the 180 s a run is allowed
CHILD_TIMEOUT_S = 165
#: Pinned so every run sees the same parallelism and heap. Two task
#: threads leave the other cores to the JVM's JIT compiler threads
#: (tens of seconds of compilation per run), GC and the Python driver;
#: with four, run-to-run spread measured wider. The package's default
#: heap (32g) exceeds a 15 GB host.
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int, help="ignored; op counts are fixed")
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - pid reused by another user
        return False
    return True


def _stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the run's process group
    and wait until none remains (the JVM and Python workers are not our
    children, so ``wait`` cannot reap them)."""
    for sig, grace_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def launch(args: list[str], timeout_s: float = CHILD_TIMEOUT_S, stdout=None) -> int:
    """Run ``python3 <args>`` from this directory with the benchmark's
    environment, then stop every process it left behind."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"run.py: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(HERE, ".work", "spark-local")
    child = subprocess.Popen(
        [sys.executable, *args], cwd=HERE, env=env, stdout=stdout, start_new_session=True
    )
    try:
        return child.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"run.py: run exceeded {timeout_s} s, stopped", file=sys.stderr)
        return 3
    finally:
        _stop_group(child.pid)
        child.wait()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    return launch([
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace),
    ])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
