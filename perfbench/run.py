#!/usr/bin/env python3
"""Benchmark entry point for the mirror engine.

    python3 perfbench/run.py --workload cdc_mirror --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads: ``analytics``, ``cdc_mirror``,
``sql_session`` (see perfbench/README.md).  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).

This launcher owns the environment the benchmark process and its Spark
JVM and Python workers inherit: the repository root on PYTHONPATH (so
``pg_mooncake_spark`` imports on Spark's Python workers too), UTC, and
every temporary directory inside ``perfbench/.work``.  A watchdog kills
the whole process group if a run overstays 170 s, so a stuck
worker surfaces as a failed run instead of a hang.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "cdc_mirror", "sql_session")
TIMEOUT_S = 170.0  # every run must end within 180 s


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "pg_mooncake_spark", "engine.py")) and \
        os.path.isfile(os.path.join(ROOT, "bench.py"))


def _kill_group(proc: subprocess.Popen, grace: float = 5.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the child's group;
    wait until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace
        try:
            os.killpg(proc.pid, sig)
            while time.monotonic() < deadline:
                proc.poll()  # reap the child itself, or the group never empties
                os.killpg(proc.pid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


class _Stopped(Exception):
    pass


def _stop(signum, _frame):
    raise _Stopped(signum)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: 0.001 for analytics, "
                         "0.01 for the others)")
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not _program_present():
        print("perfbench: pg_mooncake_spark/ and bench.py not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_CACHE_TABLES", None)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PERFBENCH_T0": repr(time.time()),
    })
    cmd = [
        sys.executable, "-m", "perfbench.harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(HERE, ".out"),
    ]
    if args.sf is not None:
        cmd += ["--sf", str(args.sf)]
    if args.corrupt:
        cmd.append("--corrupt")
    # a launcher stopped from outside takes its process group down with it
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, _stop)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S:.0f}s; killed",
              file=sys.stderr)
        rc = 3
    except _Stopped as e:
        rc = 128 + e.args[0]
    _kill_group(proc)
    proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
