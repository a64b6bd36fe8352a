#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans are also written to .perfbench_work/traces/).
Everything the run writes stays under .perfbench_work/ in the checkout;
its per-run directory is removed at the end. Exits non-zero, printing no
result, when the program cannot be imported or a run cannot complete.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# etl_tpch is not in BENCHMARK.json (see README.md) but runs on request.
WORKLOADS = ("interactive", "curation", "etl_tpch")
CPUS = min(4, os.cpu_count() or 4)  # local[N], N <= nproc
DRIVER_MEM = "6g"  # get_spark's default (48g) is beyond a 15 GB host


def isolate(work: str, cpus: int) -> None:
    """Fresh temp, Spark-local and working directories for this run: the
    IVF index memo under tempfile.gettempdir() and every Spark scratch
    file start empty, so no run inherits another's state."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cpus),
        "TEZ_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONDONTWRITEBYTECODE": "1",
        # Python workers import tez_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        # the JVM's temp files and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown() -> None:
    """Stop the session and the JVM, and wait until every process this
    run started (the JVM, its Python workers) has ended."""
    procs = _descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            if jvm is not None:
                jvm.stdin.close()  # the gateway exits when its stdin closes
                try:
                    jvm.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait()
    deadline = time.time() + 30
    for pid in procs:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    for pid in procs:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark and the JVM it launches write to stdout too: keep the real
    # stdout for the result line only.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        isolate(work, CPUS)
        import workloads

        result = workloads.run(args.workload, args.seed, args.seconds,
                               bool(args.trace), work, CPUS)
        for p in result.pop("_problems"):
            print(f"check: {p}", file=sys.stderr)
    finally:
        os.chdir(base)
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no traces were kept
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
