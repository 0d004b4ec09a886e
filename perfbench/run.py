#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {lake,query} --seed N \\
        --seconds S --trace {0,1} [--smoke]

Run from the repository root.  Starts one worker process (harness.py) in
a pinned environment: ``SPARK_GRAFT_CPUS`` = the CPUs this process may
use, ``SPARK_LOCAL_DIRS`` and ``TMPDIR`` inside a work directory under
``.perfbench/`` (so every lake, stream root and index the program creates
stays in the checkout and is removed afterwards), and no inherited
``SPARK_GRAFT_*`` settings.  Prints the worker's result as the last line
of standard output and exits 0, or exits 1 without a result if the
worker failed, timed out, or the program is not there to benchmark.
The full run record (per-round steps, counters, spans, observed outputs)
is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS

WORKER_TIMEOUT_S = 170


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the reaper of every orphan below it.  The pyspark
    daemon moves itself into a process group of its own, and outlives the
    JVM that started it; as a subreaper the launcher still sees it (and
    each Python worker it forked) as a child, kills it and waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants(root: int) -> list[int]:
    """Every process below ``root``, found through /proc."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                pid, rest = f.read().split(" ", 1)
        except OSError:
            continue  # the process exited while we looked
        ppid = int(rest.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(pid))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def _reap_all() -> None:
    """SIGKILL every process this launcher started, directly or not (the
    worker, its JVM, the pyspark daemon and its UDF workers), and wait
    until each has ended.  The worker has written its result by then and
    the work directory is deleted next, so nothing needs an orderly
    shutdown.  Orphans are re-parented to this subreaper, so the loop ends
    only when no process below it is left, zombies included.  A SIGTERM
    that arrives meanwhile must not cut the loop short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    while True:
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main(argv: list[str] | None = None) -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 inputs, one measured round")
    args = ap.parse_args(argv)

    bench_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench_dir)
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    records = os.path.join(state, "records")
    for d in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    record_path = os.path.join(records, f"{tag}.json")

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(bench_dir, "harness.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t0", repr(t0), "--result", result_path, "--record", record_path,
    ] + (["--smoke"] if args.smoke else [])

    # A SIGTERM to the launcher still stops every process it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    try:
        # The worker's output goes to stderr: stdout carries only the result.
        proc = subprocess.Popen(cmd, cwd=os.path.join(work, "cwd"), env=env, stdout=sys.stderr,
                                stderr=sys.stderr, start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
            rc = None
        finally:
            _reap_all()
        result = None
        if rc == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: no result (worker exit code {rc})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
