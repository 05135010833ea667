"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_star --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all            # every workload in turn

Generates the input tables under ``.perfbench/`` and runs each workload:
first ``SETUP_PROBES`` set-up probe, then the workload itself, each in a
fresh child process (``perfbench/harness.py``) with the run's own scratch
root, warehouse and Spark local dirs.  All of it is removed afterwards.  The
last line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Exits non-zero when a job fails or a result is
wrong, and without a result when the program's files are missing.
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
sys.path.insert(0, ROOT)

from perfbench import counters  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# The files of the program under test; without them there is nothing to run.
PROGRAM_FILES = ("projectmapreduce_spark/__init__.py", "tests/oracle_utils.py")
# Cold starts in fresh processes before each untraced run; with the run's own
# cold start they are the samples of set-up whose median is setup_s.  Each
# costs ~11 s of a run, and all runs must fit the benchmark's time budget.
SETUP_PROBES = 1
# Every child of one workload run ends before this many seconds have gone by.
RUN_TIMEOUT_S = 170


def _group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes in process group ``pgid``."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = counters.proc_stat(int(name))
            if st is not None and int(st[2]) == pgid and st[0] != "Z":
                pids.append(int(name))
    return pids


def _stop_group(pgid: int) -> None:
    """Terminate whatever the child left in its process group, and wait."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def _child(args: list[str], env: dict, log_path: str, deadline: float) -> tuple[int, list[str]]:
    """Run ``python -m perfbench.harness <args>`` in its own process group
    until ``deadline``; return its exit code and stdout lines."""
    cmd = [sys.executable, "-m", "perfbench.harness", *args]
    with open(log_path, "a") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            out, _ = proc.communicate()
            print(f"perfbench: timed out: {' '.join(args)}", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
    lines = out.splitlines()
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        print(f"perfbench: exit {proc.returncode}; log {log_path}:", file=sys.stderr)
        sys.stderr.writelines(tail)
    return proc.returncode, lines


def run_workload(
    name: str, seed: int, seconds: int, trace: int, data_dir: str, work_root: str
) -> tuple[int, list[str]]:
    """Run one workload and, untraced, its set-up probes; return the exit
    code and stdout lines of the workload's child."""
    deadline = time.monotonic() + RUN_TIMEOUT_S
    tag = f"{name}-seed{seed}-trace{trace}"
    work = os.path.join(work_root, tag)
    for sub in ("scratch", "local"):
        os.makedirs(os.path.join(work, sub))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    open(log_path, "w").close()
    env = dict(
        os.environ,
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # Spark's Python workers import the package from the repo root.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    setups = []
    for _ in range(0 if trace else SETUP_PROBES):
        code, lines = _child(["--setup-only"], env, log_path, deadline)
        result = _result(lines)
        if code != 0 or result is None:
            return code or 3, lines
        setups.append(result["setup_s"])
    args = [
        "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data-dir", data_dir, "--work-dir", work,
        "--setup-s", *(repr(s) for s in setups),
    ]
    if trace:
        args += ["--trace-out", os.path.join(WORK, "traces", f"{name}-seed{seed}.json")]
    t0 = time.monotonic()
    code, lines = _child(args, env, log_path, deadline)
    print(f"perfbench: {name} run done in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return code, lines


def _result(lines: list[str]) -> dict | None:
    if lines:
        try:
            return json.loads(lines[-1])
        except json.JSONDecodeError:
            return None
    return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Run the benchmark's workloads.")
    p.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--data-dir",
        help="read the input tables from this directory instead of generating them "
        "(to compare the generated tables with another copy of the data)",
    )
    args = p.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing: {', '.join(missing)}", file=sys.stderr)
        return 2

    work_root = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work_root, ignore_errors=True)
    try:
        return _run_all(args, work_root)
    finally:
        shutil.rmtree(work_root, ignore_errors=True)


def _run_all(args: argparse.Namespace, work_root: str) -> int:
    data_dir = args.data_dir and os.path.abspath(args.data_dir)
    if data_dir is None:
        from perfbench import datagen

        data_dir = os.path.join(work_root, "data")
        t0 = time.monotonic()
        datagen.write(data_dir)
        print(f"perfbench: tables generated in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for name in names:
        code, lines = run_workload(name, args.seed, args.seconds, args.trace, data_dir, work_root)
        result = _result(lines)
        if result is None:
            return code or 3
        worst = worst or code
        if len(names) == 1:
            print("\n".join(lines))
            return code
        print(f"== {name}")
        print("\n".join(lines[:-1]))
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for metric, val in result["metrics"].items():
            combined["metrics"][f"{name}.{metric}"] = val
    print(json.dumps(combined))
    return worst


if __name__ == "__main__":
    sys.exit(main())
