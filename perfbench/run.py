#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh worker process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The launcher

1. makes a scratch directory under ``.perfbench_runs/`` in the current
   directory, and writes the seeded input tables there;
2. starts ``perfbench/worker.py`` as a fresh Python process with its
   cwd, ``SPARK_LOCAL_DIRS``, temporary files and stores inside that
   scratch directory and ``PYTHONPATH`` set to the repository root, so
   Spark's Python workers can import ``calorista_spark``;
3. samples the peak resident memory (``VmHWM``) of the worker, its JVM
   and its Python workers while it runs;
4. removes the scratch directory and prints the worker's result as
   the last line of standard output.

It exits non-zero without printing a result when the worker fails or
times out (for instance where ``calorista_spark`` is missing), and
prints the result but exits non-zero when an output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 170


def _children(pid_parents: dict[int, int], root: int) -> set[int]:
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in pid_parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _proc_table() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_group(pgid: int) -> None:
    """Kill every process left in the worker's process group (its JVM
    and Python workers included) and wait until none is left."""
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_worker(cmd: list[str], env: dict, cwd: str) -> tuple[int, float]:
    """Run the worker in its own process group; returns (exit code,
    peak MB summed over its process tree, each process at its own
    high-water mark)."""
    peak_kb: dict[int, int] = {}
    proc = subprocess.Popen(
        cmd, env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True
    )
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    try:
        while True:
            try:
                code = proc.wait(timeout=0.5)
                break
            except subprocess.TimeoutExpired:
                pass
            for pid in _children(_proc_table(), proc.pid):
                peak_kb[pid] = max(peak_kb.get(pid, 0), _hwm_kb(pid))
            if time.monotonic() > deadline:
                print("worker timed out", file=sys.stderr)
                code = -1
                break
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        _stop_group(proc.pid)
    return code, sum(peak_kb.values()) / 1024.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated launcher still runs its cleanup: worker, JVM, scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    runs = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    try:
        generate(
            os.path.join(scratch, "tables"), args.seed, WORKLOADS[args.workload].table_sf
        )
        result_path = os.path.join(scratch, "result.json")
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p
        )
        env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
        # temporary files stay inside the checkout too
        tmp = os.path.join(scratch, "tmp")
        os.makedirs(tmp)
        env["TMPDIR"] = tmp
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env["PYTHONUNBUFFERED"] = "1"
        cmd = [
            sys.executable,
            os.path.join(HERE, "worker.py"),
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--scratch", scratch,
            "--result", result_path,
            "--spawned-at", repr(time.time()),
        ]
        code, peak_mb = run_worker(cmd, env, scratch)
        if code != 0 or not os.path.exists(result_path):
            print(f"worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
