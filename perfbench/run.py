"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Runs one workload (log_interactive, log_bulk or catalog) against the
``redpanda_spark`` package of the checkout this file lives in, and prints
as the last line of stdout one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.

The workload runs in a fresh child process with a fresh work directory
under ``perfbench/.work``: Spark's local dirs, the JVM's and Python's temp
dirs and every topic root live there, and the directory is deleted when
the child ends. Every process of the child's session (the JVM and the
PySpark workers included) is killed and waited for before this process
exits. A run record with the run context (and, when tracing, the spans)
is written to ``perfbench/out``.
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
WORKLOADS = ("log_interactive", "log_bulk", "catalog")
CHILD_TIMEOUT_S = 170


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="smallest sizes (sf0.001, a few requests) for the benchmark's own test",
    )
    return ap.parse_args(argv)


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``: the child, its JVM
    and the PySpark daemon and workers, which sit in a process group of
    their own but stay in the session."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(pid))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the child's session, reap the child and wait
    until all of them have ended."""
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        pids = session_pids(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.returncode is None:
            proc.wait()
        if not pids:
            return
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "redpanda_spark")):
        print(f"perfbench: no redpanda_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        # spawned Python workers import the package (the produce routing
        # UDF fails with ModuleNotFoundError without it)
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    env.pop("SPARK_MASTER", None)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--result", result_path,
    ] + (["--smoke"] if args.smoke else [])
    # on SIGTERM, still stop the child's processes and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: {args.workload} exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            code = -1
        finally:
            _stop_session(proc)
        try:
            with open(result_path) as f:
                result = json.load(f)
        except (OSError, ValueError):
            result = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        print(f"perfbench: {args.workload} failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
