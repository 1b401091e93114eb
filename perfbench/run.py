"""Benchmark entry point.

    python3 perfbench/run.py --workload movielens_cli --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository.  Each call is one
fresh run: ``worker.py`` runs in its own session with the package
on ``PYTHONPATH`` (Python workers import it too) and every temporary
file under ``.perfbench/`` in the checkout.  The session is stopped and
waited for before this script exits; the worker's result JSON is the
last line printed.  See ``perfbench/README.md``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("movielens_cli", "query_sweep")
RUN_TIMEOUT_S = 170.0
DRIVER_MEM = "4g"
CORES = 4


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``.  Spark's Python worker daemon
    moves to its own process group, so a group kill would miss it."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def stop_session(sid: int) -> None:
    """SIGTERM then SIGKILL every process of the worker's session; return
    once none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        end = time.monotonic() + grace
        for pid in session_pids(sid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        while time.monotonic() < end:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("movie_recommendation_engine_spark/__main__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PERFBENCH_ROOT": ROOT,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--state", os.path.join(base, "state.json")]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def interrupted(signum, frame):
        raise SystemExit(128 + signum)  # the finally below stops the worker's session

    signal.signal(signal.SIGTERM, interrupted)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_session(proc.pid)
        proc.communicate()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S:.0f} s and was stopped", file=sys.stderr)
        return 3
    finally:
        stop_session(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)  # a failed run prints no result on stdout
        print(f"perfbench: worker exited with code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith("#"):
            print(line)
    for name, m in result["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
