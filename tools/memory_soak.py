"""Constrained-heap soak (round-7 verdict task 4): run the heaviest
queries at sf1 (~6M lineitem rows) inside a 4 GiB JVM heap and record
completion + spill metrics — the exact axis where the reference died
(sc.parallelize OOM on a driver-collected list, FinalReport p.2-3 §4).

local[32] puts driver AND executors in one JVM, so
``spark.driver.memory=4g`` constrains the whole engine: execution
memory pressure forces sort/aggregate/join spills instead of OOM if
the plans are spill-safe, and any oversized materialization kills the
run outright.  EACH QUERY RUNS IN ITS OWN SUBPROCESS (fresh 4g JVM):
in local mode a hard executor OOM stops the shared SparkContext, so a
shared-JVM soak records one real verdict and nine poisoned ones — the
first run of this tool did exactly that.

Spill totals come from the Spark event log
(internal.metrics.memoryBytesSpilled / diskBytesSpilled per completed
stage), parsed by the child from its own log.

Usage:
    python tools/memory_soak.py [N | name...]   # default: 10 heaviest
Env: SPARK_GRAFT_SOAK_MEM (default 4g), SPARK_GRAFT_SF1_DIR.
Appends a "## Memory soak" section to BENCH_SCALE.md.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

from harness import ROOT, splice_section
from scale_probe import pick_heaviest

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".scale", "sf1"))
HEAP = os.environ.get("SPARK_GRAFT_SOAK_MEM", "4g")


def spill_from_event_log(log_dir: str) -> dict[str, int]:
    tot = {"spill_mem": 0, "spill_disk": 0, "peak_exec": 0}
    # Spark 4 writes a v2 ROLLING log: a directory holding events_N_*
    # files — recurse instead of assuming one flat file
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                acc = {
                    a.get("Name"): a.get("Value")
                    for a in ev.get("Stage Info", {}).get("Accumulables", [])
                }
                tot["spill_mem"] += int(
                    acc.get("internal.metrics.memoryBytesSpilled", 0) or 0
                )
                tot["spill_disk"] += int(
                    acc.get("internal.metrics.diskBytesSpilled", 0) or 0
                )
                tot["peak_exec"] = max(
                    tot["peak_exec"],
                    int(acc.get("internal.metrics.peakExecutionMemory", 0) or 0),
                )
    return tot


def run_one(name: str) -> int:
    """Child mode: one query, one fresh constrained JVM, JSON on the
    last stdout line (wall/status/spill)."""
    log_dir = tempfile.mkdtemp(prefix="soak_eventlog_")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP

    from movie_recommendation_engine_spark.registry import QUERIES
    from movie_recommendation_engine_spark.session import get_spark

    spark = get_spark(
        "memory_soak",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Spark 4 zstd-compresses event logs by default; plain text
            # so the stdlib parser below can read them
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_max = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    spark.read.parquet(f"{SF1}/lineitem.parquet").count()  # warm footers

    t0 = time.time()
    status = "ok"
    try:
        QUERIES[name](spark, SF1).count()
    except Exception as ex:  # noqa: BLE001 — the failure IS the finding
        msg = str(ex)
        status = "OOM" if "OutOfMemoryError" in msg else f"FAILED: {type(ex).__name__}"
        print(f"# {name} {status}: {msg[:400]}", file=sys.stderr)
    wall = round(time.time() - t0, 1)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 — a dead JVM cannot be stopped
        pass
    time.sleep(0.5)
    out = {"name": name, "wall": wall, "status": status,
           "jvm_max_gib": round(jvm_max / 2**30, 2)}
    out.update(spill_from_event_log(log_dir))
    import shutil

    shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "--one":
        return run_one(argv[1])
    if argv and not argv[0].isdigit():
        names = argv
    else:
        names = pick_heaviest(int(argv[0]) if argv else 10)

    if not os.path.isdir(SF1):
        print(f"# {SF1} missing — run tools/gen_scale_sf.py first", file=sys.stderr)
        return 2

    rows = []
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True, text=True,
        )
        row = None
        for line in reversed(proc.stdout.strip().splitlines() or [""]):
            try:
                row = json.loads(line)
                break
            except json.JSONDecodeError:
                continue
        if row is None:  # JVM death can eat the JSON line too
            row = {"name": name, "wall": None,
                   "status": f"KILLED THE {HEAP} JVM (exit {proc.returncode})",
                   "spill_mem": 0, "spill_disk": 0, "peak_exec": 0}
            tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
            print(f"# {name}: child died\n{tail}", file=sys.stderr)
        rows.append(row)
        print(f"# {row['name']}: {row['wall']}s [{row['status']}] "
              f"spill_mem={row['spill_mem'] // 2**20}MB "
              f"spill_disk={row['spill_disk'] // 2**20}MB",
              file=sys.stderr, flush=True)

    lines = [
        "## Memory soak (round 8)",
        "",
        f"Heaviest queries at sf1 (~10x sf0.1) inside a {HEAP} JVM heap, "
        "ONE FRESH JVM PER QUERY (local[32]; driver and executors share "
        "the heap, so this bounds the whole engine, and isolation keeps "
        "one query's OOM from poisoning the next verdict — in local "
        "mode a hard OOM stops the shared SparkContext).  The reference "
        "died on this axis (driver-side sc.parallelize OOM).  Spill "
        "columns are the child's summed internal.metrics.*BytesSpilled; "
        "peak_exec is the largest single-stage peakExecutionMemory.",
        "",
        "| query | wall (s) | mem spill (MB) | disk spill (MB) "
        "| peak exec (MB) | status |",
        "|---|---|---|---|---|---|",
    ]
    for row in rows:
        lines.append(
            f"| {row['name']} | {row['wall']} | {row['spill_mem'] // 2**20} "
            f"| {row['spill_disk'] // 2**20} | {row['peak_exec'] // 2**20} "
            f"| {row['status']} |"
        )
    failed = [r["name"] for r in rows if r["status"] != "ok"]
    lines += [
        "",
        "Failures: " + (", ".join(failed) if failed else
                        "none — every probed plan completes under the "
                        "constrained heap (spilling where needed instead "
                        "of materializing)."),
        "",
    ]

    splice_section(os.path.join(ROOT, "BENCH_SCALE.md"), "## Memory soak", lines)
    print("\n".join(lines))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
