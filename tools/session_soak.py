"""Long-session soak: the FULL registry swept repeatedly in ONE JVM,
watching driver-side state for monotonic growth.

A notebook or query service keeps one SparkSession alive for days; the
per-query correctness gate and the bench sweep both run each query a
bounded number of times, so state that accrues PER QUERY RUN — pinned
localCheckpoint RDDs, broadcast blocks the ContextCleaner never
reclaims because a py4j reference is still live, temp views, cached
factor frames — would pass every existing check and still OOM a
long-lived session.  This probe runs the whole registry N times in one
JVM and records, after each sweep (python gc + JVM System.gc + a
cleaner grace period):

- JVM heap in use (the leak headline),
- persistent RDD count and their memory/disk footprint
  (localCheckpoint hygiene — these must plateau, not stack),
- registered temp views (fixed-name views must be re-used, not leaked
  under generated names).

Verdict: flagged if heap or persistent-RDD count grows monotonically
across sweeps AND the last sweep exceeds the first by >50% (heap) or
>2x (RDD count).  A plateau — sweep 2 settling above sweep 1 as pools
and JIT warm — is expected and passes.

Usage:
    python tools/session_soak.py [--sweeps 3] [--sf-dir .../sf0.01]
Writes a "## Session soak" section into BENCH_SCALE.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

from harness import ROOT, session, splice_section


def monotonic_excess(vals: list[float], factor: float) -> bool:
    """True when ``vals`` never decreases AND ends above ``factor`` x
    its start — the leak signature.  A plateau (growth that stalls) or
    any dip (a GC/cleaner reclaim) passes: sawtooth heap profiles are
    healthy, unbounded staircases are not."""
    growing = all(b >= a for a, b in zip(vals, vals[1:]))
    return len(vals) >= 2 and growing and vals[-1] > vals[0] * factor


def jvm_state(spark) -> dict:
    """Heap/storage/view snapshot after GC on both sides of py4j."""
    gc.collect()  # drop python-side DataFrame refs so py4j can detach
    jvm = spark._jvm
    time.sleep(5)  # py4j finalizers + ContextCleaner are asynchronous
    for _ in range(2):
        jvm.java.lang.System.gc()
    time.sleep(2)
    rt = jvm.java.lang.Runtime.getRuntime()
    heap_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
    sc = spark.sparkContext
    n_rdd = sc._jsc.getPersistentRDDs().size()
    mem_mb = disk_mb = 0.0
    for info in sc._jsc.sc().getRDDStorageInfo():
        mem_mb += info.memSize() / 1e6
        disk_mb += info.diskSize() / 1e6
    views = len(spark.catalog.listTables())
    return {
        "heap_mb": round(heap_mb, 1),
        "persistent_rdds": n_rdd,
        "storage_mem_mb": round(mem_mb, 1),
        "storage_disk_mb": round(disk_mb, 1),
        "temp_views": views,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sweeps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, _ = session("session_soak")

    baseline = jvm_state(spark)
    print(f"# baseline: {baseline}", file=sys.stderr)

    snapshots: list[dict] = []
    for sweep in range(args.sweeps):
        t0 = time.perf_counter()
        errs = 0
        for name, fn in QUERIES.items():
            try:
                fn(spark, args.sf_dir).count()
            except Exception as ex:  # any error in a soak IS a finding
                errs += 1
                print(f"# sweep {sweep} {name}: {ex!r}"[:200], file=sys.stderr)
        wall = round(time.perf_counter() - t0, 1)
        snap = jvm_state(spark)
        snap.update({"sweep": sweep + 1, "wall_s": wall, "errors": errs})
        snapshots.append(snap)
        print(f"# {snap}", file=sys.stderr)

    spark.stop()

    flags: list[str] = []
    if monotonic_excess([s["heap_mb"] for s in snapshots], 1.5):
        flags.append("heap grows monotonically >50%")
    if monotonic_excess([s["persistent_rdds"] for s in snapshots], 2.0):
        flags.append("persistent RDD count grows monotonically >2x")
    if any(s["errors"] for s in snapshots):
        flags.append("query errors during soak")

    lines = [
        "## Session soak (round 10)",
        "",
        f"The full registry ({len(QUERIES)} queries) swept "
        f"{args.sweeps}x in ONE long-lived JVM at "
        f"{os.path.basename(args.sf_dir.rstrip('/'))} — the notebook / "
        "query-service lifetime axis the per-query gates never hold "
        "open.  After each sweep (python gc + JVM System.gc + cleaner "
        "grace): heap in use, pinned localCheckpoint/persist RDDs and "
        "their footprint, and catalog temp views.  Flag rule: monotonic "
        "growth with the last sweep >50% (heap) / >2x (RDD count) over "
        "the first.",
        "",
        "| sweep | wall (s) | errors | heap (MB) | persistent RDDs "
        "| storage mem (MB) | storage disk (MB) | temp views |",
        "|---|---|---|---|---|---|---|---|",
        "| pre-soak | - | - | "
        f"{baseline['heap_mb']} | {baseline['persistent_rdds']} | "
        f"{baseline['storage_mem_mb']} | {baseline['storage_disk_mb']} | "
        f"{baseline['temp_views']} |",
    ]
    for s in snapshots:
        lines.append(
            f"| {s['sweep']} | {s['wall_s']} | {s['errors']} | "
            f"{s['heap_mb']} | {s['persistent_rdds']} | "
            f"{s['storage_mem_mb']} | {s['storage_disk_mb']} | "
            f"{s['temp_views']} |"
        )
    lines += [
        "",
        "Flagged: " + ("; ".join(flags) if flags else "none") + ".",
        "",
    ]

    splice_section(os.path.join(ROOT, "BENCH_SCALE.md"), "## Session soak", lines)
    print("\n".join(lines))
    print(json.dumps({"probe": "session_soak", "snapshots": snapshots, "flags": flags}))
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
