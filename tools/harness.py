"""The timing core shared by bench.py and the tools/ probes: one
implementation each of session setup (``session``), the min-of-N timer
(``best_of``), the /proc/stat host stamp (``host_window``), the
BENCH_SCALE.md section writer (``splice_section``) and the per-SF scan
warm-up (``warm_scan``).  pyspark is imported only inside the helpers
that need a session, so the rest runs (and is tested) without a JVM.
"""

from __future__ import annotations

import gc
import os
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _env() -> tuple[str, int]:
    """(sf_dir, cpus) from the environment, rejected before any JVM
    starts: a typo here used to surface minutes later as a Spark error
    (or as a silently different parallelism)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise SystemExit(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR={sf_dir!r} has no lineitem.parquet")
    return sf_dir, cpus


def session(app: str, warm: bool = False):
    """``(spark, sf_dir)`` for one measurement process.

    ``warm=True`` runs ``warm_all`` on ``sf_dir`` first, so per-query
    figures measure plans, not whichever query first pays a cost
    class's JIT/worker start-up (see warmups.py).  bench.py, the
    bench_check retime and rebaseline_probe all warm here, so budgets,
    sweep figures and adjudication retimes share one execution context.
    """
    sf_dir, cpus = _env()
    from movie_recommendation_engine_spark.session import get_spark

    spark = get_spark(app, master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if warm:
        from movie_recommendation_engine_spark.warmups import warm_all

        warm_all(spark, sf_dir, log=lambda m: print(m, file=sys.stderr))
    return spark, sf_dir


def best_of(fn: Callable[[], object], runs: int) -> float:
    """Min wall seconds of ``runs`` calls of ``fn``.  A python gc after
    each call drops the run's DataFrame refs, so localCheckpoint RDDs
    and broadcasts are released before the next measurement."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
        gc.collect()
    return best


def _cpu_stat() -> dict | None:
    """One /proc/stat aggregate-cpu sample (jiffies since boot)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return {
            "total": sum(vals),
            "idle": vals[3],
            "iowait": vals[4] if len(vals) > 4 else 0,
            "steal": vals[7] if len(vals) > 7 else 0,
        }
    except Exception:
        return None


@contextmanager
def host_window() -> Iterator[dict]:
    """Yield a dict that is filled, when the block exits, with the host
    noise over the block: the artifact then carries its own
    exculpatory/incriminating evidence (round-5 verdict: five
    identical-code sweeps spanned 362-700 s on noisy-neighbor bursts,
    and every round paid to re-prove it).  steal_pct is the cleanest
    noisy-neighbor signal on a VM; iowait_pct flags disk contention;
    cpu_busy_pct includes this process's own work, so it is context,
    not a noise verdict by itself."""
    out: dict = {}
    a, t0 = _cpu_stat(), time.perf_counter()
    try:
        yield out
    finally:
        b = _cpu_stat()
        out["wall_sec"] = round(time.perf_counter() - t0, 2)
        try:
            out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        if not a or not b or b["total"] <= a["total"]:
            out["available"] = False
        else:
            dt = b["total"] - a["total"]
            out["steal_pct"] = round(100.0 * (b["steal"] - a["steal"]) / dt, 2)
            out["iowait_pct"] = round(100.0 * (b["iowait"] - a["iowait"]) / dt, 2)
            out["cpu_busy_pct"] = round(
                100.0 * (1.0 - (b["idle"] - a["idle"]) / dt), 2
            )
            out["note"] = (
                "steal_pct/iowait_pct >~1-2 mean the host was contended and "
                "sweep wall times are not a code signal; see README bench section"
            )


def splice_section(path: str, heading: str, lines: list[str]) -> None:
    """Write ``lines`` into the markdown file ``path`` as the section
    whose heading line starts with ``heading``.

    The old section runs from that heading to the next ``## `` heading
    (or the end of the file) and is replaced in place; every other
    section is kept as it was.  A section not yet in the file is
    appended.  A ``# `` title works the same way: scale_probe's leading
    table is the section from the title to the first ``## `` heading.
    """
    try:
        with open(path) as fh:
            doc = fh.read()
    except FileNotFoundError:
        doc = ""
    section = "\n".join(lines).strip("\n") + "\n"
    if doc.startswith(heading):
        start = 0
    else:
        start = doc.find("\n" + heading) + 1  # 0: absent
        if not start:
            doc = doc.rstrip("\n") + "\n\n" if doc.strip() else ""
            start = len(doc)
    end = doc.find("\n## ", start)
    after = doc[end + 1 :] if end != -1 else ""
    with open(path, "w") as fh:
        fh.write(doc[:start] + section + ("\n" + after if after else ""))


def warm_scan(spark, sf_dirs: list[str]) -> None:
    """Warm parquet footers AND the shuffle machinery at each SF: the
    first real shuffle at a new data scale pays one-time JVM costs
    (codegen, exec-memory pool growth) that otherwise bill to whichever
    query the ordering puts first — measured round 6: the first
    pagerank-family query at sf1 read x14.7-x20.9 while the same query
    warm read x5."""
    from pyspark.sql import functions as F

    for sf_dir in sf_dirs:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
            "l_orderkey"
        ).agg(F.count("*").alias("n")).agg(F.sum("n")).collect()
