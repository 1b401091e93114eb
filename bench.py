"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.  The stdout line is COMPACT
(top-20 slowest queries) so a bounded capture still parses; the full
per-query map is written to BENCH_LOCAL.latest.json (gitignored — so
driver sweeps never dirty the committed tree; round-7 verdict task 5)
and echoed on stderr tagged #BENCH-JSON.  Pass ``--out PATH`` (or set
$SPARK_GRAFT_BENCH_OUT) to write the full map elsewhere — e.g.
``--out BENCH_LOCAL.json`` to intentionally refresh the committed
quiet-window artifact.

Each query is forced with a count() (full plan execution, no driver
materialization of payloads).  One process runs one sweep; a sweep
whose host window shows more than 1.0% steal is stamped
``"contended": true``.  Measure again by running bench.py again: each
run is a fresh JVM.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from bench_check import FLOOR, RATIO  # noqa: E402
from harness import best_of, host_window, session  # noqa: E402

# A sweep whose own /proc/stat window shows noisy-neighbor steal above
# this threshold (exclusive) is NOT a code signal, and the artifact says
# so with {"contended": true}.  A window with no steal reading (no
# /proc/stat, clock skew) can't be judged and counts as quiet — its
# stamp already says "available": false.  The bench never re-runs the
# sweep in-process: a retry would run warmer (JIT, page cache, codegen
# caches) and flatter the figure.  Rerunning bench.py is a fresh JVM.
STEAL_CONTENDED_PCT = 1.0


def _sweep(spark, sf_dir: str) -> dict[str, float]:
    """Every registered query once, in registry order: name -> seconds
    (-1.0 for a query that raised)."""
    from movie_recommendation_engine_spark.registry import QUERIES

    timings: dict[str, float] = {}
    for i, (name, fn) in enumerate(QUERIES.items()):
        t0 = time.perf_counter()
        df = None  # so the release below is safe when fn() itself raises
        try:
            df = fn(spark, sf_dir)
            df.count()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as ex:  # a broken query must not hide the others
            timings[name] = -1.0
            print(f"# bench error {name}: {ex}", file=sys.stderr)
        # release this query's JVM state before the next measurement:
        # localCheckpoint RDDs are freed by the ContextCleaner only after
        # their py4j refs are collected — without this, checkpointed
        # blocks pile up across 100+ queries and mid-run queries pay GC/
        # memory pressure that standalone runs don't (measured 14.2 s vs
        # 2.5 s on part_cooccurrence_top20)
        df = None
        gc.collect()
        if (i + 1) % 20 == 0:
            spark.sparkContext._jvm.System.gc()
    return timings


def _retime(spark, sf_dir: str, sf_val, ok: dict[str, float]) -> dict[str, float]:
    """Steady retime (min of 2) of the sweep-flagged queries.

    In-sweep timings bill first-run JIT and mid-run GC pressure to
    whichever query hits them (measured round 4: 2-5x on sub-3 s
    queries).  tools/bench_check.py adjudicates by retiming flagged
    queries steady-state — do that adjudication HERE too and store the
    steady figure in the committed per-query map, so BENCH_LOCAL.json
    matches what the guard actually adjudicates (round-4 verdict task:
    the raw sweep file gave readers a misleading per-query picture).
    """
    from movie_recommendation_engine_spark.registry import QUERIES

    steady: dict[str, float] = {}
    try:
        with open(os.path.join(ROOT, "tools", "bench_budget.json")) as fh:
            budget_doc = json.load(fh)
        budget = budget_doc.get("queries", {})
        # budgets are recorded at one scale factor: adjudicating a
        # different-SF sweep against them would flag nearly every query
        # and silently re-run the heaviest ones twice each
        budget_sf = budget_doc.get("sf")
        if budget_sf is not None and sf_val != budget_sf:
            raise ValueError(
                f"budget sf={budget_sf} != run sf={sf_val}; skipping retime"
            )
        # worst ABSOLUTE excess first (seconds over the allowed limit):
        # the 15-entry wall-time bound must keep the biggest offenders.
        # An alphabetical cap once dropped a 228 s movielens_e2e_cli
        # outlier, and a ratio-keyed sort re-created the same hole
        # under broad contention (round 12: fifteen sub-second-budget
        # queries at ratio 2-19x crowded a 44.7 s raw e2e — 5.9 s over
        # its limit — out of the cap, shipping an unadjudicated heavy
        # figure).  Excess seconds ranks by artifact damage, so
        # truncation can only drop entries within ~a second of their
        # limit — exactly the ones the guard's own fresh retime clears.
        flagged = sorted(
            (
                n
                for n, t in ok.items()
                if budget.get(n, -1) > 0 and t > RATIO * max(budget[n], FLOOR)
            ),
            key=lambda n: -(ok[n] - RATIO * max(budget[n], FLOOR)),
        )[:15]  # bound the extra wall time; the guard retimes any rest
        if flagged:
            print(f"# bench retiming {len(flagged)} sweep-flagged queries: "
                  f"{', '.join(flagged)}", file=sys.stderr)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            for name in flagged:
                steady[name] = round(
                    best_of(lambda: QUERIES[name](spark, sf_dir).count(), 2), 4
                )
    except Exception as ex:
        print(f"# bench steady retime skipped: {ex}", file=sys.stderr)
    return steady


def measure(spark, sf_dir: str) -> dict:
    """The full artifact map of ONE sweep plus its steady retime,
    stamped with the host-load window they ran in."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    with host_window() as host_load:
        timings = _sweep(spark, sf_dir)
        ok = {k: v for k, v in timings.items() if v >= 0}
        steady = _retime(spark, sf_dir, sf_val, ok)
    sweep_total = round(sum(ok.values()), 4)

    # round-12 (round-11 advisory): the GATED figure is the steady
    # retime itself — min(raw, retime) always picked the most
    # favorable observation, so a regression that appears only in
    # retimes could never raise the adjudicated number and the
    # 1.5x guard lost sensitivity.  min(raw, retime) — the cheapest
    # observed execution of the plan — is preserved as the
    # ADVISORY best_observed field; a retime that lands in a
    # GC/noise pocket above budget gets one more fresh-session
    # adjudication inside tools/bench_check.py before it can fail
    # the guard.
    adjudicated = {**timings, **steady}
    sweep_queries = {n: timings[n] for n in steady}
    best_observed = {n: min(s, timings[n]) for n, s in steady.items()}
    full = {
        "metric": "total_query_wall_sec",
        "value": sweep_total,
        "unit": "sec",
        "queries": adjudicated,
        "sweep_total_sec": sweep_total,
        "sf": sf_val,
        # measured over the timed window (sweep + retimes), so the
        # artifact is self-describing about host noise; "contended"
        # means the figure is NOT a quiet-window number
        "host_load": host_load,
        "contended": host_load.get("steal_pct", 0.0) > STEAL_CONTENDED_PCT,
    }
    if sweep_queries:
        full["sweep_queries"] = sweep_queries
        full["best_observed"] = best_observed
        full["sweep_queries_note"] = (
            "queries[] holds the steady retime (min of 2, same session) "
            "for these sweep-flagged queries — the GATED figure; "
            "sweep_queries[] holds their raw in-sweep figure; "
            "best_observed[] holds min(raw, retime), advisory only; "
            "value/sweep_total_sec always sum the raw sweep"
        )
    return full


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time every registered query once.")
    # full-map output path: --out beats $SPARK_GRAFT_BENCH_OUT beats the
    # gitignored default (never the committed BENCH_LOCAL.json unless
    # explicitly asked — automated sweeps must not dirty the tree)
    ap.add_argument(
        "--out",
        default=os.environ.get("SPARK_GRAFT_BENCH_OUT")
        or os.path.join(ROOT, "BENCH_LOCAL.latest.json"),
        help="where to write the full per-query map",
    )
    out_path = ap.parse_args(argv).out

    # Stdout purity: the caller parses stdout as ONE JSON line, but the
    # JVM (launched as a child inheriting fd 1) writes banner/log noise
    # there.  Save the real stdout, point fd 1 at stderr BEFORE the JVM
    # starts, and write the JSON to the saved fd at the end — so the
    # process's stdout contains exactly the JSON line, nothing else.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    spark, sf_dir = session("bench", warm=True)
    full = measure(spark, sf_dir)
    full_line = json.dumps(full)
    # The caller's stdout capture stores only a bounded tail (BENCH_r02/
    # r03 recorded "parsed": null against the ~6 KB 203-query line), so
    # stdout gets a COMPACT line — totals + the top-20 slowest queries —
    # guaranteed to fit the capture, and the full per-query map goes to
    # the full-map file (plus one stderr copy).
    # compact per-query figures are the RAW in-sweep times (the driver's
    # record of what this sweep actually did); the steady adjudication
    # lives in the full map's queries[]/sweep_queries[] split
    timings = {**full["queries"], **full.get("sweep_queries", {})}
    ok = {k: v for k, v in timings.items() if v >= 0}
    top20 = dict(sorted(ok.items(), key=lambda kv: -kv[1])[:20])
    errors = sorted(k for k, v in timings.items() if v < 0)
    compact = {k: v for k, v in full.items()
               if k not in ("sweep_queries", "sweep_queries_note", "best_observed")}
    compact["queries"] = top20
    compact["queries_total"] = len(timings)
    compact["queries_note"] = (
        f"top-20 slowest; full map in {os.path.basename(out_path)}"
    )
    if errors:
        compact["errors"] = errors
    line = json.dumps(compact)
    try:
        with open(out_path, "w") as fh:
            fh.write(full_line + "\n")
    except OSError as ex:  # read-only checkout must not kill the bench
        print(f"# bench could not write {out_path}: {ex}", file=sys.stderr)
    spark.stop()
    # the full JSON also goes to stderr tagged #BENCH-JSON: if the
    # caller's stdout capture truncates, the last stderr line still
    # holds one parseable copy of the complete map
    print(f"#BENCH-JSON {full_line}", file=sys.stderr)
    os.write(real_stdout, (line + "\n").encode())
    os.close(real_stdout)


if __name__ == "__main__":
    main()
