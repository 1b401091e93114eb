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
materialization of payloads).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


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


def _host_load(a: dict | None, b: dict | None, wall: float) -> dict:
    """Host-noise context for the sweep window, stamped into the bench
    artifact so a noisy run carries its own exculpatory/incriminating
    evidence (round-5 verdict: five identical-code sweeps spanned
    362-700 s on noisy-neighbor bursts and every round paid an
    adjudication cost re-proving it).  steal_pct is the cleanest
    noisy-neighbor signal on a VM; iowait_pct flags disk contention;
    cpu_busy_pct includes this process's own work, so it is context,
    not a noise verdict by itself."""
    out: dict = {"wall_sec": round(wall, 2)}
    try:
        out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    if not a or not b or b["total"] <= a["total"]:
        out["available"] = False
        return out
    dt = b["total"] - a["total"]
    out["steal_pct"] = round(100.0 * (b["steal"] - a["steal"]) / dt, 2)
    out["iowait_pct"] = round(100.0 * (b["iowait"] - a["iowait"]) / dt, 2)
    out["cpu_busy_pct"] = round(100.0 * (1.0 - (b["idle"] - a["idle"]) / dt), 2)
    out["note"] = (
        "steal_pct/iowait_pct >~1-2 mean the host was contended and sweep "
        "wall times are not a code signal; see README bench section"
    )
    return out


# Contention self-defense (round-13 verdict #1, third carry-over): a
# sweep whose own /proc/stat window shows noisy-neighbor steal above
# this threshold is NOT a code signal (the harness's own stamp says so),
# so the bench re-runs the sweep — bounded — instead of shipping the
# contended figure as the round artifact.  The final artifact keeps the
# LEAST-contended attempt and stamps every attempt's summary; if every
# attempt was contended it self-marks {"contended": true} so no reader
# can mistake the number for a quiet-window measurement.
STEAL_RETRY_PCT = 1.0
# at least one attempt: a value <= 0 would leave nothing to pick from
MAX_ATTEMPTS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "3")))


def _contention_verdict(
    host_load: dict, attempt: int, max_attempts: int, threshold: float = STEAL_RETRY_PCT
) -> tuple[bool, bool]:
    """Decide what to do after one sweep attempt.

    Returns ``(retry, contended)``: ``retry`` — run the sweep again
    (steal above threshold and attempts remain); ``contended`` — this
    attempt's figure is contention-tainted.  A window with no steal
    reading (no /proc/stat, clock skew) can't be judged and is treated
    as quiet — the stamp itself already says "available: false".
    """
    steal = host_load.get("steal_pct")
    if steal is None or steal <= threshold:
        return False, False
    return attempt < max_attempts, True


def _pick_best_attempt(attempts: list[dict]) -> int:
    """Index of the least-contended attempt (lowest steal; unreadable
    steal sorts last).  Ties go to the EARLIEST attempt — later same-
    session re-runs are warmer, and preferring them would let repetition
    itself lower the figure."""
    def key(i: int):
        s = attempts[i]["host_load"].get("steal_pct")
        return (s is None, s if s is not None else 0.0, i)

    return min(range(len(attempts)), key=key)


def _run_attempts(run_sweep: Callable[[], dict], max_attempts: int) -> list[dict]:
    """Run the sweep until an attempt is uncontended or ``max_attempts``
    attempts have run; every attempt is returned."""
    attempts: list[dict] = []
    for attempt in range(1, max_attempts + 1):
        attempts.append(run_sweep())
        retry, _ = _contention_verdict(attempts[-1]["host_load"], attempt, max_attempts)
        if not retry:
            break
        print(
            f"# bench attempt {attempt} contended "
            f"(steal {attempts[-1]['host_load'].get('steal_pct')}% > "
            f"{STEAL_RETRY_PCT}%): re-running sweep "
            f"({max_attempts - attempt} retr{'y' if max_attempts - attempt == 1 else 'ies'} left)",
            file=sys.stderr,
        )
    return attempts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # full-map output path: --out beats $SPARK_GRAFT_BENCH_OUT beats the
    # gitignored default (never the committed BENCH_LOCAL.json unless
    # explicitly asked — driver sweeps must not dirty the tree)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    argv = sys.argv[1:]
    if "--out" in argv:
        out_path = argv[argv.index("--out") + 1]
    if not out_path:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.latest.json"
        )

    # Stdout purity: the driver parses stdout as ONE JSON line, but the
    # JVM (launched as a child inheriting fd 1) writes banner/log noise
    # there.  Save the real stdout, point fd 1 at stderr BEFORE the JVM
    # starts, and write the JSON to the saved fd at the end — so the
    # process's stdout contains exactly the JSON line, nothing else.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from movie_recommendation_engine_spark.registry import QUERIES
    from movie_recommendation_engine_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM once per cost class so per-query numbers measure the
    # queries, not session startup: parquet footers, a REAL sf0.001 ALS
    # fit (a toy fit misses the solver/codegen paths — round 4 billed
    # ~28 s of JIT to the first ALS query), KMeans (IVF quantizers),
    # the Arrow/Python worker pool (round 10: 5-35 s billed to the
    # first mapInPandas query), and the iterative-checkpoint graph loop
    # (round 12: fresh-session part_pagerank read 21.7/8.9/6.3 s over
    # three runs without it vs 7.6/4.5/4.0 s with it — the proven cause
    # of deep-warm sweep budgets being unreproducible fresh).  Shared
    # with bench_check's retime and rebaseline_probe so budgets, sweep
    # figures, and adjudication retimes run in ONE execution context.
    from movie_recommendation_engine_spark.warmups import warm_all

    warm_all(spark, sf_dir, log=lambda m: print(m, file=sys.stderr))

    import gc

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    def run_sweep() -> dict:
        """One full sweep + steady retime, with its own host-load window
        — the unit the contention guard retries."""
        timings: dict[str, float] = {}
        load_t0 = time.perf_counter()
        load_a = _cpu_stat()

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

        ok = {k: v for k, v in timings.items() if v >= 0}

        # In-sweep timings bill first-run JIT and mid-run GC pressure to
        # whichever query hits them (measured round 4: 2-5x on sub-3 s
        # queries).  tools/bench_check.py adjudicates by retiming flagged
        # queries steady-state — do that adjudication HERE too and store the
        # steady figure in the committed per-query map, so BENCH_LOCAL.json
        # matches what the guard actually adjudicates (round-4 verdict task:
        # the raw sweep file gave readers a misleading per-query picture).
        # The raw sweep figure of every retimed query is preserved in
        # "sweep_queries"; the headline value stays the true sweep total.
        steady: dict[str, float] = {}
        try:
            budget_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "tools", "bench_budget.json"
            )
            with open(budget_path) as fh:
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
            ratio, floor = 1.5, 1.0  # keep in sync with tools/bench_check.py
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
                    if budget.get(n, -1) > 0 and t > ratio * max(budget[n], floor)
                ),
                key=lambda n: -(ok[n] - ratio * max(budget[n], floor)),
            )[:15]  # bound the extra wall time; the guard retimes any rest
            if flagged:
                print(f"# bench retiming {len(flagged)} sweep-flagged queries: "
                      f"{', '.join(flagged)}", file=sys.stderr)
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                for name in flagged:
                    best = float("inf")
                    for _ in range(2):
                        t0 = time.perf_counter()
                        QUERIES[name](spark, sf_dir).count()
                        best = min(best, time.perf_counter() - t0)
                        gc.collect()
                    steady[name] = round(best, 4)
        except Exception as ex:
            print(f"# bench steady retime skipped: {ex}", file=sys.stderr)

        return {
            "timings": timings,
            "steady": steady,
            # measured over THIS attempt's timed window (sweep + retimes),
            # so each attempt carries its own host-noise evidence
            "host_load": _host_load(
                load_a, _cpu_stat(), time.perf_counter() - load_t0
            ),
        }

    attempts = _run_attempts(run_sweep, MAX_ATTEMPTS)
    best_i = _pick_best_attempt(attempts)
    chosen = attempts[best_i]
    # re-judge the CHOSEN attempt (it may be an earlier, quieter one)
    contended = _contention_verdict(chosen["host_load"], MAX_ATTEMPTS, MAX_ATTEMPTS)[1]
    timings, steady = chosen["timings"], chosen["steady"]
    ok = {k: v for k, v in timings.items() if v >= 0}
    sweep_total = round(sum(ok.values()), 4)

    adjudicated = dict(timings)
    sweep_queries = {}
    best_observed = {}
    for name, s in steady.items():
        sweep_queries[name] = timings[name]
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
        adjudicated[name] = s
        best_observed[name] = min(s, timings[name])
    host_load = dict(chosen["host_load"])
    if len(attempts) > 1:
        # every attempt's summary rides along so a reader can see the
        # retry history, not just the chosen window
        host_load["attempts"] = [
            {
                "steal_pct": a["host_load"].get("steal_pct"),
                "wall_sec": a["host_load"].get("wall_sec"),
                "sweep_total_sec": round(
                    sum(v for v in a["timings"].values() if v >= 0), 4
                ),
                "chosen": i == best_i,
            }
            for i, a in enumerate(attempts)
        ]
    full = {
        "metric": "total_query_wall_sec",
        "value": sweep_total,
        "unit": "sec",
        "queries": adjudicated,
        "sweep_total_sec": sweep_total,
        "sf": sf_val,
        # measured over the CHOSEN attempt's timed window (sweep +
        # retimes), so the artifact is self-describing about host noise;
        # "contended" means every bounded re-run attempt stayed above the
        # steal threshold and the figure is NOT a quiet-window number
        "host_load": host_load,
        "contended": contended,
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
    full_line = json.dumps(full)
    # The caller's stdout capture stores only a bounded tail (BENCH_r02/
    # r03 recorded "parsed": null against the ~6 KB 203-query line), so
    # stdout gets a COMPACT line — totals + the top-20 slowest queries —
    # guaranteed to fit the capture, and the full per-query map goes to
    # the full-map file (plus one stderr copy).
    # compact per-query figures are the RAW in-sweep times (the driver's
    # record of what this sweep actually did); the steady adjudication
    # lives in the full map's queries[]/sweep_queries[] split
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
