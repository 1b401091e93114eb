"""Per-query bench regression guard.

Compares a bench run (the one JSON line bench.py prints) against the
committed per-query budget in ``tools/bench_budget.json`` and exits
non-zero if any query exceeds ``RATIO``x its budgeted wall time — the
pre-handoff check that a round's changes didn't regress an unrelated
query (the round-2 verdict's task 8).

Usage:
    python tools/bench_check.py [bench.json]   # compare (runs bench.py
                                               # itself if no file given)
    python tools/bench_check.py --update [bench.json]
                                               # rewrite the budget from
                                               # this run's timings

Queries faster than FLOOR seconds in budget are held to
``RATIO * FLOOR`` instead (sub-second timings are scheduler noise, not
plans). New queries (no budget yet) and retired ones are reported but
never fail the check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RATIO = 1.5
FLOOR = 1.0  # seconds: below this, budget noise dominates plan changes
RETIME_RUNS = 2  # steady-state re-timing of sweep-flagged queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUDGET_PATH = os.path.join(ROOT, "tools", "bench_budget.json")


# bench.py writes its full per-query map to the gitignored .latest file
# by default (round-7 verdict task 5: driver sweeps must not clobber the
# committed quiet-window BENCH_LOCAL.json); prefer whichever full map
# matches the compact line we're adjudicating.
LATEST_PATH = os.path.join(ROOT, "BENCH_LOCAL.latest.json")
LOCAL_PATH = os.path.join(ROOT, "BENCH_LOCAL.json")


def run_bench() -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        capture_output=True, text=True, check=True,
    )
    return _full(json.loads(out.stdout.strip().splitlines()[-1]))


def _full(bench: dict) -> dict:
    """bench.py's stdout line is compact (top-20 slowest only, marked by
    ``queries_note``); the complete per-query map lives in
    BENCH_LOCAL.json — swap it in so the guard covers every query.

    The swap is VALIDATED (round-4 ADVICE): BENCH_LOCAL.json must come
    from the same run as the compact line (same sf, same query count,
    same total within rounding), otherwise the guard would silently
    adjudicate timings from a stale run.  On mismatch or a missing full
    map, fall back to the compact line itself and mark it partial so
    --update refuses to truncate the budget to 20 queries."""
    if "queries_note" not in bench:
        return bench
    last_mismatch = None
    for path in (LATEST_PATH, LOCAL_PATH):
        if not os.path.exists(path):
            continue
        try:
            with open(path) as fh:
                full = json.load(fh)
        except (json.JSONDecodeError, OSError) as ex:
            # a truncated/mid-write full map is exactly the degraded
            # input this fallback exists for — warn, don't crash
            print(
                f"# WARNING: {os.path.basename(path)} unreadable ({ex}) — "
                "trying the next full map.",
                file=sys.stderr,
            )
            continue
        same_run = (
            full.get("sf") == bench.get("sf")
            and len(full.get("queries", {})) == bench.get("queries_total")
            and abs(float(full.get("value", -1)) - float(bench.get("value", -2)))
            < 0.005
        )
        if same_run:
            return full
        last_mismatch = (path, full)
    if last_mismatch is not None:
        path, full = last_mismatch
        print(
            f"# WARNING: {os.path.basename(path)} does not match the compact "
            f"bench line (sf {full.get('sf')}/{bench.get('sf')}, "
            f"n {len(full.get('queries', {}))}/{bench.get('queries_total')}, "
            f"total {full.get('value')}/{bench.get('value')}) — stale run? "
            "Falling back to the compact top-20 line.",
            file=sys.stderr,
        )
    bench = dict(bench)
    bench["_partial"] = True
    return bench


def _retime(names: list[str]) -> dict[str, float]:
    """Steady-state wall time (min of RETIME_RUNS) per query, in one
    fresh session warmed like bench.py's (``harness.session``): budgets
    are calibrated in that context, so the adjudication retime must run
    in it too — a weaker warm set here (the pre-round-12 toy ALS fit,
    no iterative warmup) billed the missing JIT to whichever flagged
    query ran first and could confirm a false regression."""
    from harness import best_of, session
    from movie_recommendation_engine_spark.registry import QUERIES

    spark, sf_dir = session("bench_retime", warm=True)
    out: dict[str, float] = {}
    for name in names:
        try:
            out[name] = round(
                best_of(lambda: QUERIES[name](spark, sf_dir).count(), RETIME_RUNS), 3
            )
        except Exception:  # unregistered or raising: stays a regression
            continue
    spark.stop()
    return out


def main(argv: list[str]) -> int:
    update = "--update" in argv
    argv = [a for a in argv if a != "--update"]
    if argv:
        with open(argv[0]) as fh:
            bench = _full(json.load(fh))
    else:
        bench = run_bench()
    timings: dict[str, float] = bench["queries"]

    if update:
        if bench.get("_partial"):
            print(
                "refusing --update: input is the compact top-20 line and no "
                "matching full map is available (BENCH_LOCAL.json absent or "
                "from a different run) — rewriting now would truncate the "
                f"budget to {len(timings)} queries",
                file=sys.stderr,
            )
            return 1
        with open(BUDGET_PATH) as fh:
            notes = json.load(fh).get("notes", {})
        with open(BUDGET_PATH, "w") as fh:
            json.dump(
                {
                    "sf": bench.get("sf"),
                    "notes": notes,
                    "queries": timings,
                    # sweep-level reference for the total-wall guard below
                    "total_sweep_sec": bench.get("sweep_total_sec", bench.get("value")),
                },
                fh, indent=1, sort_keys=True,
            )
        print(f"budget rewritten: {len(timings)} queries -> {BUDGET_PATH}")
        return 0

    with open(BUDGET_PATH) as fh:
        budget_doc = json.load(fh)
    budget: dict[str, float] = budget_doc["queries"]

    # surface the run's own noise context up front (bench.py stamps
    # /proc/stat deltas over the timed window): adjudication verdicts
    # below should be read against it — high steal/iowait means sweep
    # exceedances are expected and the steady retimes are the signal
    hl = bench.get("host_load") or {}
    if hl.get("steal_pct") is not None:
        noisy = hl["steal_pct"] > 2.0 or hl.get("iowait_pct", 0) > 5.0
        print(
            f"# host_load: steal {hl['steal_pct']}% iowait "
            f"{hl.get('iowait_pct')}% busy {hl.get('cpu_busy_pct')}% over "
            f"{hl.get('wall_sec')}s"
            + (" — CONTENDED HOST, sweep totals are not a code signal" if noisy else "")
        )

    regressions, errors, noise = [], [], []
    for name, t in sorted(timings.items()):
        if t < 0:
            errors.append(name)
            continue
        b = budget.get(name)
        if b is None or b < 0:
            continue
        limit = RATIO * max(b, FLOOR)
        if t > limit:
            regressions.append((name, b, t))
    new = sorted(set(timings) - set(budget))
    gone = sorted(set(budget) - set(timings))

    if new:
        print(f"# {len(new)} new queries (no budget yet): {', '.join(new)}")
    if gone:
        print(f"# {len(gone)} budgeted queries no longer registered: {', '.join(gone)}")
    for name in errors:
        print(f"ERROR  {name}: query raised during bench")

    if regressions:
        # Auto-adjudicate: a 200-query sweep bills first-run JIT and
        # mid-run GC pressure to whichever query hits them (measured
        # round 4: every sweep "regression" retimed within ~1.2x budget
        # standalone).  Re-time the flagged queries steady-state (min of
        # RETIME_RUNS in a fresh session) and only report the ones that
        # are STILL over — those are real plan regressions.
        print(f"# {len(regressions)} sweep exceedances; retiming standalone...")
        steady = _retime([name for name, _, _ in regressions])
        confirmed = []
        for name, b, t in regressions:
            s = steady.get(name)
            if s is None or s > RATIO * max(b, FLOOR):
                confirmed.append((name, b, t, s))
            else:
                noise.append(name)
                print(f"# noise  {name}: sweep {t:.2f}s but steady-state "
                      f"{s:.2f}s vs budget {b:.2f}s")
        regressions = confirmed
    for name, b, t, s in regressions:
        ss = f", steady-state {s:.2f}s" if s is not None else ""
        print(f"REGRESSION  {name}: {t:.2f}s vs budget {b:.2f}s (>{RATIO}x{ss})")

    # Secondary sweep-level guard (round-4 ADVICE): per-query retimes can
    # adjudicate every exceedance as noise even when the SWEEP as a whole
    # degraded (e.g. a new heavy query raises GC pressure for everyone).
    # Compare the run's true sweep total against the budget's recorded
    # one; new queries legitimately grow the total, so their sweep time
    # is added to the reference before applying the ratio.
    sweep_level = []
    total_budget = budget_doc.get("total_sweep_sec")
    sweep_total = bench.get("sweep_total_sec", bench.get("value"))
    if total_budget and sweep_total and not bench.get("_partial"):
        allowed = RATIO * (
            float(total_budget)
            + sum(t for n, t in timings.items() if n not in budget and t > 0)
        )
        if float(sweep_total) > allowed:
            sweep_level.append(
                f"SWEEP-LEVEL REGRESSION: total {float(sweep_total):.1f}s vs "
                f"budgeted {float(total_budget):.1f}s (+new queries) — "
                f"allowed {allowed:.1f}s"
            )
    for line in sweep_level:
        print(line)
    if not regressions and not errors and not sweep_level:
        adjudicated = (
            f" ({len(noise)} sweep exceedances adjudicated as noise: "
            f"{', '.join(noise)})" if noise else ""
        )
        print(f"OK: {len(timings)} queries within {RATIO}x of budget{adjudicated}")
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
