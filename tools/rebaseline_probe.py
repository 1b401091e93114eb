"""Fresh-session min-of-N steady probe for budget re-baselining.

Runs in bench.py's execution context (``harness.session(warm=True)``:
the same warmup classes), so the measured figures represent the
context the bench sweep and the bench_check retime run in — the
round-11 verdict's requirement that budgets come from a REPRODUCIBLE
context (fresh-session quiet steady), not from a lucky deep-warm sweep
position.

    python tools/rebaseline_probe.py QUERY [QUERY...] [--runs 3]

Prints one line per query: name, all runs, min.  Stamps /proc/stat
steal over the probe window.
"""

from __future__ import annotations

import sys

from harness import best_of, host_window, session


def main(argv: list[str]) -> int:
    runs = 3
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i : i + 2]
    names = argv
    assert names, "usage: rebaseline_probe.py QUERY... [--runs N]"

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, sf_dir = session("rebaseline", warm=True)
    with host_window() as load:
        for name in names:
            fn = QUERIES[name]
            ts = [round(best_of(lambda: fn(spark, sf_dir).count(), 1), 3)
                  for _ in range(runs)]
            print(f"{name}: runs={ts} min={min(ts)}", flush=True)
    print(f"# probe window {load['wall_sec']}s steal {load.get('steal_pct')}%")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
