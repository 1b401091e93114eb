"""Scale-probe bench tier (round-3 verdict task 6; second decade added
round 6): time the heaviest queries at ADJACENT scale factors and report
the wall-clock scaling ratio per decade, flagging anything super-linear
in the data growth.

The per-round bench measures one SF; this probe is the cross-SF
derivative — the check that a plan that looks fine at one SF does not
do super-linear work as data grows.  Decades probed:

- sf0.01 -> sf0.1 (driver testdata; 10x lineitem/orders/documents,
  embeddings grow only 4x, 500 -> 2000 — read embedding-query ratios in
  THIS decade against that smaller growth);
- sf0.1 -> sf1 (the repo-generated decade: `tools/gen_scale_sf.py`
  key-shifted 10x replication, ALL tables including embeddings grow a
  true 10x).  Skipped with a note if `.scale/sf1` has not been
  generated.

Each query runs ``runs`` times per SF in one JVM and reports the MIN
(steady-state plan cost; the first run pays JIT/codegen — the same
cold-start noise the round-4 budget adjudication measured).  Ratios
well under the data growth are normal at these sizes (fixed per-query
overheads dominate); ratios ABOVE it mean the plan does super-linear
work and needs a plan read before any larger deployment.

Usage:
    python tools/scale_probe.py [N]         # N heaviest (default 12)
    python tools/scale_probe.py name...     # explicit query list
Writes BENCH_SCALE.md at the repo root and prints the same table.
Env: SPARK_GRAFT_SF1_DIR overrides the sf1 location.
"""

from __future__ import annotations

import json
import os
import sys

from harness import ROOT, best_of, session, splice_section, warm_scan

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"
SF_XL = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(ROOT, ".scale", "sf1"))
DATA_GROWTH = 10.0  # per decade; embeddings grow 4x in decade 1 only
# min of 3, not 2: at sf1 identical-plan reruns vary ±50% on GC/memory
# churn in one JVM (measured round 6: part_pagerank 47.6/51.4/59.7s);
# two samples of that distribution still flag linear plans
RUNS = 3
# e2e compositions measure their whole pipeline (ALS fits, dedup
# cascade) — their cost story is audited per-stage, not cross-SF
E2E = {"movielens_e2e_cli", "corpus_curation_e2e", "dedup_pipeline_summary"}


def pick_heaviest(n: int) -> list[str]:
    with open(os.path.join(ROOT, "tools", "bench_budget.json")) as fh:
        budget = json.load(fh)["queries"]
    ranked = sorted(budget.items(), key=lambda kv: -kv[1])
    return [name for name, _ in ranked if name not in E2E][:n]


def main(argv: list[str]) -> int:
    if argv and not argv[0].isdigit():
        names = argv
    else:
        names = pick_heaviest(int(argv[0]) if argv else 12)

    have_xl = os.path.isdir(os.path.join(SF_XL, "lineitem.parquet"))
    sf_dirs = [SF_SMALL, SF_BIG] + ([SF_XL] if have_xl else [])
    if not have_xl:
        print(
            f"# {SF_XL} not generated (python tools/gen_scale_sf.py) — "
            "probing one decade only",
            file=sys.stderr,
        )

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, _ = session("scale_probe")
    master = spark.sparkContext.master
    warm_scan(spark, sf_dirs)

    def time_row(name: str, row: dict[str, float], label: str) -> None:
        """Min of RUNS per SF, merged into ``row`` (mins only ever
        lower a sample), then the per-decade ratios."""
        for sf_dir in sf_dirs:
            t = round(best_of(lambda: QUERIES[name](spark, sf_dir).count(), RUNS), 3)
            row[sf_dir] = min(row.get(sf_dir, t), t)
        row["ratio1"] = round(row[SF_BIG] / row[SF_SMALL], 2)
        msg = f"# {label}: {row[SF_SMALL]}s -> {row[SF_BIG]}s (x{row['ratio1']})"
        if have_xl:
            row["ratio2"] = round(row[SF_XL] / row[SF_BIG], 2)
            msg += f" -> {row[SF_XL]}s (x{row['ratio2']})"
        print(msg, file=sys.stderr)

    results: dict[str, dict[str, float]] = {}
    for name in names:
        if name not in QUERIES:
            print(f"# unknown query {name}, skipping", file=sys.stderr)
            continue
        results[name] = {}
        time_row(name, results[name], name)

    def worst_of(row: dict[str, float]) -> float:
        return max(row.get("ratio1", 0.0), row.get("ratio2", 0.0))

    # Self-adjudicating retime pass (the same discipline as
    # tools/bench_check.py): any query whose worst decade exceeds the
    # data growth is re-timed NOW, at the END of the session — every
    # JVM/codegen/memory-pool cost is fully warm, so position-in-probe
    # artifacts are stripped and only a genuinely super-linear plan can
    # stay flagged.  Measured need (round 6): the FIRST pagerank-family
    # query at sf1 read x12-x21 depending on probe order; the identical
    # query re-timed warm reads x5-x8.  Mins merge, so retiming can only
    # correct upward-biased samples, never manufacture a better plan.
    flagged = [n for n, r in results.items() if worst_of(r) > DATA_GROWTH]
    if flagged:
        print(f"# retiming {len(flagged)} flagged warm: {', '.join(flagged)}",
              file=sys.stderr)
        for name in flagged:
            time_row(name, results[name], f"retimed {name}")
    spark.stop()

    lines = [
        "# BENCH_SCALE — cross-SF scaling probe",
        "",
        f"Heaviest queries timed at sf0.01, sf0.1"
        + (", and sf1" if have_xl else "")
        + f" (min of {RUNS} runs per SF, one {master} JVM, per-SF "
        "shuffle warmups, and an end-of-session warm retime of any "
        "query whose first-pass ratio exceeded the data growth; "
        "`tools/scale_probe.py`).  Each decade grows the data 10x "
        "(exception: embeddings grow 4x in decade 1, 500 -> 2000 "
        "vectors; the generated sf1 grows them a true 10x).  "
        "`ratio1` = sf0.1/sf0.01, `ratio2` = sf1/sf0.1 wall-clock; "
        "`grade` is sub-linear/linear/SUPER-LINEAR of the WORST decade "
        "vs the 10x growth (super-linear = ratio > 10).",
        "",
    ]
    if have_xl:
        lines += [
            "sf1 is `tools/gen_scale_sf.py` key-shifted 10x replication of "
            "sf0.1 (join fan-outs and per-key distributions preserved "
            "exactly; document text alphabet-rotated per replica so "
            "near-dup structure grows linearly instead of forming "
            "cross-replica duplicate cliques).",
            "",
            "| query | sf0.01 (s) | sf0.1 (s) | ratio1 | sf1 (s) | ratio2 | grade |",
            "|---|---|---|---|---|---|---|",
        ]
    else:
        lines += [
            "| query | sf0.01 (s) | sf0.1 (s) | ratio1 | grade |",
            "|---|---|---|---|---|",
        ]
    for name, row in sorted(results.items(), key=lambda kv: -worst_of(kv[1])):
        r = worst_of(row)
        grade = "SUPER-LINEAR" if r > DATA_GROWTH else (
            "linear" if r > 0.7 * DATA_GROWTH else "sub-linear")
        if have_xl:
            lines.append(
                f"| {name} | {row[SF_SMALL]} | {row[SF_BIG]} | {row['ratio1']} "
                f"| {row[SF_XL]} | {row['ratio2']} | {grade} |"
            )
        else:
            lines.append(
                f"| {name} | {row[SF_SMALL]} | {row[SF_BIG]} | {row['ratio1']} | {grade} |"
            )
    worst = max((worst_of(r) for r in results.values()), default=0)
    lines += [
        "",
        f"Worst observed per-decade ratio: {worst} (data growth {DATA_GROWTH}).",
        "",
    ]
    # this tool owns only the leading cross-SF table; the sections
    # other tools own (skew probe, memory soak, ...) carry over
    splice_section(os.path.join(ROOT, "BENCH_SCALE.md"), lines[0], lines)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
