"""Many-small-files probe: the same queries on $SPARK_GRAFT_SF_DIR
(default sf0.1) vs a copy of it shattered into ~500-row parquet files.

A 100 TB landing zone is rarely 200 tidy 1 GB files — streaming
ingestion, hourly partitions, and compaction lag produce millions of
KB-sized files, and engines that plan one task per file (or re-open
footers per row group) fall over on METADATA before they touch data.
Spark's defenses, which this probe measures instead of assumes:
``spark.sql.files.maxPartitionBytes`` packs many small files into one
scan task, ``openCostInBytes`` bills each extra file open so packing
stays balanced, and AQE coalesces the post-scan shuffle.  The engine
inherits all three by reading through plain ``spark.read.parquet``.

The probe derives the fragmented copy on first run (row-count-preserving
``repartition`` rewrite — content identical, layout hostile: lineitem
600k rows -> 1200 files of ~500 rows), verifies per-query result ROW
COUNTS match the uniform run (layout independence is the correctness
claim; full value hashes are already swept cross-layout by
check_oracle's 3-cpu/32-cpu configurations), and reports the
fragmented/uniform wall-clock ratio for scan-heavy queries.

A ratio <= ~2x is a pass for this layout (the fragmented copy has
~40x the file count, so SOME footer overhead is physical); above that
flags a plan reading files one task each.

Usage:
    python tools/fragmentation_probe.py            # default query set
    python tools/fragmentation_probe.py name...    # explicit list
Writes a "## Fragmentation probe" section into BENCH_SCALE.md.
Env: SPARK_GRAFT_FRAG_DIR overrides the fragmented-copy location.
"""

from __future__ import annotations

import json
import os
import sys

from harness import ROOT, best_of, session, splice_section, warm_scan

SF_FRAG = os.environ.get(
    "SPARK_GRAFT_FRAG_DIR", os.path.join(ROOT, ".scale", "sf0.1-frag")
)
ROWS_PER_FILE = int(os.environ.get("SPARK_GRAFT_FRAG_ROWS_PER_FILE", "500"))
RUNS = 3
THRESHOLD = 2.0

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Scan-dominated queries: full-table profiles/aggregates, wide
# projections, and text/token scans — the shapes where per-file
# overhead would surface first.  Join-heavy plans are covered by the
# biggest scan (lineitem) feeding them.
DEFAULT_QUERIES = [
    "lineitem_profile",
    "pricing_summary",
    "lineitem_global_stats",
    "popularity_top100",
    "sql_interface_revenue",
    "tpch_q6_forecast_revenue",
    "doc_text_stats",
    "doc_lang_id",
    "token_freq_cms",
    "dedup_exact",
    "split_counts",
    "events_running_stats",
]


MARKER = os.path.join(SF_FRAG, "_DERIVE_COMPLETE.json")


def _marker(src: str) -> dict:
    return {"rows_per_file": ROWS_PER_FILE, "tables": list(TABLES), "src": src}


def _marker_ok(src: str) -> bool:
    """True iff a prior derive of ``src`` COMPLETED under the same
    settings.

    Existence of lineitem.parquet alone is not enough (round-8
    advisory): a crashed half-written derive, or one built under a
    different SPARK_GRAFT_FRAG_ROWS_PER_FILE or from a different
    source dir, would be silently reused and skew the uniform-vs-
    fragmented comparison.  The marker is written LAST, after every
    table lands, and records the knobs.
    """
    try:
        with open(MARKER) as fh:
            m = json.load(fh)
        return m == _marker(src)
    except Exception:
        return False


def _derive(spark, src: str) -> None:
    import shutil

    shutil.rmtree(SF_FRAG, ignore_errors=True)  # stale/partial prior copy
    os.makedirs(SF_FRAG, exist_ok=True)
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        n = df.count()
        files = max(1, n // ROWS_PER_FILE)
        df.repartition(files).write.mode("overwrite").parquet(
            f"{SF_FRAG}/{t}.parquet"
        )
        print(f"# fragmented {t}: {n} rows -> {files} files", file=sys.stderr)
    with open(MARKER, "w") as fh:
        json.dump(_marker(src), fh)


def _file_count(d: str) -> int:
    total = 0
    for t in TABLES:
        p = f"{d}/{t}.parquet"
        if os.path.isdir(p):
            total += sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
        else:
            total += 1
    return total


def main(argv: list[str]) -> int:
    names = argv or DEFAULT_QUERIES

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, sf_uniform = session("frag_probe")
    master = spark.sparkContext.master

    if not _marker_ok(sf_uniform):
        _derive(spark, sf_uniform)

    n_files = {"uniform": _file_count(sf_uniform), "frag": _file_count(SF_FRAG)}
    warm_scan(spark, [sf_uniform, SF_FRAG])

    results: dict[str, dict[str, float]] = {}
    mismatches: list[str] = []
    for name in names:
        if name not in QUERIES:
            print(f"# unknown query {name}, skipping", file=sys.stderr)
            continue
        row: dict[str, float] = {}
        counts: dict[str, int] = {}
        for tag, sf_dir in (("uniform", sf_uniform), ("frag", SF_FRAG)):

            def run():
                counts[tag] = QUERIES[name](spark, sf_dir).count()

            row[tag] = round(best_of(run, RUNS), 3)
        if counts["uniform"] != counts["frag"]:
            mismatches.append(
                f"{name}: {counts['uniform']} vs {counts['frag']} rows"
            )
        row["ratio"] = round(row["frag"] / row["uniform"], 2)
        results[name] = row
        print(
            f"# {name}: uniform {row['uniform']}s -> frag {row['frag']}s "
            f"(x{row['ratio']})",
            file=sys.stderr,
        )
    spark.stop()

    flagged = sorted(
        (n for n, r in results.items() if r["ratio"] > THRESHOLD),
        key=lambda n: -results[n]["ratio"],
    )
    lines = [
        "## Fragmentation probe (round 9)",
        "",
        f"Scan-heavy queries on {os.path.basename(sf_uniform)} vs a "
        "content-identical copy "
        f"shattered into ~{ROWS_PER_FILE}-row parquet files "
        f"({n_files['uniform']} files -> {n_files['frag']} files across "
        f"the star schema; min of {RUNS} runs each, one {master} JVM).  "
        "The many-small-files landing zone is where per-file task "
        "scheduling or per-footer overhead would detonate a 100 TB scan; "
        "Spark's maxPartitionBytes file-packing + openCostInBytes "
        "balancing + AQE coalescing are the defense, inherited by every "
        "query through plain parquet reads.  `ratio` = fragmented/uniform "
        f"wall-clock; above {THRESHOLD}x flags a plan paying per-file "
        "costs.  Row counts verified equal across layouts per query.",
        "",
        "| query | uniform (s) | fragmented (s) | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, row in sorted(results.items(), key=lambda kv: -kv[1]["ratio"]):
        verdict = "FLAG" if row["ratio"] > THRESHOLD else "ok"
        lines.append(
            f"| {name} | {row['uniform']} | {row['frag']} | {row['ratio']} "
            f"| {verdict} |"
        )
    lines += [
        "",
        f"Flagged (> {THRESHOLD}x): "
        + (", ".join(flagged) if flagged else "none")
        + "."
        + (
            "  ROW-COUNT MISMATCHES: " + "; ".join(mismatches)
            if mismatches
            else ""
        ),
        "",
    ]

    splice_section(
        os.path.join(ROOT, "BENCH_SCALE.md"), "## Fragmentation probe", lines
    )
    print("\n".join(lines))
    return 1 if flagged or mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
