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
The copy (default ``.scale/<SF name>-frag``, or $SPARK_GRAFT_FRAG_DIR)
is reused only when its derive marker names $SPARK_GRAFT_SF_DIR and
the rows-per-file setting.
"""

from __future__ import annotations

import glob
import os
import sys

from harness import Probe, derive_variant, session, variant_dir, warm_scan

from movie_recommendation_engine_spark.sources.schemas import TESTDATA_TABLES

ROWS_PER_FILE = int(os.environ.get("SPARK_GRAFT_FRAG_ROWS_PER_FILE", "500"))
RUNS = 3
THRESHOLD = 2.0
PROBE = Probe(
    "## Fragmentation probe (round 9)", ("uniform", "fragmented"), RUNS, THRESHOLD
)

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


def _shatter(table, df):
    n = df.count()
    files = max(1, n // ROWS_PER_FILE)
    print(f"# fragmented {table}: {n} rows -> {files} files", file=sys.stderr)
    return df.repartition(files)


def _file_count(d: str) -> int:
    """Parquet files of the star schema: one per single-file table, else
    the part files of its directory."""
    return sum(
        len(glob.glob(f"{d}/{t}.parquet/*.parquet")) or 1 for t in TESTDATA_TABLES
    )


def main(argv: list[str]) -> int:
    spark, sf_uniform = session("frag_probe")
    master = spark.sparkContext.master
    sf_frag = variant_dir("SPARK_GRAFT_FRAG_DIR", sf_uniform, "frag")
    params = {"variant": "frag", "rows_per_file": ROWS_PER_FILE}
    derive_variant(spark, sf_uniform, sf_frag, params, _shatter)

    n_files = {"uniform": _file_count(sf_uniform), "frag": _file_count(sf_frag)}
    dirs = [sf_uniform, sf_frag]
    warm_scan(spark, dirs)
    results = PROBE.time(spark, argv or DEFAULT_QUERIES, dirs)
    spark.stop()

    # layout independence is the correctness claim: equal row counts
    mismatches = [
        f"{name}: {r['rows'][0]} vs {r['rows'][1]} rows"
        for name, r in results.items()
        if r["rows"][0] != r["rows"][1]
    ]
    flagged = PROBE.report(
        results,
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
        note="  ROW-COUNT MISMATCHES: " + "; ".join(mismatches) if mismatches else "",
    )
    return 1 if flagged or mismatches else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
