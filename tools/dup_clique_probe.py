"""Duplicate-clique probe (round-8 verdict task 1): time the dedup
family on uniform $SPARK_GRAFT_SF_DIR (default sf0.1) AND on the
duplicate-heavy variant
(tools/gen_dup_sf.py: ~20% of documents near-exact copies of one
template — a ~1000-member near-dup clique) and report the wall-clock
ratio.

Uniform replication proves dedup scales with VOLUME and the Zipf probe
covered key concentration in the RELATIONAL tables; this probe covers
duplicate concentration in the CORPUS — the axis where banded LSH's
within-bucket self-join is quadratic in clique size (the one scale
edge round-8's verdict flagged as never exercised, because
gen_scale_sf.py rotates text per replica precisely to avoid cliques).

Defenses under test (landed round 9, each mirrored into its oracle):

- ``minhash_lsh_pairs(max_bucket=64)`` — per-bucket candidate cap
  (dedup_minhash_lsh);
- ``minhash_lsh_edges`` — per-bucket star edges to the bucket minimum,
  linear where all-pairs is quadratic (dedup_components,
  dedup_pipeline_summary, corpus_curation_e2e).

EXPECTED flags: the exact pair-enumeration queries
(dedup_ngram_jaccard, dedup_simhash) legitimately emit Theta(k^2)
OUTPUT rows on a k-clique — all clique pairs really are near-dups, and
no plan shrinks output cardinality.  Their ratio documents the cost of
exactness; clique-heavy corpora should route through the capped LSH /
star-edge paths, which is what the curation pipeline does.

A ratio <= 3x uniform passes for the bounded queries; the exact
pair-enumeration queries report their measured blow-up with an
``inherent-k^2-output`` verdict instead of FLAG/ok.

Usage:
    python tools/dup_clique_probe.py          # default query set
    python tools/dup_clique_probe.py name...  # explicit list
Writes a "## Duplicate-clique probe" section into BENCH_SCALE.md.
Env: SPARK_GRAFT_DUP_DIR overrides the variant location
(`gen_dup_sf.py --src` should match $SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import os
import sys

from harness import ROOT, best_of, session, splice_section

SF_DUP = os.environ.get(
    "SPARK_GRAFT_DUP_DIR", os.path.join(ROOT, ".scale", "sf0.1-dup")
)
RUNS = 2
THRESHOLD = 3.0
SLOW_SKIP_S = 90.0  # one run past this: record it, skip the retries

# Queries whose output is a pair ENUMERATION — quadratic on a clique by
# semantics, not by plan.  Reported, not flagged.
QUADRATIC_OUTPUT = {"dedup_ngram_jaccard", "dedup_simhash"}

DEFAULT_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_pipeline_summary",
    "corpus_curation_e2e",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    # round-11: the SimHash star-edge component path — must stay flat on
    # the clique corpus like its minhash twin (dedup_components), since
    # identical fingerprints land the whole clique in one bucket per
    # block and the star emits k-1 edges instead of k^2/2 pairs
    "dedup_simhash_components",
    "split_contamination",
    "doc_shingle_novelty",
]


def main(argv: list[str]) -> int:
    names = argv or DEFAULT_QUERIES

    if not os.path.exists(os.path.join(SF_DUP, "documents.parquet")):
        print(
            f"# {SF_DUP} missing — run: python tools/gen_dup_sf.py",
            file=sys.stderr,
        )
        return 2

    from pyspark.sql import functions as F

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, sf_uniform = session("dup_probe")
    master = spark.sparkContext.master

    docs = spark.read.parquet(f"{SF_DUP}/documents.parquet")
    n_docs = docs.count()
    # clique size = docs whose text starts with the shared template
    # prefix (the unique suffix keeps fingerprints distinct)
    clique = docs.filter(
        F.col("text").startswith("breaking news update the markets")
    ).count()

    for sf_dir in (sf_uniform, SF_DUP):  # warm footers + python workers
        spark.read.parquet(f"{sf_dir}/documents.parquet").agg(
            F.sum(F.length("text"))
        ).collect()

    results: dict[str, dict] = {}
    for name in names:
        if name not in QUERIES:
            print(f"# unknown query {name}, skipping", file=sys.stderr)
            continue
        row: dict = {}
        for tag, sf_dir in (("uniform", sf_uniform), ("dup", SF_DUP)):

            def run():
                row[f"{tag}_rows"] = QUERIES[name](spark, sf_dir).count()

            best = best_of(run, 1)
            if best <= SLOW_SKIP_S:  # past it the magnitude is the finding
                best = min(best, best_of(run, RUNS - 1))
            row[tag] = round(best, 3)
        row["ratio"] = round(row["dup"] / row["uniform"], 2)
        results[name] = row
        print(
            f"# {name}: uniform {row['uniform']}s ({row['uniform_rows']} rows)"
            f" -> dup {row['dup']}s ({row['dup_rows']} rows) x{row['ratio']}",
            file=sys.stderr,
        )
    spark.stop()

    flagged = sorted(
        (
            n
            for n, r in results.items()
            if r["ratio"] > THRESHOLD and n not in QUADRATIC_OUTPUT
        ),
        key=lambda n: -results[n]["ratio"],
    )
    lines = [
        "## Duplicate-clique probe (round 9)",
        "",
        f"Dedup family on uniform {os.path.basename(sf_uniform)} vs the "
        "duplicate-heavy variant "
        f"(`tools/gen_dup_sf.py`: {clique}/{n_docs} documents are "
        "near-exact copies of one template — one ~0.92-Jaccard clique, "
        "the hot-LSH-bucket shape the uniform scale generator never "
        f"produces).  min of {RUNS} runs (single run past "
        f"{SLOW_SKIP_S:.0f}s), one {master} JVM.  `ratio` = "
        "dup/uniform wall-clock.  Bounded queries (capped LSH pairs, "
        f"star-edge components) must stay <= {THRESHOLD}x; exact pair "
        "ENUMERATION on a k-clique emits Theta(k^2) output rows by "
        "semantics, so those two report their measured cost instead of "
        "a flag — clique-heavy corpora route through the capped/star "
        "paths (as the curation pipeline does).",
        "",
        "| query | uniform (s) / rows | dup (s) / rows | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, row in sorted(results.items(), key=lambda kv: -kv[1]["ratio"]):
        if name in QUADRATIC_OUTPUT:
            verdict = "inherent-k^2-output"
        elif row["ratio"] > THRESHOLD:
            verdict = "FLAG"
        else:
            verdict = "ok"
        lines.append(
            f"| {name} | {row['uniform']} / {row['uniform_rows']} "
            f"| {row['dup']} / {row['dup_rows']} | {row['ratio']} "
            f"| {verdict} |"
        )
    lines += [
        "",
        f"Flagged bounded queries (> {THRESHOLD}x): "
        + (", ".join(flagged) if flagged else "none")
        + ".",
        "",
    ]

    path = os.path.join(ROOT, "BENCH_SCALE.md")
    splice_section(path, "## Duplicate-clique probe", lines)
    print(f"# wrote Duplicate-clique probe section to {path}", file=sys.stderr)
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
