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
The variant (default ``.scale/<SF name>-dup``, or $SPARK_GRAFT_DUP_DIR)
is used only when its derive marker names $SPARK_GRAFT_SF_DIR and the
default --pct; otherwise the probe derives it first (gen_dup_sf.derive).
"""

from __future__ import annotations

import os
import sys

import gen_dup_sf
from harness import Probe, session, variant_dir

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


def _verdict(name: str, ratio: float) -> str:
    if name in QUADRATIC_OUTPUT:
        return "inherent-k^2-output"
    return "FLAG" if ratio > THRESHOLD else "ok"


PROBE = Probe(
    "## Duplicate-clique probe (round 9)",
    ("uniform", "dup"),
    RUNS,
    THRESHOLD,
    verdict=_verdict,
    flag_label="Flagged bounded queries",
    rows_in_cells=True,
    slow_skip_s=SLOW_SKIP_S,
)


def main(argv: list[str]) -> int:
    from pyspark.sql import functions as F

    spark, sf_uniform = session("dup_probe")
    master = spark.sparkContext.master
    sf_dup = variant_dir("SPARK_GRAFT_DUP_DIR", sf_uniform, "dup")
    gen_dup_sf.derive(spark, sf_uniform, sf_dup)

    docs = spark.read.parquet(f"{sf_dup}/documents.parquet")
    n_docs = docs.count()
    # clique size = docs whose text starts with the shared template
    # (the unique suffix keeps fingerprints distinct)
    clique = docs.filter(F.col("text").startswith(gen_dup_sf.TEMPLATE)).count()

    dirs = [sf_uniform, sf_dup]
    for sf_dir in dirs:  # warm footers + python workers
        spark.read.parquet(f"{sf_dir}/documents.parquet").agg(
            F.sum(F.length("text"))
        ).collect()
    results = PROBE.time(spark, argv or DEFAULT_QUERIES, dirs)
    spark.stop()

    flagged = PROBE.report(
        results,
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
        "paths (as the curation pipeline does)."
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
