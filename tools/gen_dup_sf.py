"""Derive a duplicate-clique variant of an SF directory (round-8 verdict
task 1): same tables, same row counts, but ~20% of documents become
NEAR-EXACT copies of one template — the corpus shape real crawls
produce (boilerplate pages, mirrored articles) and the one axis the
uniform scale generator deliberately avoids (gen_scale_sf.py rotates
text per replica, so no prior probe ever built a hot LSH bucket).

Each selected document's text becomes a fixed ~50-word template plus a
per-document unique suffix token.  Consequences, by design:

- every document remains UNIQUE under exact/normalized fingerprinting
  (the suffix token), so exact-dedup stages do NOT collapse the clique
  before near-dup machinery sees it — the adversarial case survives
  pipeline composition (corpus_curation_e2e's funnel -> exact ->
  near-dup ordering);
- pairwise word-bigram Jaccard within the clique is ~0.92 (>= any
  reasonable near-dup threshold), so the ~1000 copies at sf0.1 form
  one genuine near-duplicate clique;
- most of the 16 MinHash values are unchanged by the suffix (it
  perturbs a min only when its bigram hashes below all template
  bigrams), so clique members pile into the SAME LSH band buckets —
  the within-bucket self-join that was quadratic before round 9's
  cap/star-edge fix (operators/dedup.py minhash_lsh_pairs max_bucket /
  minhash_lsh_edges).

The mask is md5(doc_id) % 5 == 0 — deterministic, engine-independent,
row-order independent (same recipe as gen_skew_sf.py).  n_chars is
recomputed for rewritten rows so the metadata stays honest.  All other
tables are byte-identical copies.

Usage:
    python tools/gen_dup_sf.py [--src /root/testdata/sf0.1]
                               [--out .scale/sf0.1-dup]
                               [--pct 20]
Runs ``local[$SPARK_GRAFT_CPUS]``.  ``harness.derive_variant`` writes
the variant: a finished derive of the same --src and --pct is reused.
"""

from __future__ import annotations

import argparse
import os
import sys

from harness import ROOT, derive_variant, local_spark

TEMPLATE = (
    "breaking news update the markets opened higher today as investors "
    "weighed fresh economic data against lingering inflation concerns "
    "analysts said the rally could extend into next week provided "
    "earnings reports continue to beat expectations while central bank "
    "officials signaled patience on further rate moves and consumer "
    "spending remained resilient across most retail categories"
)


def derive(spark, src: str, out: str, pct: int = 20) -> None:
    """Derive (or reuse) the duplicate-clique variant of ``src`` at ``out``."""
    from pyspark.sql import functions as F

    mod = max(1, round(100 / pct))

    def dup(table, df):
        if table != "documents":
            return None
        mask = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % mod == 0
        )
        dup_text = F.concat(
            F.lit(TEMPLATE), F.lit(" tok"), F.col("doc_id").cast("string")
        )
        return df.withColumn(
            "text", F.when(mask, dup_text).otherwise(F.col("text"))
        ).withColumn(
            "n_chars",
            F.when(mask, F.length("text")).otherwise(F.col("n_chars")),
        )

    derive_variant(spark, src, out, {"variant": "dup", "pct": pct}, dup, single_file=True)


def main(argv: list[str] | None = None, stop_spark: bool = False) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(ROOT, ".scale", "sf0.1-dup"))
    ap.add_argument("--pct", type=int, default=20,
                    help="approx percent of documents rewritten onto the template")
    args = ap.parse_args(argv)
    if not 1 <= args.pct <= 100:
        ap.error(f"--pct must be in [1, 100], got {args.pct}")

    spark = local_spark("gen_dup_sf")
    derive(spark, args.src, args.out, args.pct)
    if stop_spark:
        spark.stop()
    print(f"wrote duplicate-clique variant to {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:], stop_spark=True))
