"""Derive a Zipf-skewed variant of an SF directory (round-7 verdict
task 3): same tables, same row counts, but ~20% of the rows of each
high-cardinality key column are remapped onto ONE hot key — the
reference's per-user groupBy scar (reference als.py:115-118 collects
per-user rating counts; one power user concentrates that group) and the
classic hot-row-key failure mode of production joins.

Skewed columns (each an independent deterministic ~20% mask; the hot
key is an EXISTING key, so every FK stays orphan-free):

- ``lineitem.l_orderkey``  -> hot order   (the ALS "user" axis; also the
  orders join key, so orders x lineitem gains a hot join key)
- ``lineitem.l_partkey``   -> hot part    (part joins / co-occurrence
  graph gain a hot vertex)
- ``orders.o_custkey``     -> hot customer (customer joins / per-customer
  aggs)
- ``events.user_id``       -> hot user    (sessionization / event windows
  gain one giant per-user partition)

The mask is ``abs(md5-derived hash) % 5 == 0`` on the ORIGINAL key —
deterministic, engine-independent, and independent of row order.  Hot
keys are the smallest existing key of each domain (stable across runs).

Row counts, schemas, and every other column are byte-identical to the
source; only key VALUES move.  Results of queries on the skewed variant
legitimately differ from uniform — the probe (tools/skew_probe.py)
compares wall-clock, not values, and separately asserts row-conservation
invariants that must hold under any remap.

Usage:
    python tools/gen_skew_sf.py [--src /root/testdata/sf0.1]
                                [--out .scale/sf0.1-skew]
                                [--pct 20]
Runs ``local[$SPARK_GRAFT_CPUS]``.  ``harness.derive_variant`` writes
the variant: a finished derive of the same --src and --pct is reused.
"""

from __future__ import annotations

import argparse
import os
import sys

from harness import ROOT, derive_variant, local_spark

from movie_recommendation_engine_spark.sources.schemas import TESTDATA_TABLES

TABLES = list(TESTDATA_TABLES)

# table -> [(column to skew, table+column whose MIN supplies the hot key)]
SKEW = {
    "lineitem": [("l_orderkey", ("orders", "o_orderkey")),
                 ("l_partkey", ("part", "p_partkey"))],
    "orders": [("o_custkey", ("customer", "c_custkey"))],
    "events": [("user_id", ("events", "user_id"))],
}


def derive(spark, src: str, out: str, pct: int = 20) -> None:
    """Derive (or reuse) the skewed variant of ``src`` at ``out``."""
    from pyspark.sql import functions as F

    mod = max(1, round(100 / pct))

    def skew(table, df):
        if table not in SKEW:
            return None
        for col, (hot_t, hot_c) in SKEW[table]:
            hot = (
                spark.read.parquet(os.path.join(src, f"{hot_t}.parquet"))
                .agg(F.min(hot_c))
                .collect()[0][0]
            )
            # md5-derived mask on the ORIGINAL value: deterministic and
            # row-order independent (F.hash would also work, but md5
            # keeps the recipe engine-portable for oracle replays)
            mask = (
                F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
                .cast("long") % mod == 0
            )
            df = df.withColumn(col, F.when(mask, F.lit(hot)).otherwise(F.col(col)))
        return df

    derive_variant(spark, src, out, {"variant": "skew", "pct": pct}, skew, single_file=True)


def main(argv: list[str] | None = None, stop_spark: bool = False) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(ROOT, ".scale", "sf0.1-skew"))
    ap.add_argument("--pct", type=int, default=20,
                    help="approx percent of rows remapped onto the hot key")
    args = ap.parse_args(argv)
    if not 1 <= args.pct <= 100:
        ap.error(f"--pct must be in [1, 100], got {args.pct}")

    spark = local_spark("gen_skew_sf")
    derive(spark, args.src, args.out, args.pct)
    if stop_spark:
        spark.stop()
    print(f"wrote skewed variant to {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:], stop_spark=True))
