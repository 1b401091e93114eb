"""Generate a larger scale factor for the cross-SF probe by K-fold
key-shifted replication of an existing testdata SF (round-5 verdict
task 3: the 100-TB design claims rested on a single 10x observation —
this adds the sf0.1 -> sf1 decade).

/root/testdata is read-only and tops out at sf0.1, so the derived SF
lands under the repo (default ``.scale/sf1`` — gitignored: it is a
deterministic artifact of this script + the read-only source, never a
committed input).

Replication model (replica 0 == the source, so every distribution is
preserved exactly and grows linearly):

- ``region``/``nation``: fixed dims, copied once (they are fixed-size
  in TPC-H at every SF).
- fact/dim tables: K replicas with ALL keys shifted by
  ``replica * (max_key + 1)`` CONSISTENTLY across tables — lineitem's
  shifted l_orderkey/l_partkey/l_suppkey still join orders/part/
  supplier, orders' shifted o_custkey still joins customer, so join
  fan-outs and selectivities match the source exactly.
- ``events``: event_id/user_id shifted; ts left unchanged (event
  density per time window grows Kx — the realistic shape for a busier
  system, and the harder one for windowed aggregations).
- ``documents``: doc_id shifted and the TEXT alphabet-rotated per
  replica (a per-replica Caesar bijection over a-z/A-Z).  A bijection
  preserves lengths, token structure, and the INTRA-replica duplicate/
  near-dup structure, while making replicas mutually dissimilar — naive
  text replication would hand MinHash/LSH a K-clique of exact
  duplicates per document, inflating candidate pairs ~K^2/2 and making
  every dedup query read super-linear for a DATA reason, not a PLAN
  reason.  Vocabulary grows Kx, which also scales the broadcast-vocab
  text queries realistically.  ``lang``/``source``/``n_chars`` are
  preserved (rotation is length-preserving).
- ``embeddings``: vec_id shifted, vectors/labels unchanged (candidate
  sets grow Kx; ANN query sides are structurally LIMIT-capped, so this
  probes exactly the scan/score leg that grows).

Deterministic: no randomness anywhere — same source + K -> identical
bytes modulo parquet row-group encoding.

K is bounded at 26: the per-replica Caesar rotation has only 25
non-identity shifts over a 26-letter alphabet (shift 26 IS the
identity, and shift i+26 collides with shift i), so k > 26 would
silently reintroduce the cross-replica exact-duplicate cliques the
rotation exists to prevent.  ``main`` rejects k outside [1, 26].

Usage:
    python tools/gen_scale_sf.py [--src /root/testdata/sf0.1] \
        [--out .scale/sf1] [--k 10]
Runs ``local[$SPARK_GRAFT_CPUS]``.  ``harness.derive_variant`` writes
the SF: a finished derive of the same --src and --k is reused.
"""

from __future__ import annotations

import argparse
import functools
import os
import string
import sys

from harness import ROOT, derive_variant, local_spark

# table -> {column: (table, key) whose stride shifts it}.  A stride is
# the SOURCE's max key + 1, so cross-table references stay aligned;
# tables not listed (region, nation) are copied once.
CUSTOMER, ORDERS = ("customer", "c_custkey"), ("orders", "o_orderkey")
PART, SUPPLIER = ("part", "p_partkey"), ("supplier", "s_suppkey")
SHIFTS = {
    "customer": {"c_custkey": CUSTOMER},
    "supplier": {"s_suppkey": SUPPLIER},
    "part": {"p_partkey": PART},
    "orders": {"o_orderkey": ORDERS, "o_custkey": CUSTOMER},
    "lineitem": {"l_orderkey": ORDERS, "l_partkey": PART, "l_suppkey": SUPPLIER},
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}


def derive(spark, src: str, out: str, k: int = 10) -> None:
    """Derive (or reuse) the ``k``-fold replication of ``src`` at ``out``."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    @functools.cache
    def stride(table: str, key: str) -> int:
        df = spark.read.parquet(f"{src}/{table}.parquet")
        return int(df.agg(F.max(key)).collect()[0][0]) + 1

    lower, upper = string.ascii_lowercase, string.ascii_uppercase

    def replicate(table, df):
        if table not in SHIFTS:
            return df
        reps = []
        for i in range(k):
            rep = df
            for col, entity in SHIFTS[table].items():
                t = rep.schema[col].dataType.simpleString()
                rep = rep.withColumn(
                    col, (F.col(col) + F.lit(i * stride(*entity))).cast(t)
                )
            if table == "documents" and i > 0:
                rot_l = lower[i:] + lower[:i]
                rot_u = upper[i:] + upper[:i]
                rep = rep.withColumn(
                    "text", F.translate("text", lower + upper, rot_l + rot_u)
                )
            reps.append(rep)
        # partition count scales with the replication so downstream scans
        # see sf-proportional parallelism, mirroring the source layout
        union = functools.reduce(DataFrame.unionByName, reps)
        return union.repartition(df.rdd.getNumPartitions() * k)

    derive_variant(spark, src, out, {"variant": "scale", "k": k}, replicate)


def main(argv: list[str] | None = None, stop_spark: bool = False) -> int:
    """``stop_spark`` only from the CLI entry: the session may be the
    caller's (the pytest fixture drives this as a library)."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(ROOT, ".scale", "sf1"))
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args(argv)
    if not 1 <= args.k <= 26:
        ap.error(
            f"--k must be in [1, 26], got {args.k}: the Caesar rotation has "
            "only 25 non-identity shifts, so replicas 26+ would duplicate "
            "earlier replicas' text verbatim and inflate dedup candidates"
        )

    spark = local_spark("gen_scale_sf")
    derive(spark, args.src, args.out, args.k)
    if stop_spark:
        spark.stop()
    print(f"# wrote sf (k={args.k}) to {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(stop_spark=True))
