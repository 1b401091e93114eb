"""Concurrency probe: N registry queries racing in ONE SparkSession.

A production cluster runs many queries per session (notebooks, a query
service, the driver's own gate overlapping a bench sweep).  Local
correctness runs are serial, so session-level interference would never
surface there.  The hazards this probe exists to catch:

- fixed-name temp views registered by the SQL-interface queries
  (benign when every racer reads the same sf_dir — same content — but
  a regression to per-query names with different content would corrupt
  a neighbor mid-analysis);
- staging-dir collisions in the sink round-trip queries (write CSV →
  read it back: a neighbor overwriting the same path between those
  two steps returns the NEIGHBOR'S data — exactly the bug class the
  per-(sf_dir, pid) staging paths prevent; pids are shared here, so
  the probe also proves intra-process serial-reuse of those dirs);
- any hidden driver-side mutable state (module globals, session conf
  flips) that two interleaved query builders could trip over.

Method: run the set serially (recording the driver-canon value hash of
each result), then run the same set T-ways concurrent, twice, and
require every hash to match its serial value.  Wall-clock ratio
serial/concurrent is reported as a bonus signal (local[32] has the
cores to overlap these plans), but correctness equality is the gate.

Usage:
  python tools/concurrency_probe.py [--sf-dir D] [--threads T] [names...]

Prints one JSON line: {"queries": N, "mismatches": [...],
"serial_sec": S, "concurrent_sec": C, "speedup": S/C, ...}
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from check_oracle import canon_hash
from harness import session

# A diverse mid-weight slice: the two fixed-name temp-view SQL queries,
# all three sink round-trips (staging paths), joins/aggs/windows,
# dedup/ANN/text (mapInPandas + broadcast), sampling and sketches.
# Deliberately excludes the multi-minute e2e/ALS fits: the probe's
# point is interleaving breadth, not raw weight.
DEFAULT_QUERIES = [
    "sql_interface_revenue",
    "lineitems_above_part_avg",
    "csv_roundtrip_agg",
    "json_roundtrip_agg",
    "orc_roundtrip_agg",
    "revenue_per_nation",
    "customer_order_counts_outer",
    "top3_suppliers_per_nation",
    "events_sessionized",
    "events_running_stats",
    "stratified_sample_returnflag",
    "split_counts",
    "token_freq_cms",
    "dedup_exact",
    "dedup_minhash_lsh",
    "doc_tfidf_top_terms",
    "doc_lang_id",
    "knn_arrow_top5",
    "part_type_word_counts",
    "order_priority_classes",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--threads", type=int, default=8)
    ap.add_argument("--rounds", type=int, default=2, help="concurrent repeats")
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    import __spark_entry__ as e
    spark, _ = session("concurrency-probe")
    qs = e.queries()
    names = args.names or DEFAULT_QUERIES
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    def run(name: str) -> str:
        return canon_hash(qs[name](spark, args.sf_dir).toPandas())

    t0 = time.monotonic()
    serial = {n: run(n) for n in names}
    serial_sec = time.monotonic() - t0

    mismatches: list[dict] = []
    concurrent_sec = []
    for rnd in range(args.rounds):
        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=args.threads) as pool:
            futs = {n: pool.submit(run, n) for n in names}
            for n, f in futs.items():
                try:
                    h = f.result()
                except Exception as ex:  # a crash under concurrency IS the finding
                    mismatches.append({"query": n, "round": rnd, "err": repr(ex)[:200]})
                    continue
                if h != serial[n]:
                    mismatches.append(
                        {"query": n, "round": rnd, "serial": serial[n], "concurrent": h}
                    )
        concurrent_sec.append(round(time.monotonic() - t0, 3))

    out = {
        "probe": "concurrency",
        "sf_dir": args.sf_dir,
        "threads": args.threads,
        "queries": len(names),
        "rounds": args.rounds,
        "mismatches": mismatches,
        "serial_sec": round(serial_sec, 3),
        "concurrent_sec": concurrent_sec,
        "speedup": round(serial_sec / min(concurrent_sec), 2) if concurrent_sec else None,
    }
    print(json.dumps(out))
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
