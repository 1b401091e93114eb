"""Skewed-key probe (round-7 verdict task 3): time the heavy join/agg/
window queries on the uniform $SPARK_GRAFT_SF_DIR testdata (default
sf0.1) AND on the Zipf-skewed
variant (tools/gen_skew_sf.py: one hot order/part/customer/user holds
~20% of its table's rows) and report the wall-clock ratio.

Uniform replication (gen_scale_sf.py) proves plans scale with VOLUME;
this probe proves they survive key CONCENTRATION — the axis where the
reference died (per-user groupBy on a driver-collected list,
FinalReport p.2-3) and where a 1000-executor job loses a straggler
task.  The engine's defenses under test: AQE skew-join splitting
(session.py enables spark.sql.adaptive.skewJoin), sort-window
operators that never materialize a group, and explicit width caps on
pair-fanout operators.

A ratio <= ~3x uniform is a pass (the hot key makes some extra work
unavoidable: 20% of all rows really do land in one group); anything
above needs a plan fix or a documented bound.

Usage:
    python tools/skew_probe.py               # default query set
    python tools/skew_probe.py name...       # explicit list
Writes a "## Skew probe" section into BENCH_SCALE.md.
Env: SPARK_GRAFT_SKEW_DIR overrides the skewed-variant location
(`gen_skew_sf.py --src` should match $SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import os
import sys

from harness import ROOT, best_of, session, splice_section, warm_scan

SF_SKEW = os.environ.get(
    "SPARK_GRAFT_SKEW_DIR", os.path.join(ROOT, ".scale", "sf0.1-skew")
)
RUNS = 3
THRESHOLD = 3.0  # skew/uniform ratio above this flags the query

# The 15 probed queries: the heaviest registry entries whose plans
# join, aggregate, or window on the four skewed key columns
# (l_orderkey, l_partkey, o_custkey, user_id).  Document/embedding
# queries are excluded — the skew generator does not touch those
# tables, so their ratio is 1.0 by construction and the slot is wasted.
DEFAULT_QUERIES = [
    # per-user (l_orderkey) groupBys — the reference's scar axis
    "als_rank1_rmse",
    "als_rank1_recommend_top5",
    "split_contamination",
    "user_value_median_arrow",
    "order_part_lists",
    # hot-key joins (orders x lineitem, customer x orders)
    "bloom_semi_join_revenue",
    "customer_link_prediction_aa",
    "customer_negative_samples",
    "incremental_star_join_maintenance",
    "customer_rfm_segments",
    # pair-fanout self-joins on the hot basket (l_orderkey) and the
    # hot part vertex
    "part_cooccurrence_top20",
    "item_item_cf_neighbors",
    "part_triangle_count",
    # per-user event windows (user_id)
    "events_sessionized",
    "events_running_stats",
]


def main(argv: list[str]) -> int:
    names = argv or DEFAULT_QUERIES

    if not os.path.exists(os.path.join(SF_SKEW, "lineitem.parquet")):
        print(
            f"# {SF_SKEW} missing — run: python tools/gen_skew_sf.py",
            file=sys.stderr,
        )
        return 2

    from pyspark.sql import functions as F

    from movie_recommendation_engine_spark.registry import QUERIES

    spark, sf_uniform = session("skew_probe")
    master = spark.sparkContext.master

    hot_shares = {}
    for t, c in [
        ("lineitem", "l_orderkey"),
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
        ("events", "user_id"),
    ]:
        df = spark.read.parquet(f"{SF_SKEW}/{t}.parquet")
        top = df.groupBy(c).count().orderBy(F.desc("count")).first()
        hot_shares[f"{t}.{c}"] = round(100.0 * top["count"] / df.count(), 1)

    warm_scan(spark, [sf_uniform, SF_SKEW])

    results: dict[str, dict[str, float]] = {}
    for name in names:
        if name not in QUERIES:
            print(f"# unknown query {name}, skipping", file=sys.stderr)
            continue
        row: dict[str, float] = {}
        for tag, sf_dir in (("uniform", sf_uniform), ("skew", SF_SKEW)):
            row[tag] = round(
                best_of(lambda: QUERIES[name](spark, sf_dir).count(), RUNS), 3
            )
        row["ratio"] = round(row["skew"] / row["uniform"], 2)
        results[name] = row
        print(
            f"# {name}: uniform {row['uniform']}s -> skew {row['skew']}s "
            f"(x{row['ratio']})",
            file=sys.stderr,
        )
    spark.stop()

    flagged = sorted(
        (n for n, r in results.items() if r["ratio"] > THRESHOLD),
        key=lambda n: -results[n]["ratio"],
    )
    lines = [
        "## Skew probe (round 8)",
        "",
        f"Same queries on uniform {os.path.basename(sf_uniform)} vs the "
        "Zipf-skewed variant "
        "(`tools/gen_skew_sf.py`: one hot key per axis holds ~20% of its "
        "table — measured shares "
        + ", ".join(f"{k} {v}%" for k, v in hot_shares.items())
        + f"; min of {RUNS} runs each, one {master} JVM, AQE skew-join "
        "on).  `ratio` = skew/uniform wall-clock; above "
        f"{THRESHOLD}x needs a plan fix or a documented bound.",
        "",
        "| query | uniform (s) | skew (s) | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    for name, row in sorted(results.items(), key=lambda kv: -kv[1]["ratio"]):
        verdict = "FLAG" if row["ratio"] > THRESHOLD else "ok"
        lines.append(
            f"| {name} | {row['uniform']} | {row['skew']} | {row['ratio']} "
            f"| {verdict} |"
        )
    lines += [
        "",
        f"Flagged (> {THRESHOLD}x): "
        + (", ".join(flagged) if flagged else "none")
        + ".",
        "",
    ]

    splice_section(os.path.join(ROOT, "BENCH_SCALE.md"), "## Skew probe", lines)
    print("\n".join(lines))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
