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
The variant (default ``.scale/<SF name>-skew``, or $SPARK_GRAFT_SKEW_DIR)
is used only when its derive marker names $SPARK_GRAFT_SF_DIR and the
default --pct; otherwise the probe derives it first (gen_skew_sf.derive).
"""

from __future__ import annotations

import os
import sys

import gen_skew_sf
from harness import Probe, session, variant_dir, warm_scan

RUNS = 3
THRESHOLD = 3.0  # skew/uniform ratio above this flags the query
PROBE = Probe("## Skew probe (round 8)", ("uniform", "skew"), RUNS, THRESHOLD)

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
    from pyspark.sql import functions as F

    spark, sf_uniform = session("skew_probe")
    master = spark.sparkContext.master
    sf_skew = variant_dir("SPARK_GRAFT_SKEW_DIR", sf_uniform, "skew")
    gen_skew_sf.derive(spark, sf_uniform, sf_skew)

    hot_shares = {}
    for t, skewed in gen_skew_sf.SKEW.items():
        df = spark.read.parquet(f"{sf_skew}/{t}.parquet")
        for c, _ in skewed:
            top = df.groupBy(c).count().orderBy(F.desc("count")).first()
            hot_shares[f"{t}.{c}"] = round(100.0 * top["count"] / df.count(), 1)

    dirs = [sf_uniform, sf_skew]
    warm_scan(spark, dirs)
    results = PROBE.time(spark, argv or DEFAULT_QUERIES, dirs)
    spark.stop()

    flagged = PROBE.report(
        results,
        f"Same queries on uniform {os.path.basename(sf_uniform)} vs the "
        "Zipf-skewed variant "
        "(`tools/gen_skew_sf.py`: one hot key per axis holds ~20% of its "
        "table — measured shares "
        + ", ".join(f"{k} {v}%" for k, v in hot_shares.items())
        + f"; min of {RUNS} runs each, one {master} JVM, AQE skew-join "
        "on).  `ratio` = skew/uniform wall-clock; above "
        f"{THRESHOLD}x needs a plan fix or a documented bound."
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
