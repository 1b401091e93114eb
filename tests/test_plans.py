"""Physical-plan assertions — the scale contract, enforced in CI:

- no registered query may put a row-at-a-time Python UDF in its plan
  (mapInPandas/Arrow is the only sanctioned Python, multimodal only);
- the flagship uses TakeOrderedAndProject (never a full global sort);
- dimension joins broadcast;
- bucketed co-located joins run WITHOUT a shuffle exchange.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.registry import QUERIES
from movie_recommendation_engine_spark.sources.writers import write_bucketed

SF = "/root/testdata/sf0.001"

# queries whose plans legitimately contain an Arrow python node
ARROW_OK = {
    "multimodal_byte_features",
    "multimodal_frame_sample",
    # deliberate Arrow path: windowed PCM audio energy (sanctioned mapInPandas)
    "multimodal_audio_energy",
    # deliberate Arrow path: BLAS-matmul exact kNN (sanctioned mapInPandas)
    "knn_arrow_top5",
    # deliberate Arrow path since round 6: item-neighbor serving scores
    # via the same BLAS matmul (2.0s vs 4.8s steady at the sf1 probe)
    "als_item_neighbors",
    "als_item_neighbors_invariants",
    "als_rank1_item_neighbors",
    # deliberate Arrow path: every ALS top-k (recommend_top_k,
    # recommendation_lists) serves through arrow_dot_topk
    # (15-25s vs 62-80s blocked cross at sf0.1; completes the sf1 e2e
    # under a 4 GiB heap where the blocked cross OOMs the JVM)
    "als_recommend_invariants",
    "als_rank1_recommend_top5",
    # deliberate Arrow path: Misra-Gries per-partition summaries
    "heavy_hitters_mg",
    # deliberate Arrow grouped-map paths (applyInPandas)
    "user_value_median_arrow",
    "grouped_price_trimmed_mean_arrow",
}
# ALS queries build MLlib plans lazily via fit(); skip plan introspection.
# movielens_e2e_cli is a driver composition over CLI verbs (its result is
# a materialized scalar row, not a lazy plan) — the verbs' own plans are
# covered by the queries they share code with.
SKIP = {"als_recommend_top5", "als_rmse_eval", "movielens_e2e_cli"}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# queries whose plans legitimately contain a GLOBAL-ORDER window (no
# partition columns -> one WindowExec task) because the windowed frame
# is bounded BY CONSTRUCTION, not by the data:
GLOBAL_WINDOW_OK = {
    "doc_vocab_coverage",  # row_number over the top-V vocab (<= 25 rows after TakeOrdered)
    "revenue_mom_growth",  # lag/avg over the month table (bounded by calendar)
    "brand_dense_ids",  # row_number over distinct brands (tiny domain)
}

# Queries whose plan contains a CartesianProduct node INSIDE MLlib's
# ALSModel.recommendForUserSubset: the intentional blocked user-block x
# item-block matrix multiply with collect_top_k partial aggregation —
# the standard batch top-k serving algorithm, cost bounded by the
# served user subset.  No engine-authored cross product is allowed.
CARTESIAN_OK = {
    "als_recommend_top5",
    "als_recommend_invariants",
}


def test_no_python_row_udfs_anywhere(spark):
    """One sweep over every registered query's physical plan enforcing
    the two repo-wide scale contracts: no Python outside the sanctioned
    Arrow allowlist, and no data-sized single-partition window — a
    global-order windowspec may appear only for frames that are bounded
    by construction (GLOBAL_WINDOW_OK)."""
    import re

    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} runs a row-at-a-time Python UDF"
        # third repo-wide contract: every cross product must broadcast a
        # BOUNDED side (scalar re-entry, capped query set, centroid
        # table).  A CartesianProduct node means Spark judged NEITHER
        # side broadcastable — an all-pairs shuffle that cannot survive
        # scale-up — except inside MLlib's blocked ALS recommend
        # (CARTESIAN_OK, a deliberate blocked matrix multiply).
        if name not in CARTESIAN_OK:
            assert "CartesianProduct" not in plan, (
                f"{name} runs a non-broadcast cartesian product"
            )
        if name not in ARROW_OK:
            assert (
                "ArrowEvalPython" not in plan
                and "MapInPandas" not in plan
                and "FlatMapGroupsInPandas" not in plan
            ), f"{name} unexpectedly crosses into Python"
        if name not in GLOBAL_WINDOW_OK:
            for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
                first = spec.split(", ")[0]
                assert "ASC" not in first and "DESC" not in first, (
                    f"{name} runs a data-sized global-order window: {spec[:100]}"
                )


def test_flagship_uses_heap_topk_and_broadcast_scalars(spark):
    plan = _plan(QUERIES["popularity_top100"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(QUERIES["revenue_per_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed by orderkey -> SortMergeJoin without Exchange."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(li, "b_lineitem", ["l_orderkey"], n_buckets=4)
        write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=4)
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, "bucketed join still shuffles"
        # sanity: the join actually works
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_partitioned_write_prunes(spark):
    """write_partitioned + filter on the partition column must show
    partition pruning in the scan (PartitionFilters), not a full read."""
    import tempfile

    from movie_recommendation_engine_spark.operators.sampling import split_assign
    from movie_recommendation_engine_spark.sources.writers import write_partitioned

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_quantity"
    )
    labeled = split_assign(
        li, group_col="l_orderkey", key_cols=["l_orderkey", "l_partkey", "l_linenumber"]
    )
    d = tempfile.mkdtemp(prefix="split_parts_")
    try:
        write_partitioned(labeled, d, partition_by=["split"])
        back = spark.read.parquet(d).filter(F.col("split") == "train")
        plan = _plan(back)
        assert "PartitionFilters" in plan and "split" in plan
        assert back.count() == labeled.filter("split = 'train'").count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_range_join_plans_as_hash_join_not_nested_loop(spark):
    """The bucketed range join must plan as an equi-join on the bucket
    id — never the BroadcastNestedLoopJoin of the naive BETWEEN."""
    plan = _plan(QUERIES["range_join_price_band"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, "range join degenerated to a cross product"
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_single_exchange(spark):
    """The union-merge as-of join pays exactly one hash exchange (on the
    by-key for the window) plus the final presentation sort — never a
    per-pair join exchange or a nested loop."""
    plan = _plan(QUERIES["asof_purchase_attribution"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, "asof should be a window merge, not a join"
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges <= 1, f"asof pays {exchanges} hash exchanges"


def test_table_profile_single_scan(spark):
    """The profile must be ONE aggregate over the table (plus reshape),
    never a job per column."""
    from movie_recommendation_engine_spark.operators.profile import table_profile

    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (2, 7.5, None)],
        "k int, v double, s string",
    )
    out = {r.column: r for r in table_profile(df, ["k", "v", "s"]).collect()}
    assert (out["k"].n, out["k"].n_null, out["k"].n_distinct) == (3, 0, 2)
    assert (out["v"].n, out["v"].n_null, out["v"].n_distinct) == (2, 1, 2)
    assert out["v"].min_value == "5.0" and out["v"].max_value == "7.5"
    assert (out["s"].n, out["s"].n_null) == (2, 1)
    # exactly one scan of the source in the plan
    plan = _plan(table_profile(df, ["k", "v", "s"]))
    assert plan.count("Scan ExistingRDD") <= 1


def test_parquet_scan_prunes_columns_and_pushes_filters(spark):
    """Column pruning + predicate pushdown must reach the parquet scan:
    a filtered 3-column aggregate over the 11-column lineitem reads only
    what it needs."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, "scan reads columns the query never uses"


def test_correlated_subquery_decorrelates_to_join(spark):
    """The TPC-H Q17-shaped correlated scalar subquery must plan as
    aggregate + equi-join (Catalyst decorrelation), never per-row
    subquery re-execution."""
    plan = _plan(QUERIES["lineitems_above_part_avg"](spark, SF))
    assert "Join" in plan or "HashJoin" in plan
    assert "Subquery" not in plan, "subquery survived into the physical plan"


def test_interval_join_is_equi_join_with_residual(spark):
    """The stream-stream-capable interval join must plan as a hash-family
    equi-join on the key with the time range as residual condition —
    never a cartesian/nested-loop theta join."""
    plan = _plan(QUERIES["events_click_attribution"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_bloom_prefilter_sits_on_probe_scan(spark):
    """The bloom membership test (getbit over the literal bitmap) must be
    a Filter in the probe side's plan, before the semi join."""
    plan = _plan(QUERIES["bloom_semi_join_revenue"](spark, SF))
    assert "getbit" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_funnel_stages_stay_equi_joins(spark):
    plan = _plan(QUERIES["events_funnel"](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q6_pushes_all_predicates_no_wide_exchange(spark):
    """TPC-H Q6 is the pushdown best case: every predicate reaches the
    parquet scan and the grand aggregate needs only a single-partition
    exchange (partial+final), never a hash-partitioned one."""
    from movie_recommendation_engine_spark.registry import QUERIES

    plan = _plan(QUERIES["tpch_q6_forecast_revenue"](spark, SF))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    # the scan node elides long filter lists ("..."), so assert the
    # leading entries plus the full ReadSchema pruning
    assert "IsNotNull(l_discount)" in pushed and "GreaterThanOrEqual(l_shipda" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert set(
        c.split(":")[0] for c in read_schema.split("<")[1].rstrip(">").split(",")
    ) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    assert "hashpartitioning" not in plan


def test_ohlc_is_single_aggregate_no_window(spark):
    """OHLC must be one hash aggregate (min_by/max_by), not a window
    pass: exactly one wide exchange, no Window node."""
    from movie_recommendation_engine_spark.registry import QUERIES

    plan = _plan(QUERIES["events_ohlc_15m"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_abandonment_outer_join_is_equi_not_nested_loop(spark):
    """The temporal NOT EXISTS must plan as an equi join on user_id with
    the time range as residual — a nested-loop over events x events
    would be quadratic."""
    from movie_recommendation_engine_spark.registry import QUERIES

    plan = _plan(QUERIES["events_abandoned_views"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_seq_pattern_is_windows_not_joins(spark):
    """Sequence detection must plan as two union-merge as-of windows —
    zero Join nodes, zero cartesians (the naive triple self-join is
    quadratic)."""
    from movie_recommendation_engine_spark.registry import QUERIES

    plan = _plan(QUERIES["events_seq_pattern"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_equidepth_no_single_partition_window(spark):
    """price_histogram_equidepth's round-2 plan pushed all of lineitem
    through one WindowExec partition (global ntile); the round-3 plan
    must contain NO window at all — ranks come from global_rank."""
    plan = _plan(QUERIES["price_histogram_equidepth"](spark, SF))
    assert "Window" not in plan, plan
    assert "ntile" not in plan.lower()


def test_global_rank_matches_window_row_number(spark):
    """global_rank's distributed assembly must equal the semantic spec
    row_number() OVER (ORDER BY ...) — including across the partition
    boundaries of a skewed repartition."""
    from pyspark.sql import Window
    from movie_recommendation_engine_spark.operators.relational import global_rank

    rows = [(i % 7, (i * 37) % 101, i) for i in range(1000)]
    df = spark.createDataFrame(rows, "a int, b int, id int").repartition(13)
    got = {
        r.id: r.rank
        for r in global_rank(df, ["a", "b", "id"], num_partitions=5).collect()
    }
    want = {
        r.id: r.rank
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("a", "b", "id"))
        ).collect()
    }
    assert got == want


def test_semdedup_broadcasts_centroids(spark):
    """The nearest-centroid assignment (SemDeDup's assign step, IVF's
    assign and probe) must broadcast the centroid table (narrow pass
    over the corpus), and SemDeDup's within-cluster pair join must be a
    real equi-join on the cluster id, never a cartesian.  semdedup
    checkpoints the assignment (so it runs once, not three times), so
    its lineage is planned through the helpers directly."""
    from movie_recommendation_engine_spark.operators.similarity import (
        _centroid_sims,
        _nearest,
        _seed_centroids,
        _side,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    side = _side(emb, "vec_id", "embedding", "vec_id", "v")
    plan = _plan(_nearest(_centroid_sims(side, "v", _seed_centroids(emb, 29)), "vec_id", 1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # and the gated (checkpointed) query must not degenerate either
    assert "CartesianProduct" not in _plan(QUERIES["semantic_dedup_semdedup"](spark, SF))


def test_sq8_ranges_fold_to_one_broadcast_row(spark):
    """SQ8 quantization attaches the per-dimension (lo[], hi[]) ranges
    as ONE broadcast row — the vectors themselves are never shuffled a
    second time for the reconstruct step."""
    plan = _plan(QUERIES["ann_sq8_top5"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_jl_query_side_is_bounded_limit(spark):
    """ann_jl_top5's broadcast/cross-join query side must be bounded by
    a structural limit (TakeOrderedAndProject), not just a modulo filter
    whose cardinality grows with the corpus — the round-3 verdict's
    scale caveat.  The candidate side stays a full scan; only the query
    relation is capped."""
    plan = _plan(QUERIES["ann_jl_top5"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_brute_force_ann_query_sides_are_bounded_limits(spark):
    """Every brute-force-crossed ANN query relation carries the
    structural _Q_CAP sorted limit (TakeOrderedAndProject), so no
    broadcast side grows with the corpus.  knn_arrow_top5's cap guards
    its driver-side collect and lives in a separate job plan, so it is
    asserted via the shared _capped_queries helper instead."""
    for name in ("knn_bruteforce_top5", "ann_sq8_top5", "ann_lsh_recall"):
        plan = _plan(QUERIES[name](spark, SF))
        # the sorted limit compiles to TakeOrderedAndProject or a
        # sort + GlobalLimit depending on AQE context; both bound it
        assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan, name


def test_rank1_value_gate_probes_are_bounded_limits(spark):
    """The two rank-1 VALUE-gate queries feed closed-form factors
    through the REAL serving paths.  recommend: broadcast probe x item
    factors — sorted-limit probe side, broadcast cross join, no Python
    rows, no CartesianProduct.  neighbors: since round 6 the serving
    path is the Arrow/BLAS scorer (arrow_brute_force_topk), so the
    result plan shows the vectorized MapInPandas scorer over the
    candidate scan (its probe cap executes in the bounded driver-side
    collect, the knn_arrow_top5 convention), and still nothing crosses
    into row-Python or a cartesian."""
    plan = _plan(QUERIES["als_rank1_recommend_top5"](spark, SF))
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    plan = _plan(QUERIES["als_rank1_item_neighbors"](spark, SF))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_item_neighbors_invariants_broadcast_shapes(spark):
    """The factor-neighbor invariant gate must keep item_neighbors'
    scale shape: the train catalog attaches via a broadcast hash join
    (dimension-sized), scoring runs through the vectorized Arrow
    scorer (MapInPandas — round 6 moved item_neighbors to the BLAS
    path: 2.0s vs 4.8s steady at the sf1 probe, and the gap widens
    with catalog and rank), and nothing crosses into row-Python."""
    plan = _plan(QUERIES["als_item_neighbors_invariants"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_kmeans_invariants_cell_partitioned_scoring(spark):
    """The k-means IVF invariant gate must keep the IVF probe shape:
    centroids attach via broadcast (cross against a 16-row table), and
    query-candidate scoring joins on cent_id — a cell-partitioned
    equi-join, never an all-pairs corpus cross."""
    plan = _plan(QUERIES["ann_ivf_kmeans_invariants"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "[cent_id" in plan  # equi-join keyed on the probe cell
    assert "BatchEvalPython" not in plan


def test_cohort_retention_is_window_free(spark):
    """The retention triangle runs as hash aggregates only — a
    per-cohort window would serialize each cohort through one task."""
    plan = _plan(QUERIES["events_cohort_retention"](spark, SF))
    assert "Window" not in plan


def test_global_cumsum_matches_window_running_sum(spark):
    """global_cumsum's distributed assembly (range partition + per-
    partition running sums + triangular offsets) must equal the semantic
    spec sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING), including
    across partition boundaries of a skewed input."""
    from pyspark.sql import Window
    from movie_recommendation_engine_spark.operators.relational import global_cumsum

    rows = [(i % 7, (i * 37) % 101, i, (i * 13) % 29 + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "a int, b int, id int, v int").repartition(13)
    got = {
        r.id: r.cumsum
        for r in global_cumsum(df, ["a", "b", "id"], "v", num_partitions=5).collect()
    }
    w = Window.orderBy("a", "b", "id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.id: r.cumsum for r in df.withColumn("cumsum", F.sum("v").over(w)).collect()}
    assert got == want


def test_interval_overlap_join_is_hash_join_not_bnlj(spark):
    """The bucketed overlap join must plan as an equi-join on the bucket
    id — never the BroadcastNestedLoopJoin Spark gives a bare theta
    overlap predicate."""
    plan = _plan(QUERIES["interval_overlap_ship_windows"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_jl_projection_stays_jvm_side(spark):
    """64->16 JL reduction + reduced-space search: pure codegen
    expressions (HOF folds), broadcast query side, no Python anywhere."""
    plan = _plan(QUERIES["ann_jl_top5"](spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "BroadcastExchange" in plan


def test_sliding_7d_broadcasts_day_list(spark):
    """Both the exact and the sketch leg join user-days/day-sketches to
    the tiny report-day list via broadcast — the big side never
    range-shuffles against a theta condition."""
    plan = _plan(QUERIES["sliding_7d_active_users"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pareto_staircase_no_global_window(spark):
    """customer_pareto_frontier must run the staircase plan: its only
    windows are partitioned by the physical partition id (bounded
    per-task state), never a global ORDER BY-only window, and the
    dominance test must not appear as a quadratic join."""
    plan = _plan(QUERIES["customer_pareto_frontier"](spark, SF))
    # the only nested-loop join allowed is the bounded triangular offset
    # fold (#partitions^2 rows); the data-sized dominance test must not
    # appear as a quadratic join, so no CartesianProduct anywhere
    assert "CartesianProduct" not in plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = spec.split(", ")[0]
        assert "ASC" not in first and "DESC" not in first, (
            f"unpartitioned (global-order) window: {spec}"
        )


def test_dynamic_partition_pruning_on_dim_filter(spark):
    """Star-join against a partitioned fact must prune fact partitions
    at RUNTIME from the dimension's filter (DPP): the fact scan's
    partition filters carry a dynamicpruning subquery, so only the
    partitions whose keys survive the dim filter are read — the plan
    shape that makes dim-filtered scans over a 100 TB partitioned fact
    affordable."""
    import tempfile

    from movie_recommendation_engine_spark.sources.writers import write_partitioned

    fact = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    d = tempfile.mkdtemp(prefix="dpp_fact_")
    try:
        write_partitioned(fact, d, partition_by=["o_orderpriority"])
        dim = spark.createDataFrame(
            [("1-URGENT", "hot"), ("2-HIGH", "hot"), ("5-LOW", "cold")],
            "o_orderpriority string, klass string",
        )
        back = spark.read.parquet(d)
        j = back.join(dim.filter(F.col("klass") == "hot"), "o_orderpriority")
        plan = _plan(j)
        assert "dynamicpruning" in plan.lower(), plan
        want = fact.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        ).count()
        assert j.count() == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_triangular_offsets_reuse_the_range_exchange(spark):
    """global_cumsum's per-partition totals and final join both read the
    SAME range-partitioned base — Catalyst must reuse that exchange
    (ReusedExchange/localCheckpoint reuse), not scan and shuffle the
    input twice."""
    from movie_recommendation_engine_spark.operators.relational import global_cumsum

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).cast("long").alias("v")
    )
    out = global_cumsum(df, ["id"], "v", num_partitions=4)
    plan = _plan(out)
    # the localCheckpointed base appears as ONE scan reused by both
    # consumers: no more than one Exchange rangepartitioning node
    assert plan.count("Exchange rangepartitioning") <= 1, plan


def test_association_rules_broadcast_marginals_no_cartesian(spark):
    """The rule join must broadcast brand marginals and the pair
    self-join must be a real equi-join — a CartesianProduct would mean
    the brand-bounded rule space was built the O(n^2) way."""
    plan = _plan(QUERIES["basket_association_rules"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_negative_samples_broadcast_items_and_anti_join(spark):
    """Candidate probes join the dense item index BROADCAST (dimension-
    sized) and positives leave via a broadcast/shuffle ANTI join — the
    two shapes that keep the sampler linear in |users|*k."""
    plan = _plan(QUERIES["customer_negative_samples"](spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_decomposition_is_window_free(spark):
    """The centered-MA self-join plan must contain NO WindowExec at all:
    the 13-month window is a calendar-bounded join, not an ordered
    window over data."""
    plan = _plan(QUERIES["monthly_revenue_decomposition"](spark, SF))
    assert "Window" not in plan


def test_seasonal_forecast_is_window_free(spark):
    plan = _plan(QUERIES["monthly_seasonal_forecast"](spark, SF))
    assert "Window" not in plan


def test_chi2_single_fact_scan_marginals_broadcast(spark):
    """The 15-cell contingency plan reads the localCheckpointed cell
    table for every marginal (one fact scan total) and broadcasts the
    marginals back."""
    plan = _plan(QUERIES["returnflag_priority_chi2"](spark, SF))
    assert plan.count("Scan parquet") == 0  # checkpoint feeds everything
    assert "BroadcastHashJoin" in plan
