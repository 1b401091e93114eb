"""Evaluation metrics — distributed, array-native (SURVEY §7.2 M3).

The reference computes ranking metrics by collecting everything to the
driver (popularity_model.py:59-77) or via a per-row rdd.map Python
lambda (als.py:128-131) — its own report documents the 1.5 h -> 30 min
scar of getting that wrong at scale (SURVEY §2.13.5).

Here every metric is a JVM-side column expression over per-user arrays:
- standard MAP@K / precision@K / recall@K / hit-rate@K (the correct
  formulations — the reference's mAP is nonstandard, SURVEY §2.13.1);
- the reference-compatible formulas behind ``compat`` columns so its
  published numbers (BASELINE.md) remain comparable:
  ref mAP per user = sum over truth items found at 1-based position p
  of (1 + 1/p) / len(recs), divided by len(truth)
  (reference als.py:10-20, popularity_model.py:23-33);
- RMSE as a plain aggregate (reference als.py:49,103 via
  RegressionEvaluator — same number, no mllib dependency).

No Python UDFs, no explode shuffle: each user's metrics are computed
inside one row via higher-order functions, then averaged in a single
grand aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.rounding import det_round


def rmse(predictions: DataFrame, label_col: str = "rating", pred_col: str = "prediction") -> DataFrame:
    """One-row DataFrame with the root-mean-squared error."""
    d = F.col(pred_col) - F.col(label_col)
    return predictions.agg(F.sqrt(F.avg(d * d)).alias("rmse"))


def _pos_seq(recs: str, k: int) -> str:
    """1-based position sequence over the top-k slice, SAFE on empty
    recs: ``sequence(1, 0)`` auto-descends to ``[1, 0]`` (not ``[]``),
    so without the guard every position-indexed metric would
    ``element_at(recs, 1)`` into an empty array — an ANSI
    INVALID_ARRAY_INDEX crash.  The empty-recs row is a real serving
    shape (a cold user's recommendations left-joined to empty — see
    plans/extension.py); it stays latent
    because aggregate-side column pruning usually drops the crashing
    columns before evaluation."""
    n = f"size(slice({recs}, 1, {k}))"
    return f"if({n} < 1, array(), sequence(1, {n}))"


def _hit_positions(recs: str, truth: str, k: int) -> Column:
    """Ascending 1-based positions of the top-k recs that appear in
    ``truth`` — the ONE O(k) per-user pass every position-indexed
    metric below shares.

    Higher-order-function lambdas are interpreted per element (they
    never enter whole-stage codegen), so the per-element count is the
    cost driver of the whole metrics stage.  The first formulation
    re-walked all k positions once per metric (AP's zip_with+aggregate
    with a struct accumulator allocated per step, NDCG's
    array_contains per position, MRR's transform) — ~4x the interpreted
    work plus per-step struct churn.  Hit positions are typically a
    handful per user, so folding the metrics over THIS array instead
    makes each of them O(|hits|) (r13 optimization; bit-identical —
    the dropped miss terms added exactly 0.0 to nonnegative double
    accumulators, which is an exact float no-op, and hit terms keep
    their ascending evaluation order)."""
    return F.expr(
        f"""
        filter(
          transform({_pos_seq(recs, k)},
                    i -> if(array_contains({truth}, element_at({recs}, i)), i, null)),
          x -> x is not null)
        """
    )


def _ap_at_k(hp: str, truth: str, k: int) -> Column:
    """Standard average precision @ k from the shared hit-position
    array: AP = (1/min(k,|truth|)) * sum_j j / hp_j (the j-th hit at
    1-based position hp_j contributes precision@hp_j = j/hp_j).
    Empty recs score 0; empty truth yields NULL (try_divide), the
    degenerate no-relevants case."""
    return F.expr(
        f"""
        aggregate(
          {hp},
          struct(0 as c, cast(0.0 as double) as s),
          (acc, p) -> struct(acc.c + 1,
                             acc.s + cast(acc.c + 1 as double) / cast(p as double)),
          acc -> try_divide(acc.s, least({k}, size({truth})))
        )
        """
    )


def _ndcg_at_k(hp: str, truth: str, k: int) -> Column:
    """NDCG@k with binary relevance from the shared hit-position array:
    DCG = sum of 1/log2(pos+1) over hit positions; IDCG = the same sum
    over the first min(k, |truth|) positions (all-hits ideal)."""
    return F.expr(
        f"""
        try_divide(
          aggregate(
            {hp},
            cast(0.0 as double),
            (acc, i) -> acc + 1.0 / log2(cast(i + 1 as double))
          ),
          aggregate(
            if(size({truth}) < 1, array(), sequence(1, least({k}, size({truth})))),
            cast(0.0 as double),
            (acc, i) -> acc + 1.0 / log2(cast(i + 1 as double))
          )
        )
        """
    )


def _mrr_at_k(hp: str) -> Column:
    """Reciprocal rank of the FIRST hit in the top-k (0 when no hit):
    the hit-position array is ascending, so its min is its head."""
    return F.expr(f"coalesce(1.0 / array_min({hp}), cast(0.0 as double))")


def _ref_map(recs: str, truth: str) -> Column:
    """The reference's nonstandard mAP (als.py:10-20) as a column expr:
    per truth item found at 1-based position p in recs, add
    (1 + 1/p) / size(recs); divide the sum by size(truth).

    ``array_position`` (an O(|recs|) scan) runs once per truth item via
    the transform — the first formulation evaluated it twice per item
    (condition + value)."""
    return F.expr(
        f"""
        try_divide(
          aggregate(
            transform({truth}, m -> array_position({recs}, m)),
            cast(0.0 as double),
            (acc, p) -> acc + if(p > 0,
                                 (1.0 + 1.0 / cast(p as double)) / size({recs}),
                                 cast(0.0 as double))
          ),
          size({truth})
        )
        """
    )


def per_user_ranking_metrics(
    recs: DataFrame,
    truth: DataFrame,
    k: int = 100,
    user_col: str = "userId",
    recs_col: str = "recs",
    truth_col: str = "truth",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-user metric columns from (user, recs array) ⋈ (user, truth array).

    Inner join on user (reference als.py:123 joins the same way); both
    sides are one row per user so the join is narrow; the truth side is
    typically the smaller and broadcastable.
    """
    joined = recs.join(truth, [user_col], "inner")
    r, t = recs_col, truth_col
    topk = F.expr(f"slice({r}, 1, {k})")
    n_hits = F.size(F.array_intersect(topk, F.col(t)))
    # materialize the shared hit-position array as a projected column so
    # AP / NDCG / MRR fold over ~|hits| elements instead of re-walking
    # all k positions each (HOF lambdas are interpreted per element —
    # see _hit_positions; expression CSE does not cross lambda bodies,
    # so the sharing must be an explicit projection).  The sharing
    # survives the optimizer because CollapseProject refuses to inline a
    # multi-referenced non-cheap expression (SPARK-36718, Spark >= 3.3);
    # on an engine without that guard __hp would be inlined into each
    # consumer and the interpreted work silently re-tripled (correctness
    # unaffected) — re-check the plan on any engine/version change.
    pre = joined.select(
        user_col, r, t, _hit_positions(r, t, k).alias("__hp")
    )
    out = pre.select(
        user_col,
        _ap_at_k("__hp", t, k).alias("ap"),
        (n_hits / F.lit(k)).cast("double").alias("precision"),
        # try_divide: an empty truth array (degenerate, but reachable
        # through the public signature) yields NULL recall, not an ANSI
        # divide-by-zero abort
        F.try_divide(n_hits, F.size(F.col(t))).cast("double").alias("recall"),
        (n_hits > 0).cast("double").alias("hit"),
        _ndcg_at_k("__hp", t, k).alias("ndcg"),
        _mrr_at_k("__hp").alias("rr"),
        _ref_map(r, t).alias("ref_ap"),
    )
    if round_to is not None:
        # per-user metrics are rationals of integer hit counts/ranks —
        # tie-stable rounding (see functions.rounding)
        for c in ("ap", "precision", "recall", "ndcg", "rr", "ref_ap"):
            out = out.withColumn(c, det_round(F.col(c), round_to))
    return out


def summarize_ranking(per_user: DataFrame, round_to: int = 6) -> DataFrame:
    """Grand averages: MAP@K, mean precision/recall, hit-rate, ref-mAP."""
    # averages via exact DECIMAL(28,18) sums: a cross-partition double
    # sum is summation-order-dependent (ulp noise that rounding only
    # probabilistically absorbs); the decimal sum is exact and order-
    # free, with ONE double division at the end on identical operands
    def _avg(c):
        return det_round(
            F.sum(F.col(c).cast("decimal(28,18)")).cast("double") / F.count("*"), round_to
        )

    return per_user.agg(
        _avg("ap").alias("map_at_k"),
        _avg("precision").alias("mean_precision"),
        _avg("recall").alias("mean_recall"),
        _avg("hit").alias("hit_rate"),
        _avg("ndcg").alias("mean_ndcg"),
        _avg("rr").alias("mrr"),
        _avg("ref_ap").alias("ref_map"),
        F.count("*").alias("n_users"),
    )


def global_hit_ratio(
    interactions: DataFrame,
    recs_list: DataFrame,
    item_col: str = "movieId",
    recs_col: str = "recs",
    round_to: int = 6,
) -> DataFrame:
    """The reference's *global* hit-ratio (popularity_model.py:15-21,
    65-68): the fraction of interaction ROWS whose item appears in the
    single global recommendation list — row-level, not per-user
    (SURVEY §2.13.3).  ``recs_list`` is a one-row DataFrame holding the
    array; it enters via broadcast crossJoin, never a driver collect."""
    joined = interactions.crossJoin(F.broadcast(recs_list))
    return joined.agg(
        det_round(
            F.avg(F.array_contains(F.col(recs_col), F.col(item_col)).cast("double")), round_to
        ).alias("hit_ratio"),
        F.count("*").alias("n_rows"),
    )
