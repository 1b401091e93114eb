"""Popularity baseline — the reference's E1 pipeline, productized.

Reference (popularity_model.py:43-59): per-movie mean rating + rating
count -> collect global mean -> collect 90th percentile of counts ->
filter to popular movies -> Python-UDF weighted score -> global sort ->
collect the full ranked list to the driver.

Engine differences (each one a scale fix, SURVEY §7.2 M2):
- scalars re-enter via a broadcast one-row aggregate (with_scalars), not
  two collect() jobs: the whole pipeline is ONE lazy plan;
- the weighted score is a native column expression (functions.weighted),
  not a Python UDF — stays in whole-stage codegen;
- top-k uses TakeOrderedAndProject (operators.topk.top_k_global), never a
  full collected sort;
- the count floor is the exact ``percentile`` (oracle parity), not the
  reference's percentile_approx sketch (popularity_model.py:50); it
  sorts only the per-item counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.weighted import weighted_rating
from ..operators.relational import with_scalars
from ..operators.topk import top_k_global


def popularity_scores(
    ratings: DataFrame,
    item_col: str = "movieId",
    user_col: str = "userId",
    rating_col: str = "rating",
    count_quantile: float = 0.9,
    round_to: int | None = 6,
) -> DataFrame:
    """Bayesian-weighted popularity score per item.

    Returns columns: item_col, avg_rating, num_ratings, score — only
    items whose rating count reaches the ``count_quantile`` floor.
    """
    # localCheckpoint (not .cache()): consumed twice (scalar branch +
    # scoring branch); one row per item, so even at 100 TB of ratings this
    # is #items rows, far smaller than re-scanning the interaction table.
    # Engine-wide policy: checkpoint blocks are freed by the
    # ContextCleaner once the py4j ref drops, whereas a bare .cache()
    # with no unpersist accumulates one entry per call across a session.
    per_item = (
        ratings.groupBy(item_col)
        .agg(
            F.avg(rating_col).alias("avg_rating"),
            F.count(user_col).alias("num_ratings"),
        )
        .localCheckpoint(eager=False)
    )
    pct = F.expr(f"percentile(num_ratings, {count_quantile})")
    # exact-DECIMAL global mean: a cross-partition double avg is
    # summation-order-dependent; the decimal sum is exact, with one
    # double division on identical operands in any engine
    scalars = per_item.agg(
        (
            F.sum(F.col("avg_rating").cast("decimal(28,18)")).cast("double") / F.count("*")
        ).alias("__global_mean"),
        pct.cast("double").alias("__count_floor"),
    )
    scored = (
        with_scalars(per_item, scalars)
        .filter(F.col("num_ratings") >= F.col("__count_floor"))
        .withColumn(
            "score",
            weighted_rating(
                "num_ratings", "avg_rating", F.col("__count_floor"), F.col("__global_mean")
            ),
        )
        .drop("__global_mean", "__count_floor")
    )
    if round_to is not None:
        from ..functions.rounding import det_round

        # det_round: score and avg_rating are rationals of integer counts
        # and quantity sums — the binary-exact-tie class engine round()
        # handles differently per engine
        scored = scored.withColumn("score", det_round(F.col("score"), round_to)).withColumn(
            "avg_rating", det_round(F.col("avg_rating"), round_to)
        )
    return scored


def popularity_top_k(
    ratings: DataFrame,
    k: int = 100,
    item_col: str = "movieId",
    **kwargs,
) -> DataFrame:
    """Global top-k items by weighted popularity (deterministic: ties
    break by item id)."""
    scored = popularity_scores(ratings, item_col=item_col, **kwargs)
    return top_k_global(scored, [F.col("score").desc(), F.col(item_col).asc()], k)
