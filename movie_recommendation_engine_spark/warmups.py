"""Shared one-time JVM/session warmups for benchmarking contexts.

Per-query bench figures must measure PLANS, not whichever query happens
to run first after session start: the first execution of each cost
class pays JIT/codegen, worker-pool spawn, or solver initialization
that later executions don't (measured 5-35 s per class).  Two callers
warm through ``warm_all``: perfbench/worker.py, and
``session(warm=True)`` in tools/harness.py, which bench.py,
tools/bench_check.py's fresh-session retime and
tools/rebaseline_probe.py all use.  So committed budgets, sweep
figures, and adjudication retimes share one reproducible execution
context (round-12: three separate copies had drifted — bench_check's
toy ALS fit under-warmed relative to bench.py's real fit, and the
iterative class was pasted verbatim into all three).

Every helper swallows its own failures (a missing sf0.001 checkout or
MLlib edge must not kill a bench run); callers pass ``log`` to surface
the skip.

``warm_all`` runs the five classes concurrently, one thread each,
longest (ALS) first, and returns once all have finished.  They share no
state, and one class alone leaves most cores idle on JIT, class loading
and Python worker start-up, so overlapping them shortens fresh-session
setup.  Import rule: everything a helper needs is imported at the top
of this module, never inside a helper.  A process's first import of
``pyspark.ml`` is not thread-safe: concurrent first imports fail with
``ImportError`` (partially initialized ``pyspark.ml.wrapper``) or
``KeyError: 'pyspark.ml'``, and the helper would log a failure and warm
nothing.

Warmup classes and why each exists:
- ``warm_parquet``: footer/codec initialization for the sweep's input.
- ``warm_als``: the first REAL MLlib ALS fit in a JVM pays JIT across
  block/solver/checkpoint paths a toy 200-row fit never touches
  (round-4: ~28 s billed to the first ALS query without it); falls
  back to a synthetic frame when sf0.001 is absent.
- ``warm_kmeans``: same class for the IVF-kmeans quantizer fits.
- ``warm_arrow``: first mapInPandas spawns the Python worker pool and
  initializes the Arrow lanes (round-10: 5-35 s).
- ``warm_iterative``: the graph/dedup loops' join + grouped-sum +
  localCheckpoint per-iteration path has DEEP JIT — fresh-session
  part_pagerank read 21.7/8.9/6.3 s over three runs without this ~6 s
  tiny-graph warmup vs 7.6/4.5/4.0 s with it (round-12: the proven
  root cause of budgets calibrated in a deep-warm sweep position being
  unreproducible in fresh sessions).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.recommendation import ALS
from pyspark.sql import functions as F

from .operators.graph import pagerank, pagerank_weighted
from .operators.similarity import arrow_dot_topk


def _noop(msg: str) -> None:  # pragma: no cover - trivial
    pass


def warm_parquet(spark, sf_dir: str, log: Callable[[str], None] = _noop) -> None:
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    except Exception as ex:
        log(f"# parquet warmup failed for {sf_dir}: {ex}")


def warm_als(spark, log: Callable[[str], None] = _noop) -> None:
    try:
        try:
            warm = (
                spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
                .select(
                    F.col("l_orderkey").cast("int").alias("user"),
                    F.col("l_partkey").cast("int").alias("item"),
                    F.col("l_quantity").cast("float").alias("rating"),
                )
                .dropDuplicates(["user", "item"])
            )
        except Exception:  # no sf0.001 checkout: synthesize a small one
            warm = spark.createDataFrame(
                [
                    (u, i, float((u * i) % 5 + 1))
                    for u in range(200)
                    for i in range(40)
                    if (u + i) % 3
                ],
                "user int, item int, rating float",
            )
        m = ALS(
            rank=8,
            maxIter=4,
            regParam=0.15,
            userCol="user",
            itemCol="item",
            ratingCol="rating",
            seed=1,
            nonnegative=True,  # NNLS solver — the engine default; the
            coldStartStrategy="drop",  # vanilla solver is a different class
        ).fit(warm)
        m.recommendForAllUsers(5).count()
        pred = m.transform(warm)
        RegressionEvaluator(
            metricName="rmse", labelCol="rating", predictionCol="prediction"
        ).evaluate(pred)
    except Exception as ex:
        log(f"# ALS warmup failed: {ex}")


def warm_kmeans(spark, log: Callable[[str], None] = _noop) -> None:
    try:
        pts = spark.range(256).select(
            (F.col("id") % 17).cast("double").alias("x"),
            (F.col("id") % 13).cast("double").alias("y"),
        )
        vec = VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(pts)
        km = KMeans(k=4, maxIter=3, seed=1).fit(vec)
        km.transform(vec).count()
    except Exception as ex:
        log(f"# KMeans warmup failed: {ex}")


def warm_arrow(spark, log: Callable[[str], None] = _noop) -> None:
    try:
        toy = spark.range(256).select(
            F.col("id").cast("int").alias("id"),
            F.array(
                (F.col("id") % 7).cast("float"), (F.col("id") % 5).cast("float")
            ).alias("features"),
        )
        arrow_dot_topk(toy, toy, k=3, id_col="id", vec_col="features").count()
    except Exception as ex:
        log(f"# Arrow warmup failed: {ex}")


def warm_iterative(spark, log: Callable[[str], None] = _noop) -> None:
    try:
        nodes = spark.range(101).select(F.col("id"))
        tedges = spark.range(3000).select(
            (F.col("id") % 97).alias("u"),
            ((F.col("id") * 7) % 101).alias("v"),
            (F.col("id") % 5 + 1).cast("long").alias("w"),
        )
        pagerank(nodes, tedges, iterations=3).count()
        pagerank_weighted(nodes, tedges, iterations=3).count()
    except Exception as ex:
        log(f"# iterative warmup failed: {ex}")


def warm_all(spark, sf_dir: str, log: Callable[[str], None] = _noop) -> None:
    """Every warmup class at once, one thread each, longest first."""
    classes = (
        partial(warm_als, spark, log),
        partial(warm_parquet, spark, sf_dir, log),
        partial(warm_iterative, spark, log),
        partial(warm_arrow, spark, log),
        partial(warm_kmeans, spark, log),
    )
    with ThreadPoolExecutor(max_workers=len(classes)) as pool:
        futures = [pool.submit(c) for c in classes]
    for f in futures:
        f.result()
