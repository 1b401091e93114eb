"""ALS collaborative-filtering recommender (reference E2, SURVEY §7.2 M4).

Wraps ``pyspark.ml.recommendation.ALS`` with the reference's exact
configuration surface (reference als.py:36-46: rank=100, maxIter=3,
regParam=0.15, nonnegative=True, implicitPrefs=False,
coldStartStrategy='drop') plus the knobs that matter at 100 TB and that
the reference left at defaults (SURVEY §7.3):

- ``num_blocks`` (user/item blocking — ALS cost is block-to-block
  shuffles, 2 per iteration, one task per block).  Unset, it is the
  fitting session's ``defaultParallelism``, so every ALS stage runs one
  task per core; MLlib's own default is a fixed 10 on any cluster.
  Set it to pin the factors (they depend on the block count) or to
  make a factor block fit in executor memory;
- seed (the reference relied on the default).

Param introspection uses public getters, never ``_java_obj``
(the reference reached into the JVM at als.py:74-80 — SURVEY §2.13/M7).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .metrics import rmse as rmse_agg


def als_rank1_factors(
    train: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    sweeps: int = 3,
    reg_param: float = 0.1,
) -> tuple[DataFrame, DataFrame]:
    """Exact rank-1 ALS via closed-form ridge sweeps — the oracle-
    checkable matrix factorization (MLlib ALS factors are float/
    order-dependent and can never hash-match a SQL oracle; this can).

    Rank-1 makes each half-sweep a closed-form ridge regression:
        u_u = Σ_i r_ui·v_i / (λ·n_u + Σ_i v_i²)
        v_i = Σ_u r_ui·u_u / (λ·n_i + Σ_u u_u²)
    with ALS-WR count-scaled regularization (λ·n, Zhou et al. 2008),
    v initialized to 1.0, alternating ``sweeps`` times.  Determinism is
    engineered, not hoped for: factors are round(x, 6) doubles, and the
    per-sweep numerator/denominator accumulate in DECIMAL — ratings and
    6-dp factors are exact decimals, so the sums are EXACT and
    order-independent (double sums would carry summation-order ulp
    noise that can flip a 6-dp rounding boundary differently per run/engine).
    Only the final division runs in double arithmetic, on identical
    operands in both engines.

    Physically each half-sweep is one shuffle: join ratings with the
    ~|users|- or ~|items|-sized factor table on its key, then a grouped
    aggregate — the same block-exchange shape MLlib's distributed ALS
    runs, so the plan scales to ratings that don't fit one machine.

    Returns (user_factors(u, f), item_factors(i, f)).
    """
    # Decimal widths are chosen so Spark's type-combination rules never
    # exceed precision 38 (which would silently TRUNCATE the scale and
    # poison the factors at ~1e-6): (12,6)*(12,6) -> (25,12), sum ->
    # (35,12), lam*(count as (10,0)) -> (18,6), and (18,6)+(35,12) ->
    # (36,12) — every step exact.  Bounds: |rating|, |factor| < 1e6 and
    # < 1e10 ratings per key; both hold by orders of magnitude for any
    # realistic ratings matrix.
    # train feeds every half-sweep plus the caller's prediction join —
    # truncate its (possibly expensive: split hash, casts) lineage once
    # instead of recomputing it 2*sweeps times
    train = train.localCheckpoint(eager=False)
    rd = F.col(rating_col).cast("decimal(12,6)")
    fd = F.col("f").cast("decimal(12,6)")
    lam = F.lit(reg_param).cast("decimal(7,6)")
    ridge = F.round(
        F.sum(rd * fd).cast("double")
        / (lam * F.count("*").cast("decimal(10,0)") + F.sum(fd * fd)).cast("double"),
        6,
    ).alias("f")
    items = train.select(F.col(item_col).alias("i")).distinct()
    v = items.withColumn("f", F.lit(1.0))
    u = None
    for _ in range(sweeps):
        # localCheckpoint per half-sweep: consumers reference u inside
        # v's lineage AND directly, so without truncation the sweep
        # subtrees nest exponentially in the final plan (same failure
        # class MLlib ALS's checkpointInterval exists for)
        u = (
            train.join(v, train[item_col] == v["i"])
            .groupBy(F.col(user_col).alias("u"))
            .agg(ridge)
            .localCheckpoint(eager=False)
        )
        v = (
            train.join(u, train[user_col] == u["u"])
            .groupBy(F.col(item_col).alias("i"))
            .agg(ridge)
            .localCheckpoint(eager=False)
        )
    return u, v


@dataclass
class AlsRecommender:
    user_col: str = "userId"
    item_col: str = "movieId"
    rating_col: str = "rating"
    rank: int = 100
    max_iter: int = 3
    reg_param: float = 0.15
    nonnegative: bool = True
    implicit_prefs: bool = False
    alpha: float = 1.0  # implicit-feedback confidence scale c = 1 + alpha*r
    seed: int = 42
    # user AND item block count; None = the fitting session's
    # defaultParallelism (see _estimator)
    num_blocks: int | None = None
    model: object = field(default=None, repr=False)

    def _estimator(self, spark: SparkSession):
        """The ALS estimator ``fit`` and ``tune`` share, blocked for
        ``spark`` (the session of the frame it will fit)."""
        from pyspark.ml.recommendation import ALS

        blocks = self.num_blocks
        if blocks is None:
            blocks = spark.sparkContext.defaultParallelism
        return ALS(
            rank=self.rank,
            maxIter=self.max_iter,
            regParam=self.reg_param,
            userCol=self.user_col,
            itemCol=self.item_col,
            ratingCol=self.rating_col,
            nonnegative=self.nonnegative,
            implicitPrefs=self.implicit_prefs,
            alpha=self.alpha,
            coldStartStrategy="drop",
            seed=self.seed,
            numUserBlocks=blocks,
            numItemBlocks=blocks,
        )

    def fit(self, train: DataFrame) -> "AlsRecommender":
        self.model = self._estimator(train.sparkSession).fit(train)
        return self

    def save_model(self, path: str) -> "AlsRecommender":
        """Persist the fitted ALSModel (MLlib writer) so a later verb or
        job can serve/evaluate it WITHOUT refitting — factor matrices
        land as parquet, so load is a scan, not a training run."""
        assert self.model is not None, "fit first"
        self.model.write().overwrite().save(path)
        return self

    def load_model(self, path: str) -> "AlsRecommender":
        """Load a previously saved ALSModel in place of ``fit``.  The
        recommender's rank is restored from the model; the other
        estimator hyper-params only affect fitting and stay as
        constructed.  The factor frames are cached: they are parquet
        scans, and transform/RMSE join them twice."""
        from pyspark.ml.recommendation import ALSModel

        self.model = ALSModel.load(path)
        self.model.userFactors.cache()
        self.model.itemFactors.cache()
        self.rank = self.model.rank
        return self

    def unpersist_factors(self) -> "AlsRecommender":
        """Drop the factor-frame cache entries.  ``DataFrame.cache()``
        registers in the session CacheManager, which pins the entry
        until an explicit unpersist — in a shared long-lived session
        (the e2e registry query, a notebook) every load/fit otherwise
        leaves one more pinned RDD behind (a six-sweep session soak
        measured it).  Safe to call whether or not the frames were ever
        cached."""
        if self.model is not None:
            self.model.userFactors.unpersist()
            self.model.itemFactors.unpersist()
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Score (user, item) pairs (reference als.py:93). Physically:
        df ⋈ userFactors ⋈ itemFactors + dot product, unseen keys
        dropped per coldStartStrategy."""
        assert self.model is not None, "fit first"
        return self.model.transform(df)

    def _arrow_topk(
        self, k: int, users: DataFrame | None, as_lists: bool
    ) -> DataFrame:
        """The one call into the serving kernel: user factors (only the
        ids in ``users``, each once, when given) scored against the
        broadcast item catalog by ``operators.similarity.arrow_dot_topk``."""
        from ..operators.similarity import arrow_dot_topk

        assert self.model is not None, "fit first"
        uf = self.model.userFactors
        if users is not None:
            ids = users.select(F.col(self.user_col).cast("int").alias("id"))
            uf = uf.join(F.broadcast(ids), "id", "left_semi")
        return arrow_dot_topk(uf, self.model.itemFactors, k=k, as_lists=as_lists)

    def recommend_top_k(
        self, k: int = 100, users: DataFrame | None = None
    ) -> DataFrame:
        """Top-k items per user (reference als.py:96) as (user, item,
        score, rank), rank 1 the best.

        ``users`` (a frame with the user id column) serves only that
        slice, as MLlib's ``recommendForUserSubset`` does: cost scales
        with the slice, and a user listed twice still gets k rows.

        Served by the Arrow/BLAS kernel for fitted and loaded models
        alike: it reads each factor frame once, where MLlib's blocked
        cross re-reads them per block pair and ran out of a 4 GiB heap
        at sf1.  Ties break on item id asc; MLlib leaves them arbitrary."""
        return self._arrow_topk(k, users, as_lists=False).select(
            F.col("query_id").alias(self.user_col),
            F.col("neighbor_id").alias(self.item_col),
            "score",
            "rank",
        )

    def item_neighbors(self, k: int = 10, items: DataFrame | None = None) -> DataFrame:
        """Item-item similarity from the learned factors: cosine top-k
        per item over ``itemFactors`` (the "because you watched" table).

        ``items`` (a DataFrame with the item id column) bounds the query
        side — all-pairs over a large catalog is |I|^2 and never the
        plan; pass the slice you serve.  Scores through the engine's
        Arrow/BLAS brute-force path (one matmul per candidate batch;
        identical output to the JVM scorer, both hash-gated against the
        same oracle): at an sf1 probe (64 probes x 147k
        factors) the interpreted-HOF JVM scorer ran 4.8s steady-state
        vs 2.0s through the matmul, and the gap widens with catalog
        size and factor rank — per-pair interpretation vs
        memory-bandwidth matmul.  Swap in ivf_topk / lsh_bucketed_topk
        when even the candidate side is large."""
        from ..operators.similarity import arrow_brute_force_topk

        assert self.model is not None, "fit first"
        factors = self.model.itemFactors  # (id, features: array<float>)
        queries = factors
        if items is not None:
            ids = items.select(F.col(self.item_col).alias("id"))
            queries = factors.join(F.broadcast(ids), "id", "left_semi")
        out = arrow_brute_force_topk(
            queries, factors, k=k, id_col="id", vec_col="features"
        )
        return (
            out.withColumnRenamed("query_id", self.item_col)
            .withColumnRenamed("neighbor_id", "neighbor_" + self.item_col)
        )

    def recommendation_lists(self, k: int = 100) -> DataFrame:
        """(user, recs: array<item>) ordered by predicted score — the
        input shape of plans.metrics (reference als.py:120 getField),
        emitted one row per user by the kernel itself (no explode and
        re-aggregate shuffle)."""
        return self._arrow_topk(k, None, as_lists=True).select(
            F.col("query_id").alias(self.user_col), "recs"
        )

    def evaluate_rmse(self, test: DataFrame) -> DataFrame:
        """One-row RMSE over held-out ratings (reference als.py:103)."""
        return rmse_agg(
            self.transform(test), label_col=self.rating_col, pred_col="prediction"
        )

    def tune(
        self,
        train: DataFrame,
        ranks: list[int] = (10, 50, 100, 150),
        reg_params: list[float] = (0.01, 0.05, 0.1, 0.15),
        num_folds: int = 5,
    ) -> dict:
        """CV grid search (reference als.py:53-65, M5-M6).  Returns the
        best params via public getters (not _java_obj)."""
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

        als = self._estimator(train.sparkSession)
        grid = (
            ParamGridBuilder()
            .addGrid(als.rank, list(ranks))
            .addGrid(als.regParam, list(reg_params))
            .build()
        )
        evaluator = RegressionEvaluator(
            metricName="rmse", labelCol=self.rating_col, predictionCol="prediction"
        )
        cv = CrossValidator(
            estimator=als,
            estimatorParamMaps=grid,
            evaluator=evaluator,
            numFolds=num_folds,
            seed=self.seed,
        )
        cv_model = cv.fit(train)
        best = cv_model.bestModel
        self.model = best
        self.rank = best.rank
        # best params come from the grid map at the best avg-metric index
        # (public API — the reference reached into _java_obj, SURVEY §2.13)
        metrics = list(cv_model.avgMetrics)
        best_map = grid[min(range(len(metrics)), key=metrics.__getitem__)]
        for param, value in best_map.items():
            if param.name == "regParam":
                self.reg_param = value
            elif param.name == "rank":
                self.rank = value
        return {
            "rank": self.rank,
            "reg_param": self.reg_param,
            "avg_metrics": metrics,
        }
