"""End-to-end ML pipeline queries (reference E1/E2/E3 composed).

``popularity_eval_pipeline`` is the reference's whole popularity flow —
split -> fit on train -> evaluate on validation — as ONE lazy Spark plan,
fully oracle-checked including MAP@K / precision / recall / hit-rate and
the reference-compat formulas (the SQL oracle recomputes the metrics via
a join-based formulation; the engine computes them array-native — two
independent implementations agreeing to 6 decimals).

The ALS queries are rows-only (factor models are not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sampling import split_assign
from ..plans.metrics import global_hit_ratio, per_user_ranking_metrics, summarize_ranking
from ..plans.popularity import popularity_top_k
from ..plans.recommender import AlsRecommender
from ..functions.rounding import det_round
from . import _t, duck_det_round6, register
from .sampling import _H_SPLIT, _KEYS

# NOTE the l_quantity tiebreak: (l_orderkey, l_partkey, l_linenumber) is
# NOT unique in the testdata (a handful of planted duplicate keys with
# different quantities), so the rank order must include the payload
# column to be total — otherwise which duplicate's QUANTITY lands in
# validation vs test is engine/run-dependent and every consumer of the
# split (ALS factors, RMSE) flakes.
_SPLIT_SQL = f"""
  SELECT l_orderkey, l_partkey, l_quantity,
         CASE WHEN row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY {_H_SPLIT}, l_orderkey, l_partkey, l_linenumber, l_quantity)
                  <= ceil(count(*) OVER (PARTITION BY l_orderkey) * 0.25) THEN 'validation'
              WHEN row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY {_H_SPLIT}, l_orderkey, l_partkey, l_linenumber, l_quantity)
                  <= ceil(count(*) OVER (PARTITION BY l_orderkey) * 0.50) THEN 'test'
              ELSE 'train' END AS split
  FROM lineitem
"""


_SPLIT_CACHE: dict[tuple[str, str], DataFrame] = {}


def _split_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled ratings split, cached ONCE per (SparkContext, sf_dir).

    Memoized: five registry queries consume this frame, and an
    un-memoized ``.cache()`` would register five independent cached
    copies per sweep (the round-1 cache-leak finding); the downstream
    pipelines still need persistence because popularity scalars, truth
    lists and ALS iterations each re-consume the window-ranked lineage.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SPLIT_CACHE:
        li = _t(spark, sf_dir, "lineitem")
        _SPLIT_CACHE[key] = (
            split_assign(
                li,
                group_col="l_orderkey",
                key_cols=_KEYS,
                # total order: _KEYS alone is not unique in the testdata
                # (duplicate keys with different quantities) — see the
                # _SPLIT_SQL note above
                order_cols=[*_KEYS, "l_quantity"],
            )
            .select("l_orderkey", "l_partkey", "l_quantity", "split")
            .cache()
        )
    return _SPLIT_CACHE[key]


# one fitted model per (SparkContext, sf_dir): the three ALS queries
# evaluate/serve the SAME model — a real deployment fits once and reuses,
# so the registry does too (fit is deterministic: seed + fixed blocks)
_ALS_CACHE: dict[tuple[str, str], AlsRecommender] = {}


# Structural caps on the ALS probe sides (round-6 scale probe: the
# modulus-defined probes GROW WITH THE CATALOG, so probe x catalog
# scoring was quadratic in SF — x84 wall at sf0.1 -> sf1.  Caps restore
# the engine-wide bounded-|Q| contract every brute-force scorer
# documents; both caps exceed the sf0.01 probe sizes, so the driver
# gate's hashes are unchanged).  ORDER BY id LIMIT on BOTH engines —
# deterministic, and the cap is part of the plan, not a sample.
_ITEM_PROBE_CAP = 64   # sf0.01 probe ~10 items; binds from sf0.1 up
_USER_PROBE_CAP = 512  # sf0.01 probe ~405 users; binds from sf0.1 up


def _fitted_als(spark: SparkSession, sf_dir: str) -> AlsRecommender:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _ALS_CACHE:
        labeled = _split_ratings(spark, sf_dir)
        train = labeled.filter(F.col("split") == "train")
        _ALS_CACHE[key] = AlsRecommender(
            user_col="l_orderkey",
            item_col="l_partkey",
            rating_col="l_quantity",
            rank=8,
            max_iter=4,
            reg_param=0.1,
            seed=42,
            # pinned, not the session's defaultParallelism: the factors
            # depend on the block count, and the oracle-gated outputs
            # built on them must not move with the session's cores
            num_blocks=8,
        ).fit(train)
    return _ALS_CACHE[key]


@register(
    "popularity_eval_pipeline",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
val AS (SELECT * FROM labeled WHERE split = 'validation'),
per_item AS (
  SELECT l_partkey, avg(l_quantity) AS avg_rating, count(l_orderkey) AS num_ratings
  FROM train GROUP BY l_partkey),
scalars AS (
  SELECT CAST(sum(CAST(avg_rating AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS gm, quantile_cont(num_ratings, 0.9) AS f FROM per_item),
scored AS (
  SELECT l_partkey,
         (floor(((num_ratings/(num_ratings+f))*avg_rating + (f/(f+num_ratings))*gm) * 1000000 + 0.5) / 1000000) AS score
  FROM per_item, scalars WHERE num_ratings >= f
  ORDER BY score DESC, l_partkey LIMIT 100),
recs AS (SELECT list(l_partkey ORDER BY score DESC, l_partkey) AS items FROM scored),
recs_pos AS (
  SELECT unnest(items) AS item, generate_subscripts(items, 1) AS pos FROM recs),
val_pairs AS (SELECT DISTINCT l_orderkey, l_partkey FROM val),
truth_n AS (SELECT l_orderkey, count(*) AS n FROM val_pairs GROUP BY l_orderkey),
hits AS (
  SELECT v.l_orderkey, p.pos,
         row_number() OVER (PARTITION BY v.l_orderkey ORDER BY p.pos) AS j
  FROM val_pairs v JOIN recs_pos p ON v.l_partkey = p.item),
idcg AS (
  SELECT n, sum(1.0 / log2(i + 1)) AS v
  FROM (SELECT n, unnest(generate_series(1, n)) AS i
        FROM (SELECT DISTINCT least(100, n) AS n FROM truth_n))
  GROUP BY n),
per_user AS (
  SELECT t.l_orderkey,
         coalesce(sum(h.j / h.pos), 0) / least(100, t.n) AS ap,
         coalesce(count(h.pos), 0) / 100.0 AS precision,
         coalesce(count(h.pos), 0) / t.n AS recall,
         CASE WHEN count(h.pos) > 0 THEN 1.0 ELSE 0.0 END AS hit,
         coalesce(sum(1.0 / log2(h.pos + 1)), 0)
           / (SELECT v FROM idcg WHERE idcg.n = least(100, t.n)) AS ndcg,
         coalesce(1.0 / min(h.pos), 0) AS rr,
         coalesce(sum((1.0 + 1.0/h.pos) / (SELECT len(items) FROM recs)), 0) / t.n AS ref_ap
  FROM truth_n t LEFT JOIN hits h USING (l_orderkey)
  GROUP BY t.l_orderkey, t.n),
summary AS (
  SELECT (floor((CAST(sum(CAST(ap AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS map_at_k,
         (floor((CAST(sum(CAST(precision AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS mean_precision,
         (floor((CAST(sum(CAST(recall AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS mean_recall,
         (floor((CAST(sum(CAST(hit AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS hit_rate,
         (floor((CAST(sum(CAST(ndcg AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS mean_ndcg,
         (floor((CAST(sum(CAST(rr AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS mrr,
         (floor((CAST(sum(CAST(ref_ap AS DECIMAL(28,18))) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000) AS ref_map,
         count(*) AS n_users
  FROM per_user),
hitrow AS (
  SELECT (floor((avg(CASE WHEN list_contains(items, l_partkey) THEN 1.0 ELSE 0.0 END)) * 1000000 + 0.5) / 1000000)
           AS hit_ratio,
         count(*) AS n_rows
  FROM val, recs)
SELECT * FROM summary, hitrow
""",
)
def q_popularity_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference E3+E1 end-to-end: deterministic split, popularity fit on
    train, full ranking evaluation on validation — one lazy plan, zero
    driver collects."""
    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    val = labeled.filter(F.col("split") == "validation")

    scored = popularity_top_k(
        train, k=100, item_col="l_partkey", user_col="l_orderkey", rating_col="l_quantity"
    )
    # one-row (items array<long>) ordered by (score desc, partkey):
    # negate the score so an ascending struct sort gives the right order
    recs_list = scored.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct((-F.col("score")).alias("s"), F.col("l_partkey").alias("p")))
            ),
            lambda x: x.p,
        ).alias("items")
    )

    truth = val.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("truth"))
    recs_per_user = truth.select("l_orderkey").crossJoin(F.broadcast(recs_list)).select(
        "l_orderkey", F.col("items").alias("recs")
    )
    per_user = per_user_ranking_metrics(
        recs_per_user, truth, k=100, user_col="l_orderkey", round_to=None
    )
    summary = summarize_ranking(per_user)
    hitrow = global_hit_ratio(val, recs_list, item_col="l_partkey", recs_col="items")
    return summary.crossJoin(hitrow)


@register("als_recommend_top5")
def q_als_recommend_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS fit on the train split, top-5 parts per active order,
    flattened.  Serves a deterministic user slice
    (``recommend_top_k(users=...)``): scoring every user is a
    batch-export job, not a query — cost scales with the served slice
    (reference als.py:96 exports all users; ``recommend_top_k`` without
    ``users`` does that, and tests exercise it at small scale).
    Rows-only check: factor values are not SQL-expressible."""
    rec = _fitted_als(spark, sf_dir)
    labeled = _split_ratings(spark, sf_dir)
    active = (
        labeled.select("l_orderkey")
        .distinct()
        .filter(F.col("l_orderkey") % 37 == 0)
        .orderBy("l_orderkey")
        .limit(_USER_PROBE_CAP)
    )
    return rec.recommend_top_k(5, users=active)


@register("als_item_neighbors")
def q_als_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine neighbors from the learned ALS item factors —
    the 'because you bought' table, composing the factor model with the
    engine's similarity search. Rows-only: factors are not
    SQL-expressible."""
    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    probe = (
        train.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 199 == 0)
        .orderBy("l_partkey")
        .limit(_ITEM_PROBE_CAP)
    )
    rec = _fitted_als(spark, sf_dir)
    return rec.item_neighbors(k=5, items=probe).orderBy("l_partkey", "rank")


@register(
    "als_item_neighbors_invariants",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
probe AS (SELECT DISTINCT l_partkey FROM train WHERE l_partkey % 199 = 0
          ORDER BY l_partkey LIMIT 64)
SELECT count(*) AS n_items,
       count(*) * 5 AS n_rows,
       true AS rows_per_item_ok,
       true AS ranks_dense_ok,
       true AS cosine_bounds_ok,
       true AS cosine_nonincreasing_ok,
       true AS no_self_ok,
       true AS neighbors_in_catalog_ok
FROM probe
""",
)
def q_als_item_neighbors_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The item-item factor-similarity surface under the FULL value-hash
    gate via its SQL-expressible serving contract (the round-3 verdict's
    task 7; same recipe as ``als_recommend_invariants``): factor VALUES
    are float/order-dependent, but the contract is not — exactly the
    probe items (distinct train parts with l_partkey % 199 == 0) get
    rows, exactly k=5 each, ranks dense 1..5, round-6 cosines inside
    [-1, 1] and non-increasing in rank, no self-neighbors, and every
    neighbor id drawn from the train catalog (ALS learns factors for
    exactly the fit items — a broadcast dimension join, not a tautology:
    it pins the factor table's id-space to the split).  Companion to the
    rows-only ``als_item_neighbors`` (which exports the engine-specific
    cosines themselves)."""
    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    probe = (
        train.select("l_partkey")
        .distinct()
        .filter(F.col("l_partkey") % 199 == 0)
        .orderBy("l_partkey")
        .limit(_ITEM_PROBE_CAP)
    )
    rec = _fitted_als(spark, sf_dir)
    out = rec.item_neighbors(k=5, items=probe)
    catalog = train.select("l_partkey").distinct().select(
        F.col("l_partkey").alias("neighbor_l_partkey"), F.lit(True).alias("__in_cat")
    )
    flagged = out.join(F.broadcast(catalog), "neighbor_l_partkey", "left")
    per_item = flagged.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("rank")).alias("ranks"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("rank", "cosine"))),
            lambda x: x["cosine"],
        ).alias("cos_by_rank"),
        F.max(F.abs("cosine")).alias("max_abs_cos"),
        F.max(
            (F.col("neighbor_l_partkey") == F.col("l_partkey")).cast("int")
        ).alias("selfs"),
        F.min(F.coalesce(F.col("__in_cat"), F.lit(False))).alias("all_in_cat"),
    )
    return per_item.agg(
        F.count("*").alias("n_items"),
        F.sum("n").alias("n_rows"),
        F.expr("bool_and(n = 5)").alias("rows_per_item_ok"),
        F.expr("bool_and(ranks = array(1, 2, 3, 4, 5))").alias("ranks_dense_ok"),
        F.expr("bool_and(max_abs_cos <= 1.0d)").alias("cosine_bounds_ok"),
        F.expr(
            "bool_and(forall(zip_with("
            "  slice(cos_by_rank, 1, size(cos_by_rank) - 1),"
            "  slice(cos_by_rank, 2, size(cos_by_rank) - 1),"
            "  (a, b) -> a >= b), x -> x))"
        ).alias("cosine_nonincreasing_ok"),
        F.expr("bool_and(selfs = 0)").alias("no_self_ok"),
        F.expr("bool_and(all_in_cat)").alias("neighbors_in_catalog_ok"),
    )


@register("als_rmse_eval")
def q_als_rmse_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS train/test RMSE (reference als.py:103). Rows-only check for
    the MLlib model (float factors are not SQL-reproducible); the
    hash-checked counterpart is ``als_rank1_rmse`` below."""
    labeled = _split_ratings(spark, sf_dir)
    test = labeled.filter(F.col("split") == "test")
    return _fitted_als(spark, sf_dir).evaluate_rmse(test)


@register(
    "als_recommend_invariants",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
active AS (SELECT DISTINCT l_orderkey FROM labeled WHERE l_orderkey % 37 = 0
           ORDER BY l_orderkey LIMIT 512),
servable AS (SELECT DISTINCT t.l_orderkey FROM train t JOIN active a USING (l_orderkey))
SELECT count(*) AS n_users,
       count(*) * 5 AS n_rows,
       true AS rows_per_user_ok,
       true AS ranks_dense_ok,
       true AS scores_nonincreasing_ok,
       true AS items_in_catalog_ok
FROM servable
""",
)
def q_als_recommend_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALS top-k surface under the FULL value-hash gate via its
    SQL-expressible invariants: factor VALUES are float/order-dependent,
    but the serving contract is not — exactly the active∩train users get
    rows (coldStartStrategy='drop'), exactly k=5 each, ranks dense 1..5,
    scores non-increasing in rank, every item from the train catalog.
    The oracle recomputes the servable-user count and pins each
    invariant ``true``; any contract break turns the hash red.
    Companion to the rows-only ``als_recommend_top5`` (which exports the
    engine-specific scores themselves)."""
    rec = _fitted_als(spark, sf_dir)
    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    active = (
        labeled.select("l_orderkey")
        .distinct()
        .filter(F.col("l_orderkey") % 37 == 0)
        .orderBy("l_orderkey")
        .limit(_USER_PROBE_CAP)
    )
    recs = rec.recommend_top_k(5, users=active)
    train_items = train.select("l_partkey").distinct().withColumn(
        "__in_cat", F.lit(True)
    )
    flagged = recs.join(F.broadcast(train_items), "l_partkey", "left")
    per_user = flagged.groupBy("l_orderkey").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("rank")).alias("ranks"),
        # scores ordered by rank: struct sort keys on rank first
        F.transform(
            F.sort_array(F.collect_list(F.struct("rank", "score"))),
            lambda x: x["score"],
        ).alias("scores_by_rank"),
        F.min(F.coalesce(F.col("__in_cat"), F.lit(False))).alias("all_in_cat"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("n_rows"),
        F.expr("bool_and(n = 5)").alias("rows_per_user_ok"),
        F.expr(
            "bool_and(ranks = array(1, 2, 3, 4, 5))"
        ).alias("ranks_dense_ok"),
        F.expr(
            "bool_and(forall(zip_with("
            "  slice(scores_by_rank, 1, size(scores_by_rank) - 1),"
            "  slice(scores_by_rank, 2, size(scores_by_rank) - 1),"
            "  (a, b) -> a >= b), x -> x))"
        ).alias("scores_nonincreasing_ok"),
        F.expr("bool_and(all_in_cat)").alias("items_in_catalog_ok"),
    )


@register(
    "als_rmse_invariants",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
test AS (SELECT * FROM labeled WHERE split = 'test')
SELECT count(*) AS n_scored,
       true AS rmse_finite_ok,
       true AS rmse_le_2x_baseline_ok
FROM test te
WHERE EXISTS (SELECT 1 FROM train t WHERE t.l_orderkey = te.l_orderkey)
  AND EXISTS (SELECT 1 FROM train t WHERE t.l_partkey = te.l_partkey)
""",
)
def q_als_rmse_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MLlib RMSE surface hash-gated via invariants: the scored-row
    count is EXACTLY SQL-expressible (coldStartStrategy='drop' ≡ test
    rows whose user AND item appear in train), and the model must be
    finite and no worse than 2× the train-global-mean predictor on the
    same scored subset.  Companion to the rows-only ``als_rmse_eval``
    (which exports the float RMSE itself)."""
    rec = _fitted_als(spark, sf_dir)
    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    test = labeled.filter(F.col("split") == "test")
    scored = rec.transform(test)
    mu = train.agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("__mu")
    )
    agg = scored.crossJoin(F.broadcast(mu)).agg(
        F.count("*").alias("n_scored"),
        F.sqrt(
            F.avg(F.pow(F.col("l_quantity") - F.col("prediction"), 2))
        ).alias("__rmse"),
        F.sqrt(F.avg(F.pow(F.col("l_quantity") - F.col("__mu"), 2))).alias("__base"),
    )
    return agg.select(
        "n_scored",
        (~F.isnan("__rmse") & (F.col("__rmse") > 0)).alias("rmse_finite_ok"),
        (F.col("__rmse") <= 2 * F.col("__base")).alias("rmse_le_2x_baseline_ok"),
    )


def _rank1_sweep_sql(sweeps: int, lam: float) -> str:
    """Unrolled rank-1 ALS sweeps as DuckDB CTEs (v0 = all-ones).

    Numerator/denominator accumulate in DECIMAL — ratings and round-6
    factors are exact decimals, so the sums are exact and order-
    independent, matching the Spark side bit-for-bit; only the final
    division is double arithmetic (identical operands both engines)."""

    def ridge(fq: str) -> str:
        return (
            f"round(CAST(sum(CAST(t.l_quantity AS DECIMAL(18,6)) * CAST({fq} AS DECIMAL(18,6))) AS DOUBLE)"
            f" / CAST(CAST({lam} AS DECIMAL(18,6)) * count(*)"
            f"        + sum(CAST({fq} AS DECIMAL(18,6)) * CAST({fq} AS DECIMAL(18,6))) AS DOUBLE), 6)"
        )

    parts = ["v0 AS (SELECT DISTINCT l_partkey AS i, 1.0 AS f FROM train)"]
    for t in range(1, sweeps + 1):
        parts.append(f"""
u{t} AS (
  SELECT t.l_orderkey AS u, {ridge("v.f")} AS f
  FROM train t JOIN v{t - 1} v ON v.i = t.l_partkey GROUP BY 1)""")
        parts.append(f"""
v{t} AS (
  SELECT t.l_partkey AS i, {ridge("u.f")} AS f
  FROM train t JOIN u{t} u ON u.u = t.l_orderkey GROUP BY 1)""")
    return ",".join(parts)


_R1_SWEEPS, _R1_LAM = 3, 0.1


@register(
    "als_rank1_rmse",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
test AS (SELECT * FROM labeled WHERE split = 'test'),
{_rank1_sweep_sql(_R1_SWEEPS, _R1_LAM)},
pred AS (
  SELECT CAST(te.l_quantity AS DOUBLE) AS r, u.f * v.f AS p
  FROM test te
  JOIN u{_R1_SWEEPS} u ON u.u = te.l_orderkey
  JOIN v{_R1_SWEEPS} v ON v.i = te.l_partkey)
SELECT round(sqrt(CAST(sum(CAST((r - p) * (r - p) AS DECIMAL(38,18))) AS DOUBLE)
             / count(*)), 6) AS rmse,
       count(*) AS n_scored
FROM pred
""",
)
def q_als_rank1_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-factorization RMSE under the FULL value-hash gate: exact
    rank-1 ALS (closed-form ridge sweeps, plans.recommender.
    als_rank1_factors), predictions via the J2 factor join (inner joins
    ≡ coldStartStrategy='drop', reference als.py:93,103).  The oracle
    replays the identical sweeps as unrolled SQL — two engines running
    the same alternating least squares and agreeing on every factor to
    6 decimals."""
    from ..plans.recommender import als_rank1_factors

    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    test = labeled.filter(F.col("split") == "test")
    u, v = als_rank1_factors(
        train, "l_orderkey", "l_partkey", "l_quantity",
        sweeps=_R1_SWEEPS, reg_param=_R1_LAM,
    )
    pred = (
        test.join(u, test.l_orderkey == u.u)
        .join(v, test.l_partkey == v.i)
        .select(
            F.col("l_quantity").cast("double").alias("r"),
            (u.f * v.f).alias("p"),
        )
    )
    # exact decimal sum of squared errors: order-independent, so the
    # round-6 rmse can't flip on summation order across runs/engines
    se2 = ((F.col("r") - F.col("p")) * (F.col("r") - F.col("p"))).cast("decimal(38,18)")
    return pred.agg(
        F.round(F.sqrt(F.sum(se2).cast("double") / F.count("*")), 6).alias("rmse"),
        F.count("*").alias("n_scored"),
    )


# Structural probe cap, ann-family style (registry/similarity.py _Q_CAP):
# `% 199` alone selects ~0.5% of the catalog — unbounded at scale; the
# sorted LIMIT makes the broadcast query side a hard ceiling on BOTH
# engines (binding at sf0.1: ~100 probe items -> 32).
_R1N_PROBE_CAP = 32


@register(
    "als_rank1_item_neighbors",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
{_rank1_sweep_sql(_R1_SWEEPS, _R1_LAM)},
probe AS (
  SELECT i, f FROM v{_R1_SWEEPS} WHERE i % 199 = 0
  ORDER BY i LIMIT {_R1N_PROBE_CAP}),
scored AS (
  SELECT p.i AS l_partkey, c.i AS neighbor_l_partkey,
         round((0.0 + p.f * c.f)
               / (sqrt(0.0 + p.f * p.f) * sqrt(0.0 + c.f * c.f)), 6) AS cosine,
         {duck_det_round6("p.f * c.f")} AS affinity
  FROM probe p JOIN v{_R1_SWEEPS} c ON c.i <> p.i),
ranked AS (
  SELECT l_partkey, neighbor_l_partkey, cosine, affinity,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY cosine DESC, neighbor_l_partkey) AS rank
  FROM scored)
SELECT l_partkey, neighbor_l_partkey, cosine, affinity, rank
FROM ranked WHERE rank <= 5
ORDER BY l_partkey, rank
""",
)
def q_als_rank1_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item neighbor VALUES under the full hash gate (round-4
    verdict task 6): exact rank-1 ALS factors (plans.recommender.
    als_rank1_factors — the same closed-form DECIMAL ridge sweeps
    ``als_rank1_rmse`` pins) fed through the engine's REAL serving
    operator, ``operators.similarity.arrow_brute_force_topk`` — the
    exact path ``AlsRecommender.item_neighbors`` uses (round 6 moved
    both to the Arrow/BLAS scorer; at rank 1 the 'matmul' is a single
    float64 product, so the arithmetic is literally the JVM fold's).
    At rank 1 every cosine is analytically sign(f_i.f_j) = 1.0 (NNLS-
    positive factors), so the oracle can replay the whole pipeline:
    identical sweeps -> identical round-6 factors -> identical cosine
    arithmetic -> identical tie-break (cosine desc, neighbor id asc).  ``affinity``
    (det-round-6 factor product, the rank-1 analogue of the factor dot
    score MLlib serves) pins actual learned VALUES, not just structure —
    the hash-gated companion the rows-only ``als_item_neighbors`` export
    was still missing."""
    from ..operators.similarity import arrow_brute_force_topk
    from ..plans.recommender import als_rank1_factors

    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    _, v = als_rank1_factors(
        train, "l_orderkey", "l_partkey", "l_quantity",
        sweeps=_R1_SWEEPS, reg_param=_R1_LAM,
    )
    factors = v.select(F.col("i").alias("id"), F.array(F.col("f")).alias("features"))
    probe = (
        factors.filter(F.col("id") % 199 == 0)
        .orderBy("id")
        .limit(_R1N_PROBE_CAP)
    )
    out = arrow_brute_force_topk(probe, factors, k=5, id_col="id", vec_col="features")
    # broadcast the factor lookups: the affinity re-attach joins a
    # <=cap*k-row neighbor list against the item-factor table, but both
    # sides are checkpointed RDDs with NO size statistics, so the
    # planner sort-merge-joined them (r13 plan: 2 SMJ, 4 Exchanges).
    # The factor table is the same |items|-bounded relation the Arrow
    # kernel itself just broadcast as the candidate catalog, so the
    # explicit hint adds no new memory contract (guide §3.1).
    fq = F.broadcast(v.select(F.col("i").alias("query_id"), F.col("f").alias("__fq")))
    fc = F.broadcast(v.select(F.col("i").alias("neighbor_id"), F.col("f").alias("__fc")))
    return (
        out.join(fq, "query_id")
        .join(fc, "neighbor_id")
        .select(
            F.col("query_id").alias("l_partkey"),
            F.col("neighbor_id").alias("neighbor_l_partkey"),
            "cosine",
            det_round(F.col("__fq") * F.col("__fc")).alias("affinity"),
            "rank",
        )
        .orderBy("l_partkey", "rank")
    )


@register(
    "als_rank1_recommend_top5",
    oracle=f"""
WITH labeled AS ({_SPLIT_SQL}),
train AS (SELECT * FROM labeled WHERE split = 'train'),
{_rank1_sweep_sql(_R1_SWEEPS, _R1_LAM)},
probe AS (
  SELECT u, f FROM u{_R1_SWEEPS} WHERE u % 199 = 0
  ORDER BY u LIMIT {_R1N_PROBE_CAP}),
scored AS (
  SELECT p.u AS l_orderkey, v.i AS l_partkey, p.f * v.f AS raw
  FROM probe p, v{_R1_SWEEPS} v
  WHERE NOT EXISTS (SELECT 1 FROM train t
                    WHERE t.l_orderkey = p.u AND t.l_partkey = v.i)),
ranked AS (
  SELECT l_orderkey, l_partkey, raw,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY raw DESC, l_partkey) AS rank
  FROM scored)
SELECT l_orderkey, l_partkey,
       {duck_det_round6("raw")} AS score, rank
FROM ranked WHERE rank <= 5
ORDER BY l_orderkey, rank
""",
)
def q_als_rank1_recommend_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommendation VALUES under the full hash gate — the symmetric
    twin of ``als_rank1_item_neighbors`` for the other rows-only export
    (``als_recommend_top5``, reference als.py:93): exact rank-1 factors,
    per-user scores u_f*v_f over UNSEEN items (anti-join on train = the
    serve-only-new contract), top-5 per user through the engine's W-topk
    serving operator (``top_k_per_group`` — the same rank-window path
    MLlib's flat recommend export uses).  Scores are REAL learned values
    that differ per (user, item); the oracle replays sweeps, anti-join,
    raw-double ordering (products of identical round-6 factors are
    bit-identical cross-engine) and the item-id tie-break, then reports
    the det-round-6 score.  The probe user set carries the ann-family
    structural sorted cap on both engines."""
    from ..operators.topk import top_k_per_group
    from ..plans.recommender import als_rank1_factors

    labeled = _split_ratings(spark, sf_dir)
    train = labeled.filter(F.col("split") == "train")
    u, v = als_rank1_factors(
        train, "l_orderkey", "l_partkey", "l_quantity",
        sweeps=_R1_SWEEPS, reg_param=_R1_LAM,
    )
    probe = (
        u.filter(F.col("u") % 199 == 0)
        .orderBy("u")
        .limit(_R1N_PROBE_CAP)
        .select(F.col("u").alias("l_orderkey"), F.col("f").alias("__uf"))
    )
    seen = train.select("l_orderkey", "l_partkey").distinct()
    scored = (
        F.broadcast(probe)
        .crossJoin(v.select(F.col("i").alias("l_partkey"), F.col("f").alias("__vf")))
        .join(seen, ["l_orderkey", "l_partkey"], "left_anti")
        .withColumn("raw", F.col("__uf") * F.col("__vf"))
    )
    top = top_k_per_group(
        scored,
        ["l_orderkey"],
        [F.col("raw").desc(), F.col("l_partkey").asc()],
        k=5,
        keep_rank=True,
    )
    return top.select(
        "l_orderkey",
        "l_partkey",
        det_round(F.col("raw")).alias("score"),
        "rank",
    ).orderBy("l_orderkey", "rank")
