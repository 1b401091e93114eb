"""ALS recommender wrapper (reference E2) — structural checks on a tiny
ratings fixture; numeric quality asserted loosely (ALS is iterative)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.plans.recommender import AlsRecommender


def _fit(ratings):
    return AlsRecommender(rank=4, max_iter=5, reg_param=0.1, seed=7).fit(ratings)


def test_fit_transform_rmse(spark, ratings):
    rec = _fit(ratings)
    preds = rec.transform(ratings)
    assert set(preds.columns) == {"userId", "movieId", "rating", "timestamp", "prediction"}
    val = rec.evaluate_rmse(ratings).collect()[0].rmse
    assert 0.0 <= val < 3.0  # fits its own training data reasonably


def test_default_blocks_follow_session_parallelism(spark, ratings, monkeypatch):
    """Unset num_blocks blocks ALS by the session's defaultParallelism
    (MLlib alone would use 10) for fit and for tune's CrossValidator;
    an explicit num_blocks wins.  A fitted factor frame has one
    partition per block."""
    from pyspark.ml.tuning import CrossValidator

    par = spark.sparkContext.defaultParallelism
    assert par != 10  # the local[4] fixture tells the rule from MLlib's

    def parts(rec):
        return (
            rec.model.userFactors.rdd.getNumPartitions(),
            rec.model.itemFactors.rdd.getNumPartitions(),
        )

    assert parts(_fit(ratings)) == (par, par)
    pinned = AlsRecommender(rank=4, max_iter=5, reg_param=0.1, seed=7, num_blocks=3)
    assert parts(pinned.fit(ratings)) == (3, 3)

    seen = []

    class Stop(Exception):
        pass

    def spy(cv, dataset):
        seen.append(cv.getEstimator())
        raise Stop

    monkeypatch.setattr(CrossValidator, "fit", spy)
    with pytest.raises(Stop):
        AlsRecommender(rank=2, max_iter=2, seed=7).tune(
            ratings, ranks=[2], reg_params=[0.1], num_folds=2
        )
    (als,) = seen
    assert (als.getNumUserBlocks(), als.getNumItemBlocks()) == (par, par)


def test_recommend_shapes(spark, ratings):
    rec = _fit(ratings)
    flat = rec.recommend_top_k(k=3)
    n_users = ratings.select("userId").distinct().count()
    assert flat.count() == 3 * n_users
    assert set(flat.columns) == {"userId", "movieId", "score", "rank"}
    # rank is 1..3 per user, scores non-increasing within user
    per = flat.groupBy("userId").agg(
        F.min("rank").alias("lo"), F.max("rank").alias("hi"), F.count("*").alias("n")
    )
    assert all(r.lo == 1 and r.hi == 3 and r.n == 3 for r in per.collect())

    lists = rec.recommendation_lists(k=3)
    assert lists.schema["recs"].dataType.simpleString() == "array<int>"


def test_factors(spark, ratings):
    rec = _fit(ratings)
    uf = rec.model.userFactors
    assert uf.count() == ratings.select("userId").distinct().count()
    assert len(uf.first().features) == 4


def test_recommend_for_user_subset(spark, ratings):
    rec = _fit(ratings)
    some = ratings.select("userId").distinct().limit(2)
    flat = rec.recommend_top_k(3, users=some)
    assert flat.count() == 3 * 2
    assert set(flat.columns) == {"userId", "movieId", "score", "rank"}
    # subset recs agree with the all-users recs for those users
    all_flat = rec.recommend_top_k(k=3)
    uids = [r.userId for r in some.collect()]
    want = {
        (r.userId, r.movieId, r.rank)
        for r in all_flat.filter(F.col("userId").isin(uids)).collect()
    }
    got = {(r.userId, r.movieId, r.rank) for r in flat.collect()}
    assert got == want


def test_als_rank1_factors_closed_form(spark, ratings):
    """Rank-1 ALS sweeps equal a numpy replay of the closed-form ridge
    updates (round-6 at each half-sweep, ALS-WR count scaling)."""
    from collections import defaultdict

    from movie_recommendation_engine_spark.plans.recommender import als_rank1_factors

    lam, sweeps = 0.1, 2
    rows = [(r.userId, r.movieId, r.rating) for r in ratings.collect()]
    v = defaultdict(lambda: 1.0)
    u = {}
    for _ in range(sweeps):
        num, den = defaultdict(float), defaultdict(float)
        for uu, ii, rr in rows:
            num[uu] += rr * v[ii]
            den[uu] += lam + v[ii] * v[ii]
        u = {k: round(num[k] / den[k], 6) for k in num}
        num, den = defaultdict(float), defaultdict(float)
        for uu, ii, rr in rows:
            num[ii] += rr * u[uu]
            den[ii] += lam + u[uu] * u[uu]
        v = {k: round(num[k] / den[k], 6) for k in num}
    uf, vf = als_rank1_factors(
        ratings, "userId", "movieId", "rating", sweeps=sweeps, reg_param=lam
    )
    got_u = {r.u: r.f for r in uf.collect()}
    got_v = {r.i: r.f for r in vf.collect()}
    assert set(got_u) == set(u) and set(got_v) == set(v)
    for k in u:
        assert abs(got_u[k] - u[k]) <= 1e-6, ("u", k)
    for k in v:
        assert abs(got_v[k] - v[k]) <= 1e-6, ("v", k)


def test_item_neighbors_shape_and_self_exclusion(spark, ratings):
    rec = _fit(ratings)
    probe = ratings.select("movieId").distinct().limit(3)
    nb = rec.item_neighbors(k=2, items=probe).collect()
    assert len(nb) == 3 * 2
    for r in nb:
        assert r.movieId != r.neighbor_movieId
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9


def test_loaded_model_serves_identically_via_arrow(spark, ratings, tmp_path):
    """The Arrow/BLAS serving kernel must reproduce MLlib's
    recommendForAllUsers output — same items per user (float factors
    make exact score ties measure-zero on this fixture), same ranks,
    scores equal to float tolerance — and a save/load round-trip, and
    a refit after the load, must serve the identical result."""
    rec = _fit(ratings)
    want = {
        (r.userId, rec_item["movieId"], rank0 + 1): rec_item["rating"]
        for r in rec.model.recommendForAllUsers(3).collect()
        for rank0, rec_item in enumerate(r.recommendations)
    }

    def served(r):
        return {
            (row.userId, row.movieId, row.rank): row.score
            for row in r.recommend_top_k(k=3).collect()
        }

    path = str(tmp_path / "als_model")
    rec.save_model(path)
    loaded = AlsRecommender(rank=4, max_iter=5, reg_param=0.1, seed=7).load_model(path)
    assert loaded.rank == rec.rank
    got = served(loaded)
    assert set(got) == set(want)
    for key, score in got.items():
        assert abs(score - want[key]) < 1e-4

    # the physical plan really is the Arrow kernel: no blocked cross,
    # a mapInPandas node instead
    plan = loaded.recommend_top_k(k=3)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan

    # the lists shape comes straight out of the kernel, same order
    lists = {r[0]: list(r.recs) for r in loaded.recommendation_lists(k=3).collect()}
    for (u, m, rk) in want:
        assert lists[u][rk - 1] == m

    # subset serving through the same kernel matches the all-users slice
    some = ratings.select("userId").distinct().limit(2)
    uids = {r.userId for r in some.collect()}
    sub = {
        (r.userId, r.movieId, r.rank)
        for r in loaded.recommend_top_k(3, users=some).collect()
    }
    assert sub == {k3 for k3 in want if k3[0] in uids}

    # fit after load replaces the loaded model and serves the same way
    loaded.unpersist_factors().fit(ratings)
    assert set(served(loaded)) == set(want)


def _tiny_fit(spark):
    """8 users x 6 items, every pair rated, rank 2."""
    train = spark.createDataFrame(
        [(u, i, float((u * i) % 5 + 1)) for u in range(1, 9) for i in range(1, 7)],
        "userId int, movieId int, rating float",
    )
    return AlsRecommender(rank=2, max_iter=1).fit(train)


def test_recommend_top_k_serves_a_repeated_user_once(spark):
    """A user listed twice in ``users`` gets its k rows once, as MLlib's
    recommendForUserSubset (a left-semi join) gives them."""
    rec = _tiny_fit(spark)
    once = spark.createDataFrame([(1,), (2,)], "userId int")
    twice = spark.createDataFrame([(1,), (1,), (2,)], "userId int")

    def rows(users):
        return sorted(
            (r.userId, r.movieId, r.rank) for r in rec.recommend_top_k(2, users=users).collect()
        )

    assert len(rows(twice)) == 2 * 2
    assert rows(twice) == rows(once)
    rec.unpersist_factors()


def test_item_neighbors_serves_a_repeated_item_once(spark):
    """An item listed twice in ``items`` keeps its true top-k: one row
    per rank, not the rank-1 neighbor twice."""
    rec = _tiny_fit(spark)
    once = spark.createDataFrame([(1,), (2,)], "movieId int")
    twice = spark.createDataFrame([(1,), (1,), (2,)], "movieId int")

    def rows(items):
        return sorted(
            (r.movieId, r.neighbor_movieId, r.rank)
            for r in rec.item_neighbors(k=2, items=items).collect()
        )

    assert [r[2] for r in rows(twice)] == [1, 2, 1, 2]
    assert rows(twice) == rows(once)
    rec.unpersist_factors()


def test_arrow_dot_topk_empty_candidates(spark):
    from movie_recommendation_engine_spark.operators.similarity import arrow_dot_topk

    q = spark.createDataFrame(
        [(1, [0.1, 0.2])], "id int, features array<float>"
    )
    c = spark.createDataFrame([], "id int, features array<float>")
    assert arrow_dot_topk(q, c, k=3).count() == 0
    assert arrow_dot_topk(q, c, k=3, as_lists=True).count() == 0
