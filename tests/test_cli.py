"""The __main__ CLI — the reference's spark-submit scripts as engine
verbs (split / popularity / als / evaluate)."""

from __future__ import annotations

import csv
import json
import random
import re

import pytest


@pytest.fixture(scope="module")
def ratings_csv(tmp_path_factory):
    random.seed(7)
    p = tmp_path_factory.mktemp("cli") / "ratings.csv"
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["userId", "movieId", "rating", "timestamp"])
        for u in range(1, 21):
            for m in random.sample(range(1, 40), 15):
                w.writerow([u, m, random.choice([1.0, 2.0, 3.0, 4.0, 5.0]), 1700000000])
    return str(p)


def test_cli_split_popularity_evaluate(spark, ratings_csv, tmp_path, capsys):
    from movie_recommendation_engine_spark.__main__ import main

    out = tmp_path / "splits"
    assert main(["split", "--ratings", ratings_csv, "--out", str(out)]) == 0
    back = spark.read.parquet(str(out))
    assert set(r.split for r in back.select("split").distinct().collect()) == {
        "train",
        "validation",
        "test",
    }

    top = tmp_path / "top"
    assert main(["popularity", "--ratings", ratings_csv, "--k", "5", "--out", str(top)]) == 0
    ranked = spark.read.parquet(str(top))
    assert ranked.count() <= 5 and "score" in ranked.columns

    assert (
        main(["evaluate", "--ratings", ratings_csv, "--rank", "4", "--max-iter", "1", "--k", "5"])
        == 0
    )
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(row) >= {"rmse", "map_at_k", "hit_rate", "popularity_hit_ratio", "n_users"}
    assert row["rmse"] > 0


def test_movielens_e2e_cli_gate_row(spark):
    """The composition-gated registry row: all four CLI verbs chained on
    sf0.001, every invariant boolean true and the counts self-consistent
    (the value-level oracle match runs in tools/check_oracle.py)."""
    from movie_recommendation_engine_spark.registry.e2e import q_movielens_e2e_cli

    row = q_movielens_e2e_cli(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_ratings == row.n_train + row.n_validation + row.n_test
    assert row.n_ratings > 0 and row.pop_k > 0
    assert row.rec_users > 0 and row.rec_rows_ok
    assert row.als_rmse_finite_ok and row.als_rmse_le_2x_baseline_ok
    assert row.als_map_in_range_ok
    assert 0.0 <= row.pop_hit_ratio <= 1.0


def test_cli_als_save_model_evaluate_reuse(spark, ratings_csv, tmp_path, capsys):
    """`als --save-model` + `evaluate --model-dir`: the saved model IS
    the model a refit would produce (same train split, same seed —
    factor equality is bit-exact, verified round 6), so the
    order-independent metrics must match a fresh evaluate fit exactly.
    Ranking metrics (map/hit) are asserted in-range rather than equal:
    recommendForAllUsers breaks SCORE TIES by physical row order, which
    identical factors do not pin across executions."""
    from movie_recommendation_engine_spark.__main__ import main

    recs = tmp_path / "recs"
    model = tmp_path / "model"
    args = ["--rank", "4", "--max-iter", "1", "--k", "5"]
    assert (
        main(["als", "--ratings", ratings_csv, "--out", str(recs),
              "--save-model", str(model)] + args)
        == 0
    )
    assert spark.read.parquet(str(recs)).count() > 0
    assert main(["evaluate", "--ratings", ratings_csv,
                 "--model-dir", str(model), "--k", "5"]) == 0
    reused = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["evaluate", "--ratings", ratings_csv] + args) == 0
    refit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert reused["rmse"] == refit["rmse"]  # order-independent, exact
    assert reused["n_users"] == refit["n_users"]
    assert set(reused) == set(refit)
    for k in ("map_at_k", "hit_rate", "popularity_hit_ratio"):
        assert 0.0 <= reused[k] <= 1.0 and 0.0 <= refit[k] <= 1.0


def test_cli_splits_reuse_reads_parquet(spark, ratings_csv, tmp_path, capsys):
    """Round-10 regression guard for the round-9 e2e cost: with
    ``--splits`` the downstream verbs READ the split verb's parquet —
    the pipeline's labeled plan is a partition-prunable parquet scan
    with no re-split window — and produce byte-identical artifacts to
    the re-split (--ratings) path, since the split labels are
    content-hash deterministic either way."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        MovieLensPipeline,
    )

    splits = tmp_path / "splits"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0

    # the attached plan is a parquet scan, not a recomputed window split
    p = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits)))
    plan = p.labeled._sc._jvm.PythonSQLUtils.explainString(
        p.labeled._jdf.queryExecution(), "extended"
    )
    assert "parquet" in plan.lower()
    assert "window" not in plan.lower()

    # ...and a per-split slice PRUNES AT THE SOURCE: the split filter
    # must land in the scan's PartitionFilters (not above a cached
    # InMemoryRelation — from_labeled deliberately does not cache), so
    # a train-only verb reads only the train partition's files
    import pyspark.sql.functions as F

    train = p.labeled.filter(F.col("split") == "train")
    tplan = train._sc._jvm.PythonSQLUtils.explainString(
        train._jdf.queryExecution(), "formatted"
    )
    pf = [l for l in tplan.splitlines() if "PartitionFilters" in l]
    assert pf and "split" in pf[0] and "train" in pf[0], tplan
    assert "InMemoryRelation" not in tplan
    p.unpersist()

    # artifact equality: popularity via --splits == via --ratings
    top_a = tmp_path / "top_ratings"
    top_b = tmp_path / "top_splits"
    assert main(["popularity", "--ratings", ratings_csv, "--k", "7",
                 "--out", str(top_a)]) == 0
    assert main(["popularity", "--splits", str(splits), "--k", "7",
                 "--out", str(top_b)]) == 0
    rows_a = sorted(map(tuple, spark.read.parquet(str(top_a)).collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(str(top_b)).collect()))
    assert rows_a == rows_b

    # evaluate via --splits: same deterministic rmse as via --ratings
    args = ["--rank", "4", "--max-iter", "1", "--k", "5"]
    assert main(["evaluate", "--ratings", ratings_csv] + args) == 0
    via_ratings = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["evaluate", "--splits", str(splits)] + args) == 0
    via_splits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert via_splits["rmse"] == via_ratings["rmse"]
    assert via_splits["n_users"] == via_ratings["n_users"]


def test_from_labeled_fails_fast_on_bad_splits(spark, ratings_csv, tmp_path):
    """Round-11 (round-10 verdict #3): a --splits directory that is not
    the split verb's output fails at pipeline construction with a NAMED
    error — missing `split` column, or labels outside
    train/validation/test — instead of an unattributed
    AnalysisException (or silently empty splits) inside a later verb."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        InvalidSplitsError,
        MovieLensPipeline,
    )

    # failure 1: any parquet without a `split` column
    plain = tmp_path / "plain"
    spark.createDataFrame(
        [(1, 2, 3.0)], "userId int, movieId int, rating float"
    ).write.parquet(str(plain))
    with pytest.raises(InvalidSplitsError, match="split"):
        MovieLensPipeline.from_labeled(spark.read.parquet(str(plain)))

    # failure 2: a split column with foreign labels
    mislabeled = tmp_path / "mislabeled"
    spark.createDataFrame(
        [(1, 2, 3.0, "train"), (1, 3, 4.0, "holdout")],
        "userId int, movieId int, rating float, split string",
    ).write.partitionBy("split").parquet(str(mislabeled))
    with pytest.raises(InvalidSplitsError, match="holdout"):
        MovieLensPipeline.from_labeled(spark.read.parquet(str(mislabeled)))

    # happy path unchanged: the split verb's real output constructs fine
    splits = tmp_path / "ok_splits"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0
    p = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits)))
    assert p.labeled is not None
    p.unpersist()


def test_cli_ratings_and_splits_conflict(ratings_csv, tmp_path, capsys):
    """Round-11 (round-10 advisory): passing BOTH --ratings and --splits
    is refused instead of silently preferring --splits (which could mask
    a stale splits directory while the user believes fresh ratings are
    in use).  The refusal happens at argparse PARSE time — before any
    SparkSession is paid for — via a mutually exclusive group."""
    from movie_recommendation_engine_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["popularity", "--ratings", ratings_csv,
              "--splits", str(tmp_path / "whatever"),
              "--k", "5", "--out", str(tmp_path / "top")])
    assert "not allowed with" in capsys.readouterr().err

    # ...and omitting both is equally a parse-time usage error
    with pytest.raises(SystemExit):
        main(["popularity", "--k", "5", "--out", str(tmp_path / "top")])
    assert "required" in capsys.readouterr().err


def test_cli_evaluate_popularity_reuse(spark, ratings_csv, tmp_path, capsys):
    """Round-11 (round-10 verdict #5): `evaluate --popularity DIR` reads
    the popularity verb's written table for the hit-ratio instead of
    refitting the top-k from train — artifact equality with the refit
    path (the table IS the refit's output, written once), mirroring the
    --splits reuse contract."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        InvalidPopularityError,
        MovieLensPipeline,
    )

    splits = tmp_path / "splits"
    top = tmp_path / "top"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0
    assert main(["popularity", "--splits", str(splits), "--k", "5",
                 "--out", str(top)]) == 0

    args = ["--rank", "4", "--max-iter", "1", "--k", "5"]
    assert main(["evaluate", "--splits", str(splits)] + args) == 0
    refit = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["evaluate", "--splits", str(splits),
                 "--popularity", str(top)] + args) == 0
    reused = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert reused["popularity_hit_ratio"] == refit["popularity_hit_ratio"]
    assert reused["rmse"] == refit["rmse"]

    # a table without the item column fails with a named error
    p = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits)))
    bad = spark.createDataFrame([(1.0,)], "score double")
    with pytest.raises(InvalidPopularityError, match="movieId"):
        p.popularity_hit_ratio(5, ranked=bad)
    p.unpersist()


def test_popularity_reuse_k_contract(spark, ratings_csv, tmp_path, capsys):
    """A reused popularity table written at a LARGER k is sliced to the
    call's top k by (score desc, item asc) — the metric equals the
    refit's at that k — and an under-k table (possibly a smaller --k)
    warns on stderr instead of silently deflating it."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        MovieLensPipeline,
    )

    splits = tmp_path / "splits"
    top10 = tmp_path / "top10"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0
    assert main(["popularity", "--splits", str(splits), "--k", "10",
                 "--out", str(top10)]) == 0

    p = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits)))
    try:
        table = spark.read.parquet(str(top10))
        sliced = p.popularity_hit_ratio(3, ranked=table).collect()[0][0]
        refit = p.popularity_hit_ratio(3).collect()[0][0]
        assert sliced == refit

        # under-k table: accepted (refit's own threshold can truncate
        # below k) but traced on stderr
        capsys.readouterr()
        p.popularity_hit_ratio(100, ranked=table).collect()
        assert "--popularity table has" in capsys.readouterr().err
    finally:
        p.unpersist()


def test_popularity_provenance_stamp(spark, ratings_csv, tmp_path, capsys):
    """The popularity verb stamps its table with fingerprints of the
    train split and of its own (item, score) rows; a reused table is
    checked against the evaluating split, so a table fitted on different
    ratings, or edited after it was written, fails by name.  A table the
    verb does not write — a v1 train-only stamp, no stamp, no score
    column — is refused."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        POPULARITY_FP_COL,
        InvalidPopularityError,
        MovieLensPipeline,
    )

    splits_a = tmp_path / "splits_a"
    top_a = tmp_path / "top_a"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits_a)]) == 0
    assert main(["popularity", "--splits", str(splits_a), "--k", "5",
                 "--out", str(top_a)]) == 0
    table = spark.read.parquet(str(top_a))
    assert POPULARITY_FP_COL in table.columns

    # different ratings -> different train fingerprint -> named refusal.
    # EVERY rating is perturbed (6 - r keeps the 1-5 range): the split
    # labels hash only (userId, movieId), so a single-row perturbation
    # could land outside the train split and leave the fingerprint
    # unchanged — perturbing all rows guarantees the (non-empty) train
    # split's content differs whatever the hash assigns
    other_csv = tmp_path / "other_ratings.csv"
    with open(ratings_csv) as src, open(other_csv, "w") as dst:
        for i, line in enumerate(src):
            if i > 0:
                u, m, r, t = line.strip().split(",")
                line = f"{u},{m},{6.0 - float(r)},{t}\n"
            dst.write(line)
    splits_b = tmp_path / "splits_b"
    assert main(["split", "--ratings", str(other_csv), "--out", str(splits_b)]) == 0
    with pytest.raises(SystemExit, match="--popularity .*provenance mismatch"):
        main(["evaluate", "--splits", str(splits_b), "--popularity", str(top_a),
              "--rank", "4", "--max-iter", "1", "--k", "5"])

    p = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits_a)))
    try:
        # matching provenance: scores identically to the refit
        reused = p.popularity_hit_ratio(5, ranked=table).collect()[0][0]
        assert reused == p.popularity_hit_ratio(5).collect()[0][0]

        # mismatching provenance via the API raises the named error
        pb = MovieLensPipeline.from_labeled(spark.read.parquet(str(splits_b)))
        try:
            with pytest.raises(InvalidPopularityError, match="provenance"):
                pb.popularity_hit_ratio(5, ranked=table)
        finally:
            pb.unpersist()

        # doctored scores under an intact train stamp: caught by the
        # rows fingerprint — an in-place score edit raises by name
        from pyspark.sql import functions as F

        doctored = table.withColumn("score", F.lit(9.0))
        with pytest.raises(InvalidPopularityError, match="integrity mismatch"):
            p.popularity_hit_ratio(5, ranked=doctored)

        # a doctored ITEM column is caught by the same fingerprint
        doctored_item = table.withColumn(
            "movieId", F.col("movieId") + F.lit(1)
        )
        with pytest.raises(InvalidPopularityError, match="integrity mismatch"):
            p.popularity_hit_ratio(5, ranked=doctored_item)

        # tables the verb does not write are refused by name: a v1
        # (train-only) stamp, no stamp, no score column
        v1 = table.withColumn(
            POPULARITY_FP_COL,
            F.split(F.col(POPULARITY_FP_COL), r"\|").getItem(0),
        )
        with pytest.raises(InvalidPopularityError, match="v1 stamp"):
            p.popularity_hit_ratio(5, ranked=v1)
        with pytest.raises(InvalidPopularityError, match="no train_fp column"):
            p.popularity_hit_ratio(5, ranked=table.drop(POPULARITY_FP_COL))
        with pytest.raises(InvalidPopularityError, match="no score column"):
            p.popularity_hit_ratio(5, ranked=table.drop("score"))

        # a 0-row table (the count floor left no items) is the verb's
        # own output and stays accepted
        assert p.popularity_hit_ratio(5, ranked=table.limit(0)).collect()[0][0] == 0.0
    finally:
        p.unpersist()


def test_popularity_validation_runs_before_fit(spark, ratings_csv, tmp_path,
                                               monkeypatch):
    """A --popularity violation (here a table without a score column)
    surfaces as a SystemExit naming the flag BEFORE the ALS fit — the
    fit is the expensive step and a malformed table must not cost it
    first."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        MovieLensPipeline,
        POPULARITY_FP_COL,
    )

    splits = tmp_path / "splits"
    top10 = tmp_path / "top10"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0
    assert main(["popularity", "--splits", str(splits), "--k", "10",
                 "--out", str(top10)]) == 0
    # wider than k=3, score column stripped -> no deterministic slice
    scoreless = tmp_path / "scoreless"
    spark.read.parquet(str(top10)).select("movieId", POPULARITY_FP_COL) \
        .write.parquet(str(scoreless))

    def boom(self, *a, **kw):  # evaluate must fail before ever fitting
        raise AssertionError("ALS fit ran before --popularity validation")

    monkeypatch.setattr(MovieLensPipeline, "fit_als", boom)
    with pytest.raises(SystemExit, match="--popularity .*no score column"):
        main(["evaluate", "--splits", str(splits), "--popularity",
              str(scoreless), "--rank", "4", "--max-iter", "1", "--k", "3"])


def test_cli_popularity_reuse_rejects_unreadable_dir(ratings_csv, tmp_path, capsys):
    """evaluate --popularity pointed at a CSV-written table (or any
    non-parquet path) fails naming the flag, not with a raw
    AnalysisException."""
    from movie_recommendation_engine_spark.__main__ import main

    splits = tmp_path / "splits"
    top_csv = tmp_path / "top_csv"
    assert main(["split", "--ratings", ratings_csv, "--out", str(splits)]) == 0
    assert main(["popularity", "--splits", str(splits), "--k", "5",
                 "--format-out", "csv", "--out", str(top_csv)]) == 0
    with pytest.raises(SystemExit, match="--popularity"):
        main(["evaluate", "--splits", str(splits),
              "--popularity", str(top_csv),
              "--rank", "4", "--max-iter", "1", "--k", "5"])


def test_from_labeled_label_edge_cases(spark, capsys):
    """A null split label mixed with a foreign one still raises the
    NAMED error (the sort inside the message is repr-keyed, not
    str-vs-None), and a dataset missing one of the three labels warns
    on stderr instead of erroring (tiny corpora can legitimately lack
    a label)."""
    from movie_recommendation_engine_spark.plans.movielens import (
        InvalidSplitsError,
        MovieLensPipeline,
    )

    nulled = spark.createDataFrame(
        [(1, 2, 3.0, "train"), (1, 3, 4.0, None), (1, 4, 2.0, "holdout")],
        "userId int, movieId int, rating float, split string",
    )
    with pytest.raises(InvalidSplitsError, match="holdout"):
        MovieLensPipeline.from_labeled(nulled)

    partial = spark.createDataFrame(
        [(1, 2, 3.0, "train"), (1, 3, 4.0, "validation")],
        "userId int, movieId int, rating float, split string",
    )
    p = MovieLensPipeline.from_labeled(partial)
    assert "no ['test'] rows" in capsys.readouterr().err
    p.unpersist()


@pytest.mark.parametrize(
    "argv, flag",
    [
        (["popularity", "--ratings", "r.csv", "--out", "top", "--k", "0"], "--k"),
        (["popularity", "--ratings", "r.csv", "--out", "top", "--k", "-3"], "--k"),
        (["als", "--ratings", "r.csv", "--out", "recs", "--k", "-3"], "--k"),
        (["als", "--ratings", "r.csv", "--out", "recs", "--rank", "0"], "--rank"),
        (["evaluate", "--ratings", "r.csv", "--k", "0"], "--k"),
    ],
)
def test_cli_rejects_nonpositive_k_and_rank_before_spark(argv, flag, monkeypatch, capsys):
    """--k and --rank below 1 are usage errors at parse time: before, the
    verbs wrote an empty table, fitted the whole model first, or failed
    inside Spark."""
    import movie_recommendation_engine_spark.__main__ as cli

    def no_spark(app):
        raise AssertionError(f"{app} reached Spark with a non-positive {flag}")

    monkeypatch.setattr(cli, "_spark", no_spark)
    with pytest.raises(SystemExit):
        cli.main(argv)
    assert f"argument {flag}: must be at least 1" in capsys.readouterr().err


@pytest.fixture(scope="module")
def verb_artifacts(spark, ratings_csv, tmp_path_factory):
    """The split, popularity (k=5) and saved-model artifacts of one run."""
    from movie_recommendation_engine_spark.__main__ import main

    d = tmp_path_factory.mktemp("artifacts")
    out = {name: str(d / name) for name in ("splits", "top", "model", "recs")}
    assert main(["split", "--ratings", ratings_csv, "--out", out["splits"]]) == 0
    assert main(["popularity", "--splits", out["splits"], "--k", "5",
                 "--out", out["top"]]) == 0
    assert main(["als", "--splits", out["splits"], "--rank", "4", "--max-iter", "1",
                 "--k", "5", "--save-model", out["model"], "--out", out["recs"]]) == 0
    return out


def test_cli_names_a_bad_splits_flag(spark, verb_artifacts, tmp_path):
    """A --splits path that is missing or is not the split verb's output
    exits naming the flag."""
    from movie_recommendation_engine_spark.__main__ import main

    plain = tmp_path / "plain"
    spark.createDataFrame(
        [(1, 2, 3.0)], "userId int, movieId int, rating float"
    ).write.parquet(str(plain))
    for path in (plain, tmp_path / "missing"):
        with pytest.raises(SystemExit, match=f"^--splits {re.escape(str(path))}: "):
            main(["popularity", "--splits", str(path), "--k", "5",
                  "--out", str(tmp_path / "top")])


def test_cli_names_a_bad_model_dir_flag(verb_artifacts, tmp_path):
    """A missing --model-dir exits naming the flag."""
    from movie_recommendation_engine_spark.__main__ import main

    missing = tmp_path / "no_model"
    with pytest.raises(SystemExit, match=f"^--model-dir {re.escape(str(missing))}: "):
        main(["evaluate", "--splits", verb_artifacts["splits"],
              "--model-dir", str(missing), "--k", "5"])


def test_cli_names_a_popularity_table_with_a_v1_stamp(spark, verb_artifacts, tmp_path,
                                                      monkeypatch):
    """A --popularity table with a v1 (train-only) stamp is refused,
    naming the flag, before the ALS fit."""
    from pyspark.sql import functions as F

    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import (
        POPULARITY_FP_COL,
        MovieLensPipeline,
    )

    v1 = tmp_path / "v1"
    spark.read.parquet(verb_artifacts["top"]).withColumn(
        POPULARITY_FP_COL, F.split(F.col(POPULARITY_FP_COL), r"\|").getItem(0)
    ).write.parquet(str(v1))

    def boom(self, *a, **kw):
        raise AssertionError("ALS fit ran before --popularity validation")

    monkeypatch.setattr(MovieLensPipeline, "fit_als", boom)
    with pytest.raises(SystemExit, match=f"^--popularity {re.escape(str(v1))}: .*v1 stamp"):
        main(["evaluate", "--splits", verb_artifacts["splits"],
              "--popularity", str(v1), "--k", "5"])


def test_evaluate_fingerprints_train_once_before_model_load(verb_artifacts, monkeypatch,
                                                            capsys):
    """`evaluate --splits --model-dir --popularity` computes the train
    fingerprint once, and before the model load."""
    from movie_recommendation_engine_spark.__main__ import main
    from movie_recommendation_engine_spark.plans.movielens import MovieLensPipeline

    calls = []
    fingerprint, load = MovieLensPipeline.train_fingerprint, MovieLensPipeline.load_als

    def spy_fingerprint(self):
        calls.append("fingerprint")
        return fingerprint(self)

    def spy_load(self, path):
        calls.append("load")
        return load(self, path)

    monkeypatch.setattr(MovieLensPipeline, "train_fingerprint", spy_fingerprint)
    monkeypatch.setattr(MovieLensPipeline, "load_als", spy_load)
    assert main(["evaluate", "--splits", verb_artifacts["splits"],
                 "--model-dir", verb_artifacts["model"],
                 "--popularity", verb_artifacts["top"], "--k", "5"]) == 0
    assert calls == ["fingerprint", "load"]
    assert "popularity_hit_ratio" in capsys.readouterr().out
