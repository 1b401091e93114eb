"""CLI entry point — the reference's scripts as engine verbs, so a user
who today runs ``spark-submit popularity_model.py`` / ``als.py`` /
``python new_split_script.py`` switches to:

    python -m movie_recommendation_engine_spark split \
        --ratings ratings.csv --out splits/
    python -m movie_recommendation_engine_spark popularity \
        --splits splits/ --k 100 --out top_movies/
    python -m movie_recommendation_engine_spark als \
        --splits splits/ --rank 100 --max-iter 3 --reg 0.15 \
        --k 100 --out recs/
    python -m movie_recommendation_engine_spark evaluate \
        --splits splits/ --k 100

Inputs may be CSV (header userId,movieId,rating,timestamp — the
MovieLens layout, reference als.py:24) or parquet (``--format
parquet``).  The popularity/als/evaluate verbs accept EITHER
``--ratings`` (each verb re-derives the deterministic split — fine for
one-off runs) or ``--splits`` pointing at the `split` verb's output
(the reference's own pipeline shape: als.py:24-34 reads the splitter's
files; labels are identical, each verb saves one full scan + per-user
window).  Outputs are parquet directories (``--format csv`` writes
headered CSV like the reference's splitter).  Every verb is one lazy
Spark plan; only `evaluate` prints scalars to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(f"mres-{app}")


def _load(spark, args):
    # args.ratings is always set here: `split` requires it, and the
    # splits-capable verbs enforce exactly-one-of --ratings/--splits at
    # parse time (mutually exclusive group), with _pipeline routing the
    # --splits case away before calling _load
    from .sources.readers import read_ratings_csv

    if args.format == "parquet":
        return spark.read.parquet(args.ratings)
    return read_ratings_csv(spark, args.ratings, header=not args.no_header)


def _write(df, path: str, fmt: str) -> None:
    from .sources.writers import write_csv

    if fmt == "csv":
        write_csv(df, path)
    else:
        df.write.mode("overwrite").parquet(path)


def _pipeline(spark, args):
    from .plans.movielens import MovieLensPipeline

    if getattr(args, "splits", None):
        # (--ratings together with --splits is rejected at PARSE time by
        # the argparse mutually-exclusive group — silently preferring
        # --splits could mask a stale splits directory while the user
        # believes fresh --ratings are in use; round-10 advisory)
        # reuse the `split` verb's partitioned parquet instead of
        # re-splitting from the raw ratings — the reference's own flow
        # (als.py:24-34 reads the splitter's outputs).  Re-splitting is
        # deterministic (content-hash) so results are identical either
        # way; this path just skips a full scan + per-user window PER
        # VERB (measured ~1.7x on the e2e after the round-9 cache-leak
        # fix removed the accidental cross-verb cache that hid it).
        return MovieLensPipeline.from_labeled(spark.read.parquet(args.splits))
    p = MovieLensPipeline(_load(spark, args))
    p.split()
    return p


def cmd_split(args) -> int:
    from .plans.splitter import split_and_write

    spark = _spark("split")
    split_and_write(_load(spark, args), args.out)
    print(f"wrote split-partitioned ratings to {args.out}", file=sys.stderr)
    return 0


def cmd_popularity(args) -> int:
    spark = _spark("popularity")
    p = _pipeline(spark, args)
    try:
        # popularity_table = popularity_top_k + the train_fp provenance
        # stamp, so `evaluate --popularity` can detect a table fitted on
        # different ratings or a stale split (round-12 advisory)
        _write(p.popularity_table(args.k), args.out, args.format_out)
    finally:
        # verbs may run inside a shared session (the e2e registry
        # query, a notebook): release the pipeline's cache entries so
        # repeated runs don't pin one RDD each (round-9 soak finding)
        p.unpersist()
    print(f"wrote top-{args.k} popularity ranking to {args.out}", file=sys.stderr)
    return 0


def cmd_als(args) -> int:
    spark = _spark("als")
    p = _pipeline(spark, args)
    try:
        p.fit_als(rank=args.rank, max_iter=args.max_iter, reg_param=args.reg, seed=args.seed)
        if args.save_model:
            p.als.save_model(args.save_model)
            print(f"saved fitted ALS model to {args.save_model}", file=sys.stderr)
        recs = p.als.recommend_top_k(args.k)
        _write(recs, args.out, args.format_out)
    finally:
        p.unpersist()
    print(f"wrote top-{args.k} ALS recommendations to {args.out}", file=sys.stderr)
    return 0


def cmd_evaluate(args) -> int:
    from .plans.movielens import InvalidArtifactError

    spark = _spark("evaluate")
    p = _pipeline(spark, args)
    try:
        ranked = None
        if args.popularity:
            # reuse the `popularity` verb's written table instead of
            # refitting the top-k from train — at scale the refit is a
            # full train-split aggregate per evaluate run (mirror of
            # the --splits reuse pattern).  The FULL validation
            # (schema, provenance stamp, k-contract slice — see
            # validate_popularity) runs here, BEFORE the ALS fit: a
            # typo'd path, a CSV-written table, a wider-than-k table
            # without a score column, or a table fitted on different
            # ratings must not cost minutes of fitting first (same
            # fail-fast rationale as the parse-time --ratings/--splits
            # group), and every violation surfaces as a named
            # SystemExit, not a raw traceback (round-11 advisory).
            try:
                ranked = spark.read.parquet(args.popularity)
            except Exception as ex:
                raise SystemExit(
                    f"--popularity {args.popularity} is not readable "
                    "parquet (was the popularity verb run with "
                    f"--format-out csv, or is the path wrong?): {ex}"
                ) from None
            try:
                ranked = p.validate_popularity(ranked, args.k)
            except InvalidArtifactError as ex:
                raise SystemExit(f"--popularity {args.popularity}: {ex}") from None
        if args.model_dir:
            # reuse the `als` verb's saved model — the split is recomputed
            # (deterministic content-hash, so train/validation are identical
            # to the fitting run's) but the expensive ALS fit is not
            p.load_als(args.model_dir)
        else:
            p.fit_als(rank=args.rank, max_iter=args.max_iter, reg_param=args.reg, seed=args.seed)
        out = p.evaluate(k=args.k)
        # The three metric plans are independent of each other (RMSE,
        # ranking summary, popularity hit-ratio) and each is a straggler-
        # tailed job; collect them concurrently so the next job's tasks
        # back-fill cores freed by the current job's tail instead of
        # serializing three ramp-downs.  Plans are built on this thread;
        # only the actions run concurrently (Spark's scheduler is
        # designed for concurrent jobs — FIFO back-fill).
        from .session import run_concurrently

        hit_plan = p.popularity_hit_ratio(args.k, ranked=ranked)
        rmse, ranking, hit = run_concurrently(
            spark, "evaluate", out["rmse"].collect, out["ranking"].collect, hit_plan.collect
        )
        row = {"rmse": rmse[0][0], **ranking[0].asDict(), "popularity_hit_ratio": hit[0][0]}
    finally:
        p.unpersist()
    print(json.dumps(row))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="movie_recommendation_engine_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def common(sp, splits: bool = False):
        if splits:
            # argparse owns the exclusivity: both flags name the same
            # input, and rejecting the pair at parse time costs nothing
            # (a runtime check would first pay SparkSession startup)
            grp = sp.add_mutually_exclusive_group(required=True)
            grp.add_argument("--ratings", help="ratings CSV or parquet path")
            grp.add_argument(
                "--splits", default=None,
                help="read the `split` verb's partitioned parquet instead of "
                     "re-splitting --ratings (same deterministic labels, one "
                     "scan+window cheaper per verb)")
        else:
            sp.add_argument("--ratings", required=True,
                            help="ratings CSV or parquet path")
        sp.add_argument("--format", choices=["csv", "parquet"], default="csv")
        sp.add_argument("--no-header", action="store_true", help="headerless CSV (S2)")

    sp = sub.add_parser("split", help="deterministic per-user 25/25/50 split")
    common(sp)
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_split)

    sp = sub.add_parser("popularity", help="weighted-rating popularity top-k")
    common(sp, splits=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--k", type=int, default=100)
    sp.add_argument("--format-out", choices=["csv", "parquet"], default="parquet")
    sp.set_defaults(fn=cmd_popularity)

    def als_args(sp):
        sp.add_argument("--rank", type=int, default=100)
        sp.add_argument("--max-iter", type=int, default=3)
        sp.add_argument("--reg", type=float, default=0.15)
        sp.add_argument("--seed", type=int, default=42)
        sp.add_argument("--k", type=int, default=100)

    sp = sub.add_parser("als", help="ALS fit + top-k recommendations")
    common(sp, splits=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--format-out", choices=["csv", "parquet"], default="parquet")
    sp.add_argument("--save-model", default=None,
                    help="also persist the fitted ALSModel here (reusable by evaluate --model-dir)")
    als_args(sp)
    sp.set_defaults(fn=cmd_als)

    sp = sub.add_parser("evaluate", help="split + ALS + RMSE/MAP@K + hit-ratio, one JSON line")
    common(sp, splits=True)
    sp.add_argument("--model-dir", default=None,
                    help="evaluate a model saved by `als --save-model` instead of refitting")
    sp.add_argument("--popularity", default=None,
                    help="read the `popularity` verb's output (written at the "
                         "same --k) for the hit-ratio instead of refitting the "
                         "top-k from the train split")
    als_args(sp)
    sp.set_defaults(fn=cmd_evaluate)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
