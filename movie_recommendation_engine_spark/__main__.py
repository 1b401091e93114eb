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
parquet``).  The popularity/als/evaluate verbs take EITHER ``--ratings``
(each verb re-derives the deterministic split) or ``--splits``, the
`split` verb's output (the reference's own flow: als.py:24-34 reads the
splitter's files).  ``evaluate`` also reuses ``--model-dir`` (from ``als
--save-model``) and ``--popularity`` (the `popularity` verb's parquet
table, stamped with the fingerprints of its train split and its rows).
A reused artifact that is missing, unreadable or not what its verb
writes exits naming its flag.  Outputs are parquet directories
(``--format csv`` writes headered CSV like the reference's splitter).
Every verb is one lazy Spark plan; only `evaluate` prints scalars to
stdout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys


def _spark(app: str):
    from .session import get_spark

    return get_spark(f"mres-{app}")


@contextlib.contextmanager
def _artifact(flag: str, path: str):
    """Report a reused artifact that cannot be read, or is not what its
    verb writes, as a usage error naming ``--flag``."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from .plans.movielens import InvalidArtifactError

    try:
        yield
    except (InvalidArtifactError, AnalysisException, Py4JJavaError) as ex:
        raise SystemExit(f"--{flag} {path}: {ex}") from None


def _load(spark, args):
    # args.ratings is set: `split` requires it, and the other verbs take
    # exactly one of --ratings/--splits, with --splits routed away first
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
        with _artifact("splits", args.splits):
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
        _write(p.popularity_table(args.k), args.out, args.format_out)
    finally:
        # release the split cache: the verb may run inside a shared
        # session (the e2e registry query, a notebook)
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
    from .session import run_concurrently

    spark = _spark("evaluate")
    p = _pipeline(spark, args)
    try:
        # the --popularity check runs before the model load or fit, so a
        # bad table does not cost the expensive step first
        if args.popularity:
            with _artifact("popularity", args.popularity):
                hit_plan = p.popularity_hit_ratio(
                    args.k, ranked=spark.read.parquet(args.popularity)
                )
        else:
            hit_plan = p.popularity_hit_ratio(args.k)
        if args.model_dir:
            with _artifact("model-dir", args.model_dir):
                p.load_als(args.model_dir)
        else:
            p.fit_als(rank=args.rank, max_iter=args.max_iter, reg_param=args.reg, seed=args.seed)
        out = p.evaluate(k=args.k)
        # the three metric plans are independent, straggler-tailed jobs:
        # run them concurrently so each one's tasks back-fill the cores
        # another's tail frees
        rmse, ranking, hit = run_concurrently(
            spark, "evaluate", out["rmse"].collect, out["ranking"].collect, hit_plan.collect
        )
        row = {"rmse": rmse[0][0], **ranking[0].asDict(), "popularity_hit_ratio": hit[0][0]}
    finally:
        p.unpersist()
    print(json.dumps(row))
    return 0


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


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
    sp.add_argument("--k", type=_positive_int, default=100)
    sp.add_argument("--format-out", choices=["csv", "parquet"], default="parquet")
    sp.set_defaults(fn=cmd_popularity)

    def als_args(sp):
        sp.add_argument("--rank", type=_positive_int, default=100)
        sp.add_argument("--max-iter", type=int, default=3)
        sp.add_argument("--reg", type=float, default=0.15)
        sp.add_argument("--seed", type=int, default=42)
        sp.add_argument("--k", type=_positive_int, default=100)

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
