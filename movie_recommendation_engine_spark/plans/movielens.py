"""MovieLens end-to-end convenience pipeline — the reference's whole
workflow (new_split_script.py + popularity_model.py + als.py) behind one
API, so a user of the reference can switch by changing an import.

    from movie_recommendation_engine_spark.plans.movielens import MovieLensPipeline
    p = MovieLensPipeline(read_ratings_csv(spark, "ratings.csv"))
    p.split()                  # deterministic 25/25/50 per user
    pop = p.popularity_top_k(100)
    p.fit_als(rank=100, max_iter=3, reg_param=0.15)        # reference config
    metrics = p.evaluate(k=100)  # RMSE + MAP@K + compat formulas

Every step is lazy/distributed; nothing collects to the driver except
the final metric scalars the caller asks for.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .metrics import (
    global_hit_ratio,
    per_user_ranking_metrics,
    summarize_ranking,
)
from .popularity import popularity_top_k
from .recommender import AlsRecommender
from .splitter import ITEM_COL, RATING_COL, USER_COL, split_ratings

SPLIT_LABELS = frozenset({"train", "validation", "test"})

# The `popularity` verb's stamp column, "<train_fp>|<rows_fp>": the
# fingerprint of the train split the table was fitted on, then of the
# table's own (item, score) rows.  A stale or edited table passes every
# shape check and silently yields a wrong hit-ratio; the stamp catches it.
POPULARITY_FP_COL = "train_fp"


class InvalidArtifactError(ValueError):
    """A dataset handed back to the pipeline as a reused verb artifact
    (``--splits``, ``--popularity``) is not what that verb writes.  Named
    so the failure surfaces at the reuse site instead of as an
    unattributed AnalysisException or a silently wrong metric later."""


class InvalidSplitsError(InvalidArtifactError):
    """The ``--splits`` dataset is not the ``split`` verb's output —
    missing the ``split`` column or carrying labels outside
    train/validation/test."""


class InvalidPopularityError(InvalidArtifactError):
    """The ``--popularity`` table is not the ``popularity`` verb's output
    for this split: a column or the v2 stamp is missing, or the stamp
    does not match this train split or the table's own rows."""


def _rows_fp():
    """Fingerprint of a popularity table's (item, score) rows: row count
    + exact decimal sum of a per-row xxhash64 over the item and the 6-dp
    score in integer micro-units, so it survives any storage round-trip."""
    h = F.xxhash64(
        F.col(ITEM_COL).cast("long"),
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long"),
    )
    return F.concat_ws(
        ":",
        F.lit("rows"),
        F.count("*"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")).cast("string"), F.lit("0")),
    )


@dataclass
class MovieLensPipeline:
    ratings: DataFrame
    labeled: DataFrame | None = field(default=None, repr=False)
    als: AlsRecommender | None = field(default=None, repr=False)

    @classmethod
    def from_labeled(cls, labeled: DataFrame) -> "MovieLensPipeline":
        """The pipeline over the ``split`` verb's output read back instead
        of re-split (reference als.py:24-34 reads the splitter's files).
        Not cached, so each split's filter prunes partitions at the scan.

        Raises ``InvalidSplitsError`` without a ``split`` column or with
        labels outside train/validation/test; warns if one is absent."""
        if "split" not in labeled.columns:
            raise InvalidSplitsError(
                "from_labeled expects the `split` verb's output (a parquet "
                "dataset partitioned by a `split` column); got columns "
                f"{labeled.columns} — re-point --splits at the splitter's "
                "output directory, or pass raw ratings via --ratings"
            )
        labels = {r[0] for r in labeled.select("split").distinct().collect()}
        bad = labels - SPLIT_LABELS
        if bad:
            # key=repr: a null split row would otherwise crash the
            # str/None sort INSIDE the error path, masking the named
            # error with a TypeError
            raise InvalidSplitsError(
                f"from_labeled: unknown split labels "
                f"{sorted(bad, key=repr)} (expected a subset of "
                f"{sorted(SPLIT_LABELS)}) — the --splits directory is "
                "not the `split` verb's output"
            )
        missing = SPLIT_LABELS - labels
        if missing:
            # warn, don't raise: a partially-written splits dir is the
            # likely cause, but a legitimately tiny corpus can lack a
            # label (per-user ceil splits give 1-2-rating users no
            # train/test rows), so a hard error would false-positive
            print(
                f"warning: --splits dataset has no {sorted(missing)} "
                "rows — verbs evaluating on those splits will see empty "
                "data (partially-written split output?)",
                file=sys.stderr,
            )
        return cls(labeled.drop("split"), labeled=labeled)

    def split(self) -> DataFrame:
        """Deterministic per-user split (reference E3, hash-based); a
        no-op when ``from_labeled`` attached one."""
        if self.labeled is None:
            self.labeled = split_ratings(self.ratings).cache()
        return self.labeled

    def unpersist(self) -> "MovieLensPipeline":
        """Release the cached split and any factor caches, which a
        pipeline in a long-lived session would otherwise pin until the
        session ends."""
        if self.labeled is not None:
            self.labeled.unpersist()
            self.labeled = None
        if self.als is not None:
            self.als.unpersist_factors()
        return self

    def _part(self, name: str) -> DataFrame:
        assert self.labeled is not None, "call split() first"
        return self.labeled.filter(F.col("split") == name)

    def popularity_top_k(self, k: int = 100) -> DataFrame:
        """Popularity baseline fitted on the train split (reference E1)."""
        return popularity_top_k(
            self._part("train"),
            k=k,
            item_col=ITEM_COL,
            user_col=USER_COL,
            rating_col=RATING_COL,
        )

    def train_fingerprint(self) -> DataFrame:
        """One-row content fingerprint of the train split: row count +
        exact decimal sum of a per-row xxhash64 over the normalized
        (user, item, rating) triple.  Order- and partitioning-
        independent (a commutative sum of per-row hashes), and computed
        from the same engine on both the stamp and the check side, so
        no cross-engine hash parity is needed (unlike the md5 split
        hashes).  Types are normalized (long, long, double) before
        hashing so a CSV-read and a parquet-read of the same content
        fingerprint identically.  Cost: one column-pruned scan with a
        scalar reduce — no shuffle, strictly cheaper than the
        popularity refit's groupBy it stands in for."""
        h = F.xxhash64(
            F.col(USER_COL).cast("long"),
            F.col(ITEM_COL).cast("long"),
            F.col(RATING_COL).cast("double"),
        )
        return self._part("train").agg(
            F.concat_ws(
                ":",
                F.lit("xxh64v1"),
                F.count("*"),
                F.sum(h.cast("decimal(38,0)")),
            ).alias(POPULARITY_FP_COL)
        )

    def popularity_table(self, k: int = 100) -> DataFrame:
        """What the ``popularity`` verb writes: ``popularity_top_k`` plus
        the ``<train_fp>|<rows_fp>`` stamp, attached as a broadcast one-row
        aggregate so the verb stays one lazy plan."""
        from ..operators.relational import with_scalars

        # the top-k feeds both the rows-fingerprint aggregate and the
        # output rows; k rows, so the truncation is free and the scored
        # subtree computes once
        top = self.popularity_top_k(k).localCheckpoint(eager=False)
        stamp = self.train_fingerprint().crossJoin(
            F.broadcast(top.agg(_rows_fp().alias("__rows_fp")))
        ).select(
            F.concat_ws("|", F.col(POPULARITY_FP_COL), F.col("__rows_fp")).alias(
                POPULARITY_FP_COL
            )
        )
        return with_scalars(top, stamp)

    def _checked_popularity(self, ranked: DataFrame, k: int) -> DataFrame:
        """``ranked`` as the ``popularity`` verb wrote it for this split,
        stamp dropped and sliced to k; ``InvalidPopularityError`` if not."""
        for col in (ITEM_COL, "score", POPULARITY_FP_COL):
            if col not in ranked.columns:
                raise InvalidPopularityError(
                    f"popularity table has no {col} column (got "
                    f"{ranked.columns}) — point --popularity at the "
                    "`popularity` verb's output directory"
                )
        # one collect: the table's stamps, size and recomputed rows
        # fingerprint beside this split's train fingerprint.  The table
        # is a top-k export, so one partition aggregates it without a
        # shuffle (3 Spark jobs instead of 4)
        row = (
            ranked.coalesce(1).agg(
                F.collect_set(POPULARITY_FP_COL).alias("stamps"),
                F.count("*").alias("n"),
                _rows_fp().alias("rows_fp"),
            )
            .crossJoin(self.train_fingerprint())
            .collect()[0]
        )
        n, stamps = row["n"], [s.split("|") for s in row["stamps"]]
        # a 0-row table (the count floor left no items) carries no stamp
        if (n and not stamps) or any(len(s) != 2 for s in stamps):
            raise InvalidPopularityError(
                f"popularity table stamp {sorted(row['stamps'])} is not the "
                "`popularity` verb's `<train_fp>|<rows_fp>` (a train-only "
                "v1 stamp, or none) — re-run the `popularity` verb"
            )
        train_parts = sorted({s[0] for s in stamps})
        if stamps and train_parts != [row[POPULARITY_FP_COL]]:
            raise InvalidPopularityError(
                "popularity table provenance mismatch: stamped "
                f"train fingerprint {train_parts} != this split's "
                f"{row[POPULARITY_FP_COL]!r} — the table was fitted on "
                "different ratings or a stale split; re-run the "
                "`popularity` verb against the current --splits/--ratings"
            )
        rows_parts = sorted({s[1] for s in stamps})
        if stamps and rows_parts != [row["rows_fp"]]:
            raise InvalidPopularityError(
                "popularity table integrity mismatch: stamped "
                f"(item, score) fingerprint {rows_parts} != the "
                f"table's recomputed {row['rows_fp']!r} — the "
                "exported rows were edited after the "
                "`popularity` verb wrote them; re-run the verb"
            )
        ranked = ranked.drop(POPULARITY_FP_COL)
        if n > k:
            # the verb's own order, so the slice equals a refit at k
            ranked = ranked.orderBy(F.col("score").desc(), F.col(ITEM_COL).asc()).limit(k)
        elif n < k:
            # accepted (indistinguishable from the refit's own count-floor
            # truncation), but a table written at a smaller --k silently
            # deflates the metric
            print(
                f"warning: --popularity table has {n} rows for "
                f"k={k} — if it was written at a smaller --k the "
                "hit-ratio covers fewer recommendations than a "
                "refit would",
                file=sys.stderr,
            )
        return ranked

    def fit_als(
        self, rank: int = 100, max_iter: int = 3, reg_param: float = 0.15, seed: int = 42
    ) -> AlsRecommender:
        """ALS on the train split with the reference's defaults
        (als.py:36-46)."""
        self.als = AlsRecommender(
            user_col=USER_COL,
            item_col=ITEM_COL,
            rating_col=RATING_COL,
            rank=rank,
            max_iter=max_iter,
            reg_param=reg_param,
            seed=seed,
        ).fit(self._part("train"))
        return self.als

    def load_als(self, path: str) -> AlsRecommender:
        """Attach a model saved by an earlier ``fit_als(...).save_model``
        run instead of refitting — the evaluate-after-train path (the
        CLI's ``als --save-model`` / ``evaluate --model-dir`` pair)."""
        self.als = AlsRecommender(
            user_col=USER_COL,
            item_col=ITEM_COL,
            rating_col=RATING_COL,
        ).load_model(path)
        return self.als

    def evaluate(self, k: int = 100) -> dict[str, DataFrame]:
        """RMSE + distributed ranking metrics of the fitted ALS model on
        the validation split (reference als.py:93-133, kept distributed)."""
        assert self.als is not None, "call fit_als() first"
        held = self._part("validation")
        truth = held.groupBy(USER_COL).agg(F.collect_set(ITEM_COL).alias("truth"))
        recs = self.als.recommendation_lists(k=k)
        per_user = per_user_ranking_metrics(recs, truth, k=k, user_col=USER_COL)
        return {
            "rmse": self.als.evaluate_rmse(held),
            "ranking": summarize_ranking(per_user),
        }

    def popularity_hit_ratio(self, k: int = 100, ranked: DataFrame | None = None) -> DataFrame:
        """The reference's global row-level hit-ratio of the popularity
        top-k on the validation split (popularity_model.py:65-77).
        ``ranked``, the ``popularity`` verb's table, stands in for the
        refit; it is checked here, eagerly, against this split."""
        if ranked is None:
            ranked = self.popularity_top_k(k)
        else:
            ranked = self._checked_popularity(ranked, k)
        recs_list = ranked.agg(F.collect_list(ITEM_COL).alias("recs"))
        return global_hit_ratio(self._part("validation"), recs_list, item_col=ITEM_COL)
