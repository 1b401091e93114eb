"""MovieLens end-to-end convenience pipeline — the reference's whole
workflow (new_split_script.py + popularity_model.py + als.py) behind one
API, so a user of the reference can switch by changing an import.

    from movie_recommendation_engine_spark.plans.movielens import MovieLensPipeline
    p = MovieLensPipeline.from_csv(spark, "ratings.csv")   # or from_df
    p.split()                  # deterministic 25/25/50 per user
    pop = p.popularity_top_k(100)
    p.fit_als(rank=100, max_iter=3, reg_param=0.15)        # reference config
    metrics = p.evaluate(k=100)  # RMSE + MAP@K + compat formulas

Every step is lazy/distributed; nothing collects to the driver except
the final metric scalars the caller asks for.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sampling import split_assign
from ..sources.readers import read_ratings_csv
from .metrics import (
    global_hit_ratio,
    per_user_ranking_metrics,
    summarize_ranking,
)
from .popularity import popularity_top_k
from .recommender import AlsRecommender

SPLIT_LABELS = frozenset({"train", "validation", "test"})

# Provenance stamp column written by the `popularity` verb (round-12
# advisory): a content fingerprint of the TRAIN SPLIT the table was
# fitted on, so `evaluate --popularity` can detect a table built from
# different ratings or a stale split — the quietest failure mode of
# artifact reuse (every shape check passes, the metric is silently
# wrong).  Same validation philosophy as from_labeled's label checks.
POPULARITY_FP_COL = "train_fp"


class InvalidArtifactError(ValueError):
    """A dataset handed back to the pipeline as a reused verb artifact
    (``--splits``, ``--popularity``) does not have the shape that verb
    writes.  Named so the failure surfaces at the reuse site instead of
    as an unattributed AnalysisException (or a silently wrong metric)
    deep inside a later verb; reference-flow parity: als.py:24-34 fails
    loudly when the splitter's files are absent."""


class InvalidSplitsError(InvalidArtifactError):
    """The ``--splits`` dataset is not the ``split`` verb's output —
    missing the ``split`` column or carrying labels outside
    train/validation/test."""


class InvalidPopularityError(InvalidArtifactError):
    """The ``--popularity`` table is not usable as the ``popularity``
    verb's output for the requested k — missing the item column, or
    wider than k with no score column to slice it deterministically."""


@dataclass
class MovieLensPipeline:
    ratings: DataFrame
    user_col: str = "userId"
    item_col: str = "movieId"
    rating_col: str = "rating"
    labeled: DataFrame | None = field(default=None, repr=False)
    als: AlsRecommender | None = field(default=None, repr=False)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, **kwargs) -> "MovieLensPipeline":
        return cls(read_ratings_csv(spark, path), **kwargs)

    @classmethod
    def from_labeled(cls, labeled: DataFrame, **kwargs) -> "MovieLensPipeline":
        """Build the pipeline from an ALREADY-SPLIT dataset — the output
        of ``plans.splitter.split_and_write`` (a parquet directory
        partitioned by ``split``) read back, mirroring the reference's
        own flow where als.py:24-34 consumes the three files the
        splitter wrote rather than re-splitting.  Skipping the re-split
        matters: the split is a full-corpus scan + per-user window, and
        a CLI run that chains popularity/als/evaluate over the same
        ratings would otherwise pay it once PER VERB (the round-9
        cache-leak fix removed the accidental cross-verb CacheManager
        reuse that used to hide exactly that — see unpersist()).  The
        read-back plan is a partition-pruned parquet scan instead.

        Deliberately NOT cached, unlike split(): caching would pin the
        filter above an InMemoryRelation, forcing one full scan of all
        three split partitions even for a train-only verb and blocking
        partition pruning from ever reaching the file scan.  A
        ``split=...`` read of a partitioned parquet dataset prunes at
        the source (PartitionFilters — pinned by
        test_cli_splits_reuse_reads_parquet), so each _part() call
        reads only its own partition's files; at 100 TB that is the
        difference between re-reading the corpus per verb and touching
        a quarter of it, and under a constrained heap it holds zero
        cache memory (split() keeps its cache because there the
        recompute is a full scan + per-user window, not a pruned
        read).

        Fails fast (``InvalidSplitsError``) if the dataset lacks a
        ``split`` column or its labels are not a subset of
        train/validation/test.  On the ``split`` verb's output ``split``
        is a partition column, so the distinct-labels probe reads
        partition values / parquet footers, not data pages; on a
        hand-built frame that carries ``split`` as a DATA column the
        probe is one column-pruned scan — still cheap, and a one-time
        cost at pipeline construction."""
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
            import sys

            print(
                f"warning: --splits dataset has no {sorted(missing)} "
                "rows — verbs evaluating on those splits will see empty "
                "data (partially-written split output?)",
                file=sys.stderr,
            )
        p = cls(labeled.drop("split"), **kwargs)
        p.labeled = labeled
        return p

    def split(self, fractions: dict[str, float] | None = None) -> DataFrame:
        """Deterministic per-user split (reference E3, hash-based).

        No-op if a split is already attached (``from_labeled``) and no
        override fractions are requested."""
        if self.labeled is not None and fractions is None:
            return self.labeled
        self.labeled = split_assign(
            self.ratings,
            group_col=self.user_col,
            key_cols=[self.user_col, self.item_col],
            fractions=fractions,
        ).cache()
        return self.labeled

    def unpersist(self) -> "MovieLensPipeline":
        """Release the cached split and any fitted factor caches.

        ``.cache()`` entries live in the session CacheManager until
        explicitly unpersisted — a pipeline used inside a LONG-LIVED
        session (the e2e registry query runs one per sweep; a notebook
        builds one per experiment) pins one more RDD per instance
        forever otherwise.  The round-9 six-sweep session soak measured
        exactly that: +1 persistent RDD and +0.7 MB storage per sweep,
        bisected to this split cache.  CLI verbs call this in a
        ``finally``; one-shot processes die with the JVM either way.

        Unpersisting also ENDED the accidental cross-verb cache
        coupling that round-9's fix exposed as a ~1.7x e2e regression:
        verbs no longer inherit each other's split RDD through the
        CacheManager, so cross-verb reuse is now EXPLICIT — write the
        split once (the ``split`` verb / ``split_and_write``) and hand
        it to later verbs via ``from_labeled`` (CLI: ``--splits``),
        the reference's own pipeline shape (als.py:24-34)."""
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
            item_col=self.item_col,
            user_col=self.user_col,
            rating_col=self.rating_col,
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
            F.col(self.user_col).cast("long"),
            F.col(self.item_col).cast("long"),
            F.col(self.rating_col).cast("double"),
        )
        return self._part("train").agg(
            F.concat_ws(
                ":",
                F.lit("xxh64v1"),
                F.count("*"),
                F.sum(h.cast("decimal(38,0)")),
            ).alias(POPULARITY_FP_COL)
        )

    @staticmethod
    def _rows_fingerprint(table: DataFrame, item_col: str) -> DataFrame:
        """One-row content fingerprint of an exported popularity table's
        (item, score) rows: row count + exact decimal sum of a per-row
        xxhash64 over (item as long, score in integer micro-units).
        Scores are det_round(…, 6) doubles, so the 1e6 scaling is an
        exact integer and the fingerprint survives any storage
        round-trip that preserves 6 dp.  Folded into the provenance
        stamp (round-14, r12 verdict item 4) so an IN-PLACE score edit
        under an intact train stamp is caught — the stamp now proves
        integrity of the exported ranking, not just provenance."""
        return table.agg(
            MovieLensPipeline._rows_fp_expr(item_col).alias("__rows_fp")
        )

    @staticmethod
    def _rows_fp_expr(item_col: str):
        """The aggregate expression behind ``_rows_fingerprint`` — also
        folded into ``validate_popularity``'s existing table-side job so
        the integrity check costs no extra scan."""
        h = F.xxhash64(
            F.col(item_col).cast("long"),
            F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long"),
        )
        return F.concat_ws(
            ":",
            F.lit("rows"),
            F.count("*"),
            F.coalesce(F.sum(h.cast("decimal(38,0)")).cast("string"), F.lit("0")),
        )

    def popularity_table(self, k: int = 100) -> DataFrame:
        """``popularity_top_k`` plus the provenance stamp column — what
        the ``popularity`` CLI verb writes.  The stamp is attached via a
        broadcast one-row aggregate (no driver collect), so the verb
        stays one lazy plan; k rows make the constant column free.

        Stamp format (v2, round-14): ``<train_fp>|<rows_fp>`` — the
        train-split fingerprint plus a fingerprint of the exported
        (item, score) rows themselves, so ``validate_popularity``
        catches both a table fitted on different ratings AND a table
        whose scores were edited in place under an intact train stamp
        (the round-12 caveat-emptor gap, closed)."""
        from ..operators.relational import with_scalars

        # the top-k feeds both the rows-fingerprint aggregate and the
        # output rows; k rows, so the truncation is free and the scored
        # subtree computes once
        top = self.popularity_top_k(k).localCheckpoint(eager=False)
        stamp = self.train_fingerprint().crossJoin(
            F.broadcast(self._rows_fingerprint(top, self.item_col))
        ).select(
            F.concat_ws("|", F.col(POPULARITY_FP_COL), F.col("__rows_fp")).alias(
                POPULARITY_FP_COL
            )
        )
        return with_scalars(top, stamp)

    def validate_popularity(self, ranked: DataFrame, k: int = 100) -> DataFrame:
        """Validate a reused ``popularity`` verb table against this
        pipeline's split and the requested k; returns the table ready
        for scoring (sliced to k if written wider, provenance column
        dropped).  Raises ``InvalidPopularityError`` on any violation.

        Checks, in cost order:
        - the item column exists (schema);
        - provenance + integrity: if the table carries
          ``POPULARITY_FP_COL``, its train part must equal
          ``train_fingerprint()`` recomputed on THIS pipeline's train
          split — a table fitted on different ratings or a stale split
          fails here instead of silently scoring the wrong ranking —
          and (stamp v2, round-14) its rows part must equal the
          (item, score) fingerprint recomputed over the table as read,
          so a score column edited IN PLACE under an intact train
          stamp fails by name too (the r12 caveat-emptor gap, closed).
          An UNSTAMPED table (pre-round-12, or hand-built) warns on
          stderr and is trusted — reference parity:
          popularity_model.py:59-77 trusts its own in-session list;
        - k-contract: wider-than-k tables are sliced by (score desc,
          item asc) — exactly ``popularity_top_k``'s ordering — or
          refused when no score column makes the slice deterministic;
          under-k tables warn (indistinguishable from the refit's own
          count-floor truncation).

        The returned DataFrame is tagged so ``popularity_hit_ratio``
        skips re-validation (the fingerprint check costs a train scan;
        CLI evaluate validates PRE-FIT and must not pay it twice).
        """
        import sys

        if self.item_col not in ranked.columns:
            raise InvalidPopularityError(
                f"popularity table lacks the item column "
                f"{self.item_col!r} (got {ranked.columns}) — point "
                "--popularity at the `popularity` verb's output directory"
            )
        stamped = None
        if POPULARITY_FP_COL in ranked.columns:
            # one table-side job: stamp values + row count + (when the
            # score column is present) the recomputed rows fingerprint,
            # all together (the table is a top-k export, small by
            # construction); the train fingerprint is its own job (a
            # train scan) either way
            aggs = [
                F.collect_set(POPULARITY_FP_COL).alias("fps"),
                F.count("*").alias("n"),
            ]
            has_score = "score" in ranked.columns
            if has_score:
                aggs.append(self._rows_fp_expr(self.item_col).alias("rows_fp"))
            row = ranked.agg(*aggs).collect()[0]
            stamped, n = sorted(row["fps"]), row["n"]
            if stamped:  # a 0-row table carries no stamp VALUES: nothing
                # to verify (it is the verb's own legitimate output when
                # the count floor leaves no items) — fall through to the
                # under-k warn rather than claiming a provenance mismatch
                expect = self.train_fingerprint().collect()[0][0]
                # stamp v2 is "<train_fp>|<rows_fp>"; v1 (pre-round-14)
                # is the bare train fingerprint — still accepted, with
                # provenance checked and integrity uncheckable
                train_parts = sorted({s.split("|", 1)[0] for s in stamped})
                if train_parts != [expect]:
                    raise InvalidPopularityError(
                        "popularity table provenance mismatch: stamped "
                        f"train fingerprint {train_parts} != this split's "
                        f"{expect!r} — the table was fitted on different "
                        "ratings or a stale split; re-run the `popularity` "
                        "verb against the current --splits/--ratings"
                    )
                rows_parts = sorted(
                    {s.split("|", 1)[1] for s in stamped if "|" in s}
                )
                if rows_parts and has_score:
                    if rows_parts != [row["rows_fp"]]:
                        raise InvalidPopularityError(
                            "popularity table integrity mismatch: stamped "
                            f"(item, score) fingerprint {rows_parts} != the "
                            f"table's recomputed {row['rows_fp']!r} — the "
                            "exported rows were edited after the "
                            "`popularity` verb wrote them; re-run the verb"
                        )
                elif rows_parts:
                    # stamped v2 but the score column was stripped: the
                    # rows fingerprint cannot be recomputed.  Warn, don't
                    # raise — the k-contract check below gives the
                    # actionable named error for the scoreless case
                    print(
                        "warning: --popularity table carries a rows "
                        "fingerprint but no score column — integrity "
                        "unchecked (columns were subset after the verb "
                        "wrote the table)",
                        file=sys.stderr,
                    )
            ranked = ranked.drop(POPULARITY_FP_COL)
        else:
            print(
                "warning: --popularity table carries no train_fp "
                "provenance stamp (written before round 12, or "
                "hand-built) — provenance unchecked; a table from "
                "different ratings would silently yield a wrong "
                "hit-ratio",
                file=sys.stderr,
            )
            # one count up front: the row count decides both k guards
            n = ranked.count()
        if n > k:
            if "score" not in ranked.columns:
                raise InvalidPopularityError(
                    f"popularity table has {n} rows (> k={k}) and no "
                    "score column to slice it — it was written at a "
                    "larger --k; re-run evaluate with the matching --k "
                    "or pass the verb's full output (which carries score)"
                )
            ranked = ranked.orderBy(
                F.col("score").desc(), F.col(self.item_col).asc()
            ).limit(k)
        elif n < k:
            # accepted (indistinguishable from the refit's own
            # threshold truncation) but worth a trace: a table
            # written at a SMALLER --k silently deflates the metric
            print(
                f"warning: --popularity table has {n} rows for "
                f"k={k} — if it was written at a smaller --k the "
                "hit-ratio covers fewer recommendations than a "
                "refit would",
                file=sys.stderr,
            )
        # trust tag is keyed to THIS pipeline, not just k: a table
        # validated by a different pipeline (different ratings/split)
        # must re-validate here, or the provenance check it was added
        # for is skippable by handing the tagged frame across pipelines
        ranked._mres_popularity_validated = (self, k)
        return ranked

    def fit_als(
        self, rank: int = 100, max_iter: int = 3, reg_param: float = 0.15, **kwargs
    ) -> AlsRecommender:
        """ALS on the train split with the reference's defaults
        (als.py:36-46)."""
        self.als = AlsRecommender(
            user_col=self.user_col,
            item_col=self.item_col,
            rating_col=self.rating_col,
            rank=rank,
            max_iter=max_iter,
            reg_param=reg_param,
            **kwargs,
        ).fit(self._part("train"))
        return self.als

    def load_als(self, path: str) -> AlsRecommender:
        """Attach a model saved by an earlier ``fit_als(...).save_model``
        run instead of refitting — the evaluate-after-train path (the
        CLI's ``als --save-model`` / ``evaluate --model-dir`` pair)."""
        self.als = AlsRecommender(
            user_col=self.user_col,
            item_col=self.item_col,
            rating_col=self.rating_col,
        ).load_model(path)
        return self.als

    def evaluate(self, k: int = 100, on: str = "validation") -> dict[str, DataFrame]:
        """RMSE + distributed ranking metrics of the fitted ALS model on a
        held-out split (reference als.py:93-133, kept distributed)."""
        assert self.als is not None, "call fit_als() first"
        held = self._part(on)
        truth = held.groupBy(self.user_col).agg(
            F.collect_set(self.item_col).alias("truth")
        )
        recs = self.als.recommendation_lists(k=k)
        per_user = per_user_ranking_metrics(recs, truth, k=k, user_col=self.user_col)
        return {
            "rmse": self.als.evaluate_rmse(held),
            "ranking": summarize_ranking(per_user),
        }

    def popularity_hit_ratio(
        self, k: int = 100, on: str = "validation", ranked: DataFrame | None = None
    ) -> DataFrame:
        """The reference's global row-level hit-ratio for the popularity
        list (popularity_model.py:65-77 semantics, distributed).

        Pass ``ranked`` (the ``popularity`` verb's written table, CLI:
        ``evaluate --popularity DIR``) to score an already-materialized
        top-k instead of refitting it from the train split — the same
        write-once-reuse shape as ``from_labeled``/``--splits``; at
        scale the refit is a full train aggregate per evaluate run.

        Validation (shape, provenance stamp, k-contract) is
        ``validate_popularity``'s — it runs here unless the caller
        already validated this exact table at this k (the CLI's
        evaluate validates PRE-FIT so a bad table cannot cost the ALS
        fit first; re-validating would pay the provenance train scan
        twice per evaluate)."""
        if ranked is None:
            ranked = self.popularity_top_k(k)
        else:
            tag = getattr(ranked, "_mres_popularity_validated", None)
            if not (tag is not None and tag[0] is self and tag[1] == k):
                ranked = self.validate_popularity(ranked, k)
        recs_list = ranked.agg(F.collect_list(self.item_col).alias("recs"))
        return global_hit_ratio(self._part(on), recs_list, item_col=self.item_col)
