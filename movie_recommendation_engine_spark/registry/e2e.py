"""The reference's ENTIRE workflow as one composition-gated query.

``movielens_e2e_cli`` drives the actual CLI verbs (``__main__.py`` —
split / popularity / als / evaluate, the commands a reference user runs
after switching engines) over ratings-shaped data derived from the
testdata star schema, then folds the artifacts every verb produced into
one summary row the DuckDB oracle can recompute end-to-end:

- ratings built as (userId=l_orderkey, movieId=l_partkey,
  rating=max(l_quantity)) — deduped so (user, item) is a unique key,
  the MovieLens layout (reference als.py:24-26) — written through the
  engine's own CSV sink and read back through its CSV source (S1/S4
  round-trip);
- ``split`` writes the partitioned 25/25/50 dataset (reference
  new_split_script.py semantics, E3) — the oracle replays the content-
  hash split in SQL and checks all three partition counts;
- ``popularity`` writes the weighted top-k table (reference
  popularity_model.py, E1) — the oracle recomputes k, the member-id
  checksum and the exact 6-dp score sum;
- ``als`` writes top-5 recommendations for every trained user
  (reference als.py:96, E2) — the oracle pins the servable-user count
  (= distinct train users) and the k-per-user contract;
- ``evaluate`` emits the metrics JSON line (reference als.py:103-133)
  — the popularity hit-ratio is deterministic and value-checked; the
  MLlib RMSE / MAP@K are float-model outputs checked as invariants
  (finite, <= 2x the train-mean baseline, in [0, 1]).

The row collapses bounded scalars (counts, checksums, booleans) — the
same final-scalar contract as the CLI itself; every heavy step ran
distributed inside the verbs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.dedup import minhash_lsh_edges
from ..operators.graph import dedup_canonical
from ..operators.sampling import mixture_sample
from ..operators.text import filter_funnel_verdicts, normalize_text, ws_token_count
from ..session import run_concurrently
from . import _t, duck_hash_sql, register

_H_ML = duck_hash_sql("split", "userId", "movieId")

_E2E_ORACLE = f"""
WITH ratings AS (
  SELECT l_orderkey AS userId, l_partkey AS movieId,
         CAST(max(l_quantity) AS DOUBLE) AS rating
  FROM lineitem GROUP BY 1, 2),
labeled AS (
  SELECT userId, movieId, rating,
         CASE WHEN row_number() OVER (PARTITION BY userId
                  ORDER BY {_H_ML}, userId, movieId)
                  <= ceil(count(*) OVER (PARTITION BY userId) * 0.25) THEN 'validation'
              WHEN row_number() OVER (PARTITION BY userId
                  ORDER BY {_H_ML}, userId, movieId)
                  <= ceil(count(*) OVER (PARTITION BY userId) * 0.50) THEN 'test'
              ELSE 'train' END AS split
  FROM ratings),
counts AS (
  SELECT count(*) AS n_ratings,
         count(*) FILTER (WHERE split = 'train') AS n_train,
         count(*) FILTER (WHERE split = 'validation') AS n_validation,
         count(*) FILTER (WHERE split = 'test') AS n_test
  FROM labeled),
train AS (SELECT * FROM labeled WHERE split = 'train'),
val AS (SELECT * FROM labeled WHERE split = 'validation'),
per_item AS (
  SELECT movieId, avg(rating) AS avg_rating, count(userId) AS num_ratings
  FROM train GROUP BY 1),
scalars AS (
  SELECT CAST(sum(CAST(avg_rating AS DECIMAL(28,18))) AS DOUBLE) / count(*) AS gm,
         quantile_cont(num_ratings, 0.9) AS f
  FROM per_item),
scored AS (
  SELECT movieId,
         (floor(((num_ratings/(num_ratings+f))*avg_rating
                 + (f/(f+num_ratings))*gm) * 1000000 + 0.5) / 1000000) AS score
  FROM per_item, scalars WHERE num_ratings >= f
  ORDER BY score DESC, movieId LIMIT 100),
pop AS (
  SELECT count(*) AS pop_k,
         CAST(sum(movieId) AS BIGINT) AS pop_items_sum,
         CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS pop_score_sum
  FROM scored),
recs AS (SELECT list(movieId ORDER BY score DESC, movieId) AS items FROM scored),
hit AS (
  SELECT (floor(avg(CASE WHEN list_contains(items, movieId) THEN 1.0 ELSE 0.0 END)
                * 1000000 + 0.5) / 1000000) AS pop_hit_ratio
  FROM val, recs),
served AS (SELECT count(DISTINCT userId) AS rec_users FROM train)
SELECT counts.n_ratings, counts.n_train, counts.n_validation, counts.n_test,
       pop.pop_k, pop.pop_items_sum, pop.pop_score_sum,
       hit.pop_hit_ratio,
       served.rec_users,
       true AS rec_rows_ok,
       true AS als_rmse_finite_ok,
       true AS als_rmse_le_2x_baseline_ok,
       true AS als_map_in_range_ok
FROM counts, pop, hit, served
"""


@register("movielens_e2e_cli", oracle=_E2E_ORACLE)
def q_movielens_e2e_cli(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..__main__ import main

    from . import staging_dir

    def cli_main(argv: list[str]) -> int:
        # a verb reports a bad artifact as the CLI's SystemExit; a query
        # raises an Exception, which a sweep records and moves past
        try:
            return main(argv)
        except SystemExit as ex:
            raise RuntimeError(f"movielens CLI verb {argv[0]}: {ex}") from ex

    scratch = staging_dir("e2e", sf_dir)
    csv_path = os.path.join(scratch, "ratings_csv")
    split_dir = os.path.join(scratch, "splits")
    pop_dir = os.path.join(scratch, "popularity")
    recs_dir = os.path.join(scratch, "recs")
    model_dir = os.path.join(scratch, "model")

    # ratings-shaped input through the engine's OWN CSV sink: dedupe to
    # the MovieLens unique (user, movie) key; column order matches
    # RATINGS_SCHEMA (CSV with an explicit schema binds positionally)
    from ..sources.writers import write_csv

    li = _t(spark, sf_dir, "lineitem")
    ratings = (
        li.groupBy(
            F.col("l_orderkey").cast("int").alias("userId"),
            F.col("l_partkey").cast("int").alias("movieId"),
        )
        .agg(F.max("l_quantity").cast("float").alias("rating"))
        .withColumn("timestamp", F.lit(0).cast("long"))
    )
    write_csv(ratings, csv_path)

    # the four CLI verbs, exactly as a reference user invokes them.
    # rank=8/maxIter=4 is the smallest config that reliably clears the
    # rmse <= 2x train-mean-baseline invariant on this synthetic corpus
    # (rank=4/maxIter=2 underfits past it) — do not shrink further for
    # bench time.  Round 14: the als verb now fits ONCE at that config
    # and exports k=5 from it (`--save-model`), and evaluate reuses the
    # saved model (`--model-dir`) instead of refitting — the CLI's own
    # fit-once-serve-anywhere flow, measured faster back in round 8
    # (evaluate-with-load 14.7 s vs refit 21.2 s at sf0.1 local[32];
    # loaded-model top-k routes through the Arrow/BLAS kernel,
    # operators/similarity.arrow_dot_topk).  The gated output row is
    # unchanged: rec_users/rec_rows_ok check the served-user COUNT and
    # k-per-user shape (identical for any rank — every train user gets
    # factors), and the rank-8 metrics feed the same invariant booleans
    # the refit produced.  (Round 6 had measured the MLlib blocked
    # cross LOSING on loaded parquet-backed factors, 116.6 s vs
    # 52.5 s — that was the pre-Arrow-kernel serving path.)
    # downstream verbs read the split verb's partitioned parquet
    # (--splits) instead of re-splitting from CSV per verb — the
    # reference's own flow (als.py:24-34 reads the splitter's files).
    # Labels are content-hash deterministic, so the oracle and the
    # gate hash are unchanged; what changes is 3 redundant full-scan +
    # per-user-window jobs becoming partition-pruned parquet scans
    # (round-9 judge defect #1: the cache-leak fix exposed the
    # re-splits as a ~1.7x e2e regression).
    cli_main(["split", "--ratings", csv_path, "--out", split_dir])
    # popularity and als are INDEPENDENT consumers of the split verb's
    # output (the evaluate verb below needs both artifacts) — run the
    # two verbs concurrently (guide §2.6: Spark's scheduler runs jobs
    # from several driver threads, FIFO back-fill) so the popularity
    # aggregate's tasks fill the cores the ALS fit's many small
    # iteration barriers leave idle.  Each verb builds its own pipeline
    # over its own parquet read; job descriptions are thread-local.
    # Overlapped, the verb pair costs ~max of the two instead of their
    # sum (per-verb timings in OPTIMIZATION_r14.md).
    run_concurrently(
        spark, "e2e-verbs",
        partial(cli_main, ["popularity", "--splits", split_dir, "--k", "100", "--out", pop_dir]),
        partial(cli_main, ["als", "--splits", split_dir, "--rank", "8", "--max-iter", "4",
                           "--reg", "0.1", "--k", "5", "--save-model", model_dir,
                           "--out", recs_dir]),
    )
    # evaluate reuses ALL THREE upstream artifacts: the split verb's
    # partitioned parquet (--splits, round 10), the popularity verb's
    # top-100 table (--popularity, round 11 — without it the hit-ratio
    # refits the popularity aggregate over the whole train split per
    # evaluate run), and the als verb's saved model (--model-dir,
    # round 14 — without it evaluate refits the whole ALS model).
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli_main(
            ["evaluate", "--splits", split_dir, "--popularity", pop_dir,
             "--model-dir", model_dir, "--k", "100"]
        )
    metrics = json.loads(buf.getvalue().strip().splitlines()[-1])

    # fold the verb artifacts into the summary row.  The four fold-up
    # aggregates are independent small jobs over different artifacts;
    # run them concurrently so each job's straggler tail is
    # back-filled by the next one's tasks (guide-§2.6 overlap).  The
    # three independent plans are built up front on this thread; the
    # dependent base-RMSE pair (mu collect -> scored_val aggregate) is
    # inherently sequential, so it builds AND runs inside its own
    # thread (py4j plan construction is thread-safe).
    labeled = spark.read.parquet(split_dir)
    counts_plan = labeled.groupBy("split").agg(F.count("*").alias("n"))
    pop_plan = spark.read.parquet(pop_dir).agg(
        F.count("*").alias("pop_k"),
        F.sum("movieId").alias("pop_items_sum"),
        F.sum(F.col("score").cast("decimal(18,6)")).cast("double").alias("pop_score_sum"),
    )
    recs = spark.read.parquet(recs_dir)
    rec_stats_plan = recs.groupBy("userId").agg(F.count("*").alias("n")).agg(
        F.count("*").alias("rec_users"),
        F.expr("bool_and(n = 5)").alias("rec_rows_ok"),
    )

    # ALS invariant baseline: train-global-mean RMSE on the same scored
    # subset the model was evaluated on (validation rows whose user AND
    # item appear in train == coldStartStrategy='drop').  mu -> base_rmse
    # is a dependent pair, so it runs as one sequential task.
    train = labeled.filter(F.col("split") == "train")
    val = labeled.filter(F.col("split") == "validation")

    def _base_rmse():
        mu = train.agg(
            (F.sum(F.col("rating").cast("decimal(28,6)")).cast("double") / F.count("*"))
        ).collect()[0][0]
        scored_val = val.join(
            train.select("userId").distinct(), "userId"
        ).join(train.select("movieId").distinct(), "movieId")
        return scored_val.agg(
            F.sqrt(F.avg(F.pow(F.col("rating") - F.lit(mu), 2)))
        ).collect()[0][0]

    counts, pop, rec_stats, base_rmse = run_concurrently(
        spark, "e2e-fold", counts_plan.collect, lambda: pop_plan.collect()[0],
        lambda: rec_stats_plan.collect()[0], _base_rmse,
    )
    counts = {r["split"]: r["n"] for r in counts}

    rmse, map_at_k = float(metrics["rmse"]), float(metrics["map_at_k"])
    shutil.rmtree(scratch, ignore_errors=True)
    row = (
        int(counts["train"] + counts["validation"] + counts["test"]),
        int(counts["train"]), int(counts["validation"]), int(counts["test"]),
        int(pop["pop_k"]), int(pop["pop_items_sum"]), float(pop["pop_score_sum"]),
        float(metrics["popularity_hit_ratio"]),
        int(rec_stats["rec_users"]), bool(rec_stats["rec_rows_ok"]),
        bool(rmse == rmse and rmse > 0),
        bool(rmse <= 2.0 * base_rmse),
        bool(0.0 <= map_at_k <= 1.0),
    )
    return spark.createDataFrame(
        [row],
        "n_ratings long, n_train long, n_validation long, n_test long, "
        "pop_k long, pop_items_sum long, pop_score_sum double, "
        "pop_hit_ratio double, rec_users long, rec_rows_ok boolean, "
        "als_rmse_finite_ok boolean, als_rmse_le_2x_baseline_ok boolean, "
        "als_map_in_range_ok boolean",
    )


# ---- corpus curation end-to-end ------------------------------------------

from .text import FUNNEL_VERDICTS_SQL, NORM, WORDS  # noqa: E402
from .dedup import CLOSURE, MINHASH_EDGES, SHINGLES  # noqa: E402

_CUR_W = {"en": 4, "de": 1, "es": 1, "fr": 1}
_CUR_W_SQL = ", ".join(f"('{k}', {w})" for k, w in sorted(_CUR_W.items()))
_H_CUR = duck_hash_sql("mix", "doc_id")

_CURATION_ORACLE = f"""
WITH RECURSIVE {FUNNEL_VERDICTS_SQL},
e1 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.lang
  FROM documents d JOIN v USING (doc_id) WHERE v.reason = 'kept'),
efp AS (SELECT doc_id, text, lang, md5({NORM}) AS fp FROM e1),
e2 AS MATERIALIZED (
  SELECT doc_id, text, lang FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM efp)
  WHERE doc_id = keep_id),
{SHINGLES.replace("FROM documents", "FROM e2")},
{MINHASH_EDGES},
{CLOSURE},
e3 AS MATERIALIZED (
  SELECT e2.doc_id, e2.text, e2.lang
  FROM e2 LEFT JOIN comp c USING (doc_id)
  WHERE coalesce(c.component, e2.doc_id) = e2.doc_id),
wts AS (SELECT * FROM (VALUES {_CUR_W_SQL}) w(lang, w)),
cnts AS (SELECT lang, count(*) AS n FROM e3
         WHERE lang IN (SELECT lang FROM wts) GROUP BY 1),
mm AS (SELECT min(coalesce(n, 0) // w) AS m FROM wts LEFT JOIN cnts USING (lang)),
ranked AS (
  SELECT doc_id, text, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {_H_CUR}, doc_id) AS rn
  FROM e3 WHERE lang IN (SELECT lang FROM wts)),
e4 AS MATERIALIZED (
  SELECT r.doc_id, r.text, r.lang
  FROM ranked r JOIN wts USING (lang), mm WHERE rn <= w * m),
tok AS (SELECT doc_id, len({WORDS}) AS n_tok FROM e4)
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM e1) AS n_funnel_kept,
  (SELECT count(*) FROM e2) AS n_exact_kept,
  (SELECT count(*) FROM e3) AS n_neardup_kept,
  (SELECT count(*) FROM e4) AS n_sampled,
  (SELECT CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM e4) AS sampled_id_sum,
  (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM tok) AS sampled_tokens,
  (SELECT CAST((coalesce(sum(n_tok), 0) + 511) // 512 AS BIGINT) FROM tok)
    AS n_bins_512,
  (SELECT md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id),
                       '')) FROM e4) AS sampled_ids_md5
"""


@register("corpus_curation_e2e", oracle=_CURATION_ORACLE)
def q_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM training-data curation pipeline END TO END as one gated
    row: quality filter funnel -> exact dedup -> MinHash-LSH near-dedup
    (components, canonical-only) -> target-mixture sampling (en:de:es:fr
    = 4:1:1:1) -> 512-token sequence-packing accounting.  Every stage is
    independently oracle-gated elsewhere; this row gates their
    COMPOSITION — stage counts, the sampled-id sum AND the md5 of the
    exact sampled id list, so one wrong document anywhere in the chain
    flips the hash.  Each stage output is localCheckpointed: consumed
    by both the next stage and its own count, computed once."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    v = filter_funnel_verdicts(docs, "doc_id", "text")
    e1 = docs.join(
        v.filter(F.col("reason") == "kept").select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    fp = e1.withColumn("__fp", F.md5(normalize_text("text")))
    e2 = (
        fp.withColumn(
            "__keep", F.min("doc_id").over(Window.partitionBy("__fp"))
        )
        .filter(F.col("doc_id") == F.col("__keep"))
        .select("doc_id", "text", "lang")
        .localCheckpoint(eager=False)
    )
    edges = minhash_lsh_edges(e2, "doc_id", "text", n=2, threshold=0.5)
    canon = dedup_canonical(e2, edges)
    e3 = e2.join(
        canon.filter(F.col("is_canonical")).select("doc_id"), "doc_id"
    ).localCheckpoint(eager=False)
    e4 = mixture_sample(e3, "lang", ["doc_id"], _CUR_W).localCheckpoint(eager=False)
    toks = e4.select("doc_id", ws_token_count("text").cast("long").alias("n_tok"))

    def one(df, *aggs):
        return F.broadcast(df.agg(*aggs))

    ids_md5 = F.md5(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ),
            F.lit(""),
        )
    )
    return (
        one(docs, F.count("*").alias("n_docs"))
        .crossJoin(one(e1, F.count("*").alias("n_funnel_kept")))
        .crossJoin(one(e2, F.count("*").alias("n_exact_kept")))
        .crossJoin(one(e3, F.count("*").alias("n_neardup_kept")))
        .crossJoin(
            one(
                e4,
                F.count("*").alias("n_sampled"),
                F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias("sampled_id_sum"),
                ids_md5.alias("sampled_ids_md5"),
            )
        )
        .crossJoin(
            one(
                toks,
                F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("sampled_tokens"),
                F.expr("CAST((coalesce(sum(n_tok), 0) + 511) DIV 512 AS BIGINT)").alias(
                    "n_bins_512"
                ),
            )
        )
        .select(
            "n_docs",
            "n_funnel_kept",
            "n_exact_kept",
            "n_neardup_kept",
            "n_sampled",
            "sampled_id_sum",
            "sampled_tokens",
            "n_bins_512",
            "sampled_ids_md5",
        )
    )
