"""Dedup queries over the documents table — each of the five techniques
as an oracle-checked query.

The testdata plants 25 near-duplicate pairs (word-bigram Jaccard >= 0.5,
max 0.99); the n-gram, MinHash-LSH and SimHash queries each surface
them through different machinery.  Exact dedup runs over a doubled
corpus (documents UNION ALL documents — simulating a re-crawl) so the
collapse behavior is actually exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import uniform_hash
from ..functions.rounding import det_round
from ..operators.dedup import (
    LSH_MAX_BUCKET,
    cross_split_contamination,
    exact_dedup,
    minhash_lsh_edges,
    minhash_lsh_pairs,
    prefix_filtered_jaccard_pairs,
    simhash_edges,
    simhash_pairs,
)
from ..operators.graph import dedup_canonical
from ..operators.relational import with_scalars
from .text import NORM, WORDS
from . import _t, duck_hash_sql, register

# shared DuckDB fragments: distinct word-bigram shingles per doc
SHINGLES = f"""
base AS (SELECT doc_id, {WORDS} AS w FROM documents),
sh AS (SELECT doc_id,
              list_distinct([array_to_string(w[i:i+1], ' ')
                             for i in generate_series(1, greatest(len(w)-1, 1))]) AS s
       FROM base),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, len(s) AS sz FROM sh)
"""

# connected components of the verified `pairs` as a transitive closure
# (the query opens WITH RECURSIVE), and every document's canonical id —
# the SQL side of operators.graph.dedup_canonical
CLOSURE = """edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src)"""
CANONICAL = """SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       (coalesce(c.component, d.doc_id) = d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
ORDER BY d.doc_id"""


@register(
    "dedup_exact",
    oracle=f"""
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
SELECT min(doc_id) AS doc_id, md5({NORM}) AS fingerprint, count(*) AS n_copies
FROM doubled
GROUP BY md5({NORM})
ORDER BY doc_id
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a doubled corpus: every doc collapses 2 -> 1.
    The shuffle key is the md5 fingerprint, never the document body."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled, "doc_id", "text").orderBy("doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {SHINGLES},
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       (floor((c * 1.0 / (sa.sz + sb.sz - c)) * 1000000 + 0.5) / 1000000) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE (floor((c * 1.0 / (sa.sz + sb.sz - c)) * 1000000 + 0.5) / 1000000) >= 0.5
ORDER BY id_a, id_b
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin)
    — finds the 25 planted pairs, same output as the naive inverted-
    index count path (pytest equality witness:
    test_prefix_filter_equals_bruteforce).

    Why this plan is the gated one: the naive path's candidate join is
    O(sum df^2) over shingle document frequencies — on a Zipfian
    100 TB corpus that detonates.  The prefix index keeps only each
    doc's rarest s - ceil(t*s) + 1 tokens with guaranteed recall, so
    the fan-out tracks the RARE end of the vocabulary.  Even on this
    adversarial corpus (931-bigram uniform-df vocab, where prefix
    pruning is weakest: index sum df^2 only drops 73.2M -> 33.2M) the
    optimized prefix plan with PPJoin positional/length pruning
    measures ~4-5 s warm at sf0.1 vs 14.8 s naive; on real corpora the
    gap widens with scale.  The banded scale path remains
    dedup_minhash_lsh (~6 s)."""
    docs = _t(spark, sf_dir, "documents")
    return prefix_filtered_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.5
    ).orderBy("id_a", "id_b")


# MinHash LSH front end (shared by the pair and star-edge pipelines):
# shingle-hash once, affine rehash, band.
MINHASH_BANDS = """
hg AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(concat_ws(chr(1), 'mh', g)), 1, 8)) AS BIGINT) AS h
  FROM ex),
sig AS (
  SELECT doc_id, s.range AS seed,
         min(((2 * s.range + 1) * h + 98765 * s.range + 12345) % 2147483647) AS m
  FROM hg, range(16) s GROUP BY doc_id, s.range),
bands AS (
  SELECT doc_id, CAST(floor(seed / 2) AS INT) AS b,
         md5(concat_ws(chr(1), CAST(CAST(floor(seed / 2) AS INT) AS VARCHAR),
             string_agg(CAST(m AS VARCHAR), chr(1) ORDER BY seed))) AS band
  FROM sig GROUP BY doc_id, floor(seed / 2))
"""

# exact-Jaccard verification of (id_a, id_b) candidates — shared tail
_MINHASH_VERIFY = """
pairs AS (
  SELECT id_a, id_b,
         (floor((len(list_intersect(sa.s, sb.s)) * 1.0 /
               (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))) * 1000000 + 0.5) / 1000000) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
  WHERE (floor((len(list_intersect(sa.s, sb.s)) * 1.0 /
              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))) * 1000000 + 0.5) / 1000000) >= 0.5)
"""

# pair pipeline: bucket-join candidates capped at the operator's
# LSH_MAX_BUCKET smallest ids per bucket, exact-Jaccard verify — mirrors
# minhash_lsh_pairs
MINHASH_PAIRS = f"""{MINHASH_BANDS},
bandsc AS (
  SELECT doc_id, band FROM (
    SELECT doc_id, band,
           row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn
    FROM bands)
  WHERE rn <= {LSH_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandsc a JOIN bandsc b ON a.band = b.band AND a.doc_id < b.doc_id),
{_MINHASH_VERIFY}"""

# star-edge pipeline: each bucket emits (bucket-min, member) edges —
# linear per bucket — then the same verify; mirrors minhash_lsh_edges
MINHASH_EDGES = f"""{MINHASH_BANDS},
bmin AS (SELECT band, min(doc_id) AS mid FROM bands GROUP BY band),
cand AS (
  SELECT DISTINCT m.mid AS id_a, b.doc_id AS id_b
  FROM bands b JOIN bmin m ON b.band = m.band AND b.doc_id > m.mid),
{_MINHASH_VERIFY}"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {SHINGLES},
{MINHASH_PAIRS}
SELECT id_a, id_b, jaccard FROM pairs
ORDER BY id_a, id_b
""",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 8 bands of 2 -> capped candidates -> exact-Jaccard
    verify.  The default max_bucket=LSH_MAX_BUCKET bounds the
    within-bucket self-join against duplicate-clique corpora
    (tools/dup_clique_probe.py); the oracle embeds the identical cap."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=2, threshold=0.5).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {SHINGLES},
{MINHASH_EDGES},
{CLOSURE}
{CANONICAL}
""",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs collapsed to clusters: connected components over
    the MinHash-LSH Jaccard>=0.5 STAR-EDGE graph (join-based min-label
    propagation), every doc mapped to its canonical (min-id)
    representative.  Edges come from minhash_lsh_edges — per-bucket
    stars to the bucket minimum, linear where the all-pairs bucket
    join is quadratic on a duplicate clique — and the
    star reaches exactly the same components wherever bucket-mates
    share their threshold relation through the minimum.  The oracle
    recomputes components from the SAME star edges via a recursive
    transitive-closure CTE — two entirely different closure algorithms
    agreeing exactly."""
    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_edges(docs, "doc_id", "text", n=2, threshold=0.5)
    return dedup_canonical(docs, edges).orderBy("doc_id")


# 60-bit SimHash fingerprint per doc (integer vote arithmetic —
# bit-identical to operators.dedup.simhash_fingerprint), shared by the
# pair and star-edge pipelines
SIMHASH_FP = """hb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(concat_ws(chr(1), 'sh', g)), 1, 15)) AS BIGINT) AS h
  FROM ex),
votes AS (
  SELECT doc_id, CAST(b.range AS INT) AS bit,
         sum(CASE WHEN (h >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hb, range(60) b GROUP BY 1, 2),
fp AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS f
  FROM votes GROUP BY doc_id)"""


@register(
    "dedup_simhash",
    oracle=f"""
WITH {SHINGLES},
{SIMHASH_FP}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.f, b.f)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= 3
ORDER BY id_a, id_b
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash, pairs within Hamming distance 3 — the wide-
    fingerprint/small-radius regime (Manku et al. 2007).  Not 32/6:
    at 32 bits, CHANCE Hamming-<=6 collisions between
    unrelated documents (P ~ 2.6e-4 per pair) made both the candidate
    volume and the RESULT itself grow quadratically with corpus size —
    the sf1 scale probe measured x61 wall on 10x documents.  At 60/3
    the chance-pair expectation is ~3e-14 * n^2 (zero at any realistic
    corpus), banding buckets hold n/32768 docs, and the same probe runs
    linearly; output is true near-duplicates only."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, "doc_id", "text", n=2, max_hamming=3, bits=60
    ).orderBy("id_a", "id_b")


@register(
    "dedup_simhash_components",
    oracle=f"""
WITH RECURSIVE {SHINGLES},
{SIMHASH_FP},
blocks AS (
  SELECT doc_id, CAST(b.range AS INT) AS blk,
         (f >> (CAST(b.range AS INT) * 15)) & 32767 AS key
  FROM fp, range(4) b),
bmin AS (SELECT blk, key, min(doc_id) AS id_a FROM blocks GROUP BY blk, key),
cand AS (
  SELECT DISTINCT m.id_a, b.doc_id AS id_b
  FROM blocks b JOIN bmin m ON b.blk = m.blk AND b.key = m.key
  WHERE b.doc_id > m.id_a),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN fp fa ON fa.doc_id = id_a JOIN fp fb ON fb.doc_id = id_b
  WHERE bit_count(xor(fa.f, fb.f)) <= 3),
{CLOSURE}
{CANONICAL}
""",
)
def q_dedup_simhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup clusters: connected components over the Hamming
    <=3 STAR-EDGE graph (simhash_edges — per-block-bucket stars to the
    bucket minimum, k-1 edges per clique per block where simhash_pairs
    enumerates k^2/2), every doc mapped to its canonical (min-id)
    representative.  The SimHash twin of dedup_components: clique-heavy
    corpora get a linear component path under Hamming banding too.  The
    oracle
    rebuilds the SAME star edges in SQL — fingerprint votes, 4x15-bit
    pigeonhole blocks, bucket-min stars, exact-Hamming verify — then
    recomputes components via a recursive transitive-closure CTE, so two
    entirely different closure algorithms must agree exactly."""
    docs = _t(spark, sf_dir, "documents")
    edges = simhash_edges(docs, "doc_id", "text", n=2, max_hamming=3, bits=60)
    return dedup_canonical(docs, edges).orderBy("doc_id")


_H_CONTAM = f"({duck_hash_sql('contam', 'doc_id')}) < 0.8"


@register(
    "split_contamination",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w,
                     {_H_CONTAM} AS in_train
              FROM documents),
sh AS (SELECT doc_id, in_train,
              list_distinct([array_to_string(w[i:i+4], ' ')
                             for i in generate_series(1, greatest(len(w)-4, 1))]) AS s
       FROM base),
ex AS (SELECT doc_id, in_train, unnest(s) AS g FROM sh),
contaminated AS (
  SELECT DISTINCT e.doc_id
  FROM ex e
  WHERE NOT e.in_train
    AND EXISTS (SELECT 1 FROM ex t WHERE t.in_train AND t.g = e.g)),
n_eval AS (SELECT count(*) AS n FROM base WHERE NOT in_train)
SELECT (SELECT n FROM n_eval) AS n_eval,
       count(*) AS n_contaminated,
       (floor((count(*) * 1.0 / (SELECT n FROM n_eval)) * 1000000 + 0.5) / 1000000) AS contamination_rate,
       CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
       coalesce(min(doc_id), -1) AS id_min,
       coalesce(max(doc_id), -1) AS id_max
FROM contaminated
""",
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination audit: hash-split the corpus 80/20, then flag
    eval docs sharing any word-5-gram with the train side (planted
    near-dup pairs make this nonzero by construction).  The id
    fingerprint pins exactly WHICH docs were flagged."""
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.withColumn(
        "in_train", uniform_hash("doc_id", salt="contam") < 0.8
    ).localCheckpoint(eager=False)
    train = labeled.filter("in_train")
    ev = labeled.filter("NOT in_train")
    bad = cross_split_contamination(train, ev, "doc_id", "text", n=5)
    n_eval = ev.agg(F.count("*").alias("n_eval"))
    return with_scalars(
        bad.agg(
            F.count("*").alias("n_contaminated"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).alias("id_sum"),
            F.coalesce(F.min("doc_id"), F.lit(-1)).alias("id_min"),
            F.coalesce(F.max("doc_id"), F.lit(-1)).alias("id_max"),
        ),
        n_eval,
    ).select(
        "n_eval",
        "n_contaminated",
        det_round(F.col("n_contaminated") / F.col("n_eval")).alias(
            "contamination_rate"
        ),
        "id_sum",
        "id_min",
        "id_max",
    )


@register(
    "dedup_pipeline_summary",
    oracle=f"""
WITH RECURSIVE {SHINGLES},
{MINHASH_EDGES},
{CLOSURE},
verdicts AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component, d.doc_id) AS component,
         (coalesce(c.component, d.doc_id) = d.doc_id) AS keep
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT count(*) AS n_docs_in,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       CAST(count(DISTINCT component) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN NOT keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed,
       (floor((sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) * 1.0 / count(*))
              * 1000000 + 0.5) / 1000000) AS dup_rate,
       CAST(sum(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM verdicts
""",
)
def q_dedup_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup PIPELINE as one number row — shingle ->
    MinHash-LSH candidate pairs -> verified Jaccard>=0.5 edges ->
    connected components -> canonical-only corpus — reporting docs in/
    kept, cluster count, characters reclaimed, dup rate, and a kept-id
    fingerprint.  This is the report a curation run ships; every
    upstream stage is independently oracle-gated, this gates their
    COMPOSITION (one wrong edge anywhere changes kept_id_sum)."""
    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_edges(docs, "doc_id", "text", n=2, threshold=0.5)
    verdicts = dedup_canonical(docs, edges).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    keep = F.col("is_canonical")
    return verdicts.agg(
        F.count("*").alias("n_docs_in"),
        F.sum(keep.cast("long")).alias("n_docs_kept"),
        F.countDistinct("component").alias("n_groups"),
        F.sum(F.when(~keep, F.col("n_chars")).otherwise(0)).cast("long").alias("chars_removed"),
        det_round(F.sum((~keep).cast("long")) / F.count("*")).alias("dup_rate"),
        F.sum(F.when(keep, F.col("doc_id")).otherwise(0)).cast("long").alias("kept_id_sum"),
    )
