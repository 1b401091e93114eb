"""Text-analysis queries over the documents table (oracle-checked).

The DuckDB oracles re-express the exact same normalization / tokenize /
score logic in SQL — shared fragments below keep the two sides aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import text as X
from ..functions.rounding import det_round
from . import _t, duck_det_round6, register

# shared DuckDB fragments (keep in lockstep with operators.text)
NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
WORDS = f"string_split({NORM}, ' ')"
STOP_IN = ", ".join(f"'{w}'" for w in X.STOPWORDS)
TOKEN_PAT = X.TOKEN_PATTERN


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
toks AS (SELECT doc_id, unnest(w) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(n) AS doc_len FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         (floor((t.n * 1.0 / dl.doc_len) * 1000000 + 0.5) / 1000000) AS tf,
         round(ln((n_docs + 1.0) / (df + 1.0)) + 1.0, 6) AS idf,
         round((t.n * 1.0 / dl.doc_len)
               * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tf_idf
  FROM tf t JOIN dl USING (doc_id) JOIN dfreq USING (term), nd),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf_idf DESC, term) AS rk
  FROM scored)
SELECT doc_id, term, tf, idf, tf_idf
FROM ranked WHERE rk <= 3
ORDER BY doc_id, tf_idf DESC, term
""",
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (SURVEY §7.2 M5's tokenize +
    TF-IDF, smoothed sklearn-style idf) — one explode, two aggregates,
    broadcast df table, window top-k."""
    from ..operators.topk import top_k_per_group

    docs = _t(spark, sf_dir, "documents")
    scored = X.tf_idf(docs, "doc_id", "text")
    return top_k_per_group(
        scored, ["doc_id"], [F.col("tf_idf").desc(), F.col("term").asc()], k=3
    ).orderBy("doc_id", F.col("tf_idf").desc(), "term")


# The unigram-LM micro-unit scoring CTEs, defined ONCE and spliced into
# every oracle that replays operators.text.unigram_logprob (the direct
# query below AND doc_rrf_fusion's quality leg) — an embedded replica
# drifted from the operator in round 4 and flipped one sf0.1 rank; a
# single shared fragment makes that class of bug impossible.  Input CTE
# contract: `{{toks}}` must provide (doc_id, tok).
_UNIGRAM_WT_SQL = """
tf AS (SELECT tok, count(*) AS n FROM {toks} GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM tf),
wt AS (SELECT tok,
              CAST(floor(ln(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000)
                   AS BIGINT) AS lp_micro
       FROM tf, tot)"""
_UNIGRAM_AVG_SQL = duck_det_round6(
    "CAST(sum(lp_micro) AS DOUBLE) / count(*) / 1000000.0"
)


@register(
    "doc_unigram_logprob",
    oracle=f"""
WITH w AS (SELECT doc_id, unnest({WORDS}) AS tok FROM documents),
{_UNIGRAM_WT_SQL.format(toks='w')}
SELECT doc_id, count(*) AS n_tokens,
       {_UNIGRAM_AVG_SQL} AS avg_logprob
FROM w JOIN wt USING (tok)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: train a unigram LM on the corpus
    (one token-count aggregate, broadcast), score every document by its
    mean token log-probability.  Low scorers are the garble/noise
    candidates an LLM data pipeline drops before training."""
    docs = _t(spark, sf_dir, "documents")
    return X.unigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "weighted_doc_sample100",
    oracle=f"""
WITH base AS (
  SELECT doc_id, len({WORDS}) AS weight FROM documents),
keyed AS (
  SELECT doc_id, weight,
         round(ln(CAST(('0x' || substr(md5(concat_ws(chr(1), 'ws',
                 CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0)
               / weight, 6) AS sample_key
  FROM base)
SELECT doc_id, weight, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
""",
)
def q_weighted_doc_sample100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents sampled without replacement, probability
    proportional to token count (Efraimidis-Spirakis reservoir keys over
    content hashes — deterministic, partition-independent, heap top-k).
    The shape every quality-weighted corpus subsample needs."""
    from ..operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", X.ws_token_count("text").alias("weight")
    )
    return weighted_sample(docs, k=100, weight_col="weight", key_cols=["doc_id"])


@register(
    "doc_text_stats",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {NORM} AS norm, {WORDS} AS w FROM documents)
SELECT doc_id,
       len(w) AS ws_tokens,
       len(regexp_extract_all(norm, '{TOKEN_PAT}')) AS regex_tokens,
       (floor((CASE WHEN len(norm) > 0
             THEN len(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) * 1.0 / len(norm)
             ELSE 0 END) * 1000000 + 0.5) / 1000000) AS punct_ratio,
       (floor((CASE WHEN len(w) > 0
             THEN len(list_filter(w, x -> x IN ({STOP_IN}))) * 1.0 / len(w)
             ELSE 0 END) * 1000000 + 0.5) / 1000000) AS stop_ratio,
       (floor((CASE WHEN len(w) > 0
             THEN list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
             ELSE 0 END) * 1000000 + 0.5) / 1000000) AS mean_tok_len,
       (floor((greatest(0.0, least(1.0,
             0.2 + 0.08 * (CASE WHEN len(w) > 0
                           THEN list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
                           ELSE 0 END)
                 + 0.8 * (CASE WHEN len(w) > 0
                          THEN len(list_filter(w, x -> x IN ({STOP_IN}))) * 1.0 / len(w)
                          ELSE 0 END)
                 - 1.5 * (CASE WHEN len(norm) > 0
                          THEN len(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) * 1.0 / len(norm)
                          ELSE 0 END)))) * 1000000 + 0.5) / 1000000) AS quality
FROM base ORDER BY doc_id
""",
)
def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.ws_token_count("text").alias("ws_tokens"),
        X.regex_token_count("text").alias("regex_tokens"),
        det_round(X.punct_ratio("text")).alias("punct_ratio"),
        det_round(X.stopword_ratio("text")).alias("stop_ratio"),
        det_round(X.mean_token_length("text")).alias("mean_tok_len"),
        det_round(X.quality_score("text")).alias("quality"),
    ).orderBy("doc_id")


def _markers_sql(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in X.LANG_MARKERS[lang])
    return f"len(list_intersect(list_distinct(w), [{lst}]))"


_CJK_SQL = f"regexp_matches(text, '[{chr(0x4E00)}-{chr(0x9FFF)}]')"


@register(
    "doc_lang_id",
    oracle=f"""
WITH base AS (SELECT doc_id, text, lang, {WORDS} AS w FROM documents),
s AS (SELECT doc_id, text, lang,
             {_markers_sql('en')} AS s_en, {_markers_sql('fr')} AS s_fr,
             {_markers_sql('es')} AS s_es, {_markers_sql('de')} AS s_de
      FROM base)
SELECT doc_id, lang,
       CASE WHEN {_CJK_SQL} THEN 'zh'
            WHEN s_en >= greatest(s_fr, s_es, s_de) AND s_en > 0 THEN 'en'
            WHEN s_fr >= greatest(s_es, s_de) AND s_fr > 0 THEN 'fr'
            WHEN s_es >= s_de AND s_es > 0 THEN 'es'
            WHEN s_de > 0 THEN 'de'
            ELSE 'und' END AS lang_pred
FROM s ORDER BY doc_id
""",
)
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id("text").alias("lang_pred")).orderBy("doc_id")


@register(
    "doc_fingerprints",
    oracle=f"""
WITH base AS (SELECT doc_id, {NORM} AS norm, {WORDS} AS w FROM documents),
sh AS (SELECT doc_id, norm,
              list_distinct([array_to_string(w[i:i+1], ' ')
                             for i in generate_series(1, greatest(len(w)-1, 1))]) AS s
       FROM base)
SELECT doc_id,
       md5(norm) AS fingerprint,
       list_min(list_transform(s,
         g -> CAST(('0x' || substr(md5(concat_ws(chr(1), 'fp', g)), 1, 8)) AS BIGINT)))
         AS min_shingle_hash
FROM sh ORDER BY doc_id
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.exact_fingerprint("text").alias("fingerprint"),
        X.shingle_fingerprint("text", n=2).alias("min_shingle_hash"),
    ).orderBy("doc_id")


@register(
    "doc_chunks",
    oracle=f"""
WITH t AS (SELECT doc_id, {WORDS} AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, greatest(len(toks) - 10 - 1, 0), 40)) AS start
  FROM t)
SELECT doc_id,
       CAST(start // 40 AS INT) AS chunk_idx,
       len(list_slice(toks, start + 1, start + 50)) AS n_tokens,
       md5(array_to_string(list_slice(toks, start + 1, start + 50), ' ')) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_idx
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token chunks, 10-token
    overlap) — the pre-tokenization shaping pass of an LLM training-data
    pipeline.  Chunk text leaves the plan as an md5 fingerprint so the
    oracle hash stays compact."""
    docs = _t(spark, sf_dir, "documents")
    return (
        X.chunk_tokens(docs, "doc_id", "text", chunk_size=50, overlap=10)
        .select(
            "doc_id",
            "chunk_idx",
            "n_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "pii_redaction_audit",
    oracle="""
WITH contact AS (
  SELECT c_custkey, c_mktsegment,
         c_name || ' <user' || c_custkey || '@example.com> call +'
                || lpad(CAST(c_custkey * 7919 % 10000000 AS VARCHAR), 7, '0')
                || ' or https://ex.com/u/' || c_custkey AS txt
  FROM customer),
redacted AS (
  SELECT c_mktsegment,
         len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
         len(regexp_extract_all(txt, 'https?://[A-Za-z0-9./_%?=&#-]+')) AS n_url,
         len(regexp_extract_all(txt, '\\+[0-9][0-9 ()-]{5,}[0-9]')) AS n_phone,
         regexp_replace(
           regexp_replace(
             regexp_replace(txt,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[A-Za-z0-9./_%?=&#-]+', '<URL>', 'g'),
           '\\+[0-9][0-9 ()-]{5,}[0-9]', '<PHONE>', 'g') AS clean
  FROM contact)
SELECT c_mktsegment,
       count(*) AS n_rows,
       CAST(sum(n_email) AS BIGINT) AS emails_found,
       CAST(sum(n_url) AS BIGINT) AS urls_found,
       CAST(sum(n_phone) AS BIGINT) AS phones_found,
       CAST(sum(len(regexp_extract_all(clean, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(clean, 'https?://[A-Za-z0-9./_%?=&#-]+'))
         + len(regexp_extract_all(clean, '\\+[0-9][0-9 ()-]{5,}[0-9]'))) AS BIGINT) AS residual_pii,
       CAST(sum(length(clean)) AS BIGINT) AS total_clean_len
FROM redacted
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: synthesize a contact blurb per customer (name +
    email + phone + URL derived deterministically from c_custkey — the
    slim testdata has no real PII columns), count each PII kind, redact,
    and prove the residual is zero.  Both engines evaluate the identical
    RE2-compatible regexes."""
    cust = _t(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("string")
    txt = F.concat(
        F.col("c_name"),
        F.lit(" <user"), key, F.lit("@example.com> call +"),
        F.lpad(((F.col("c_custkey") * 7919) % 10000000).cast("string"), 7, "0"),
        F.lit(" or https://ex.com/u/"), key,
    )
    base = cust.select(
        "c_mktsegment",
        txt.alias("txt"),
        *[X.pii_count(txt, k).alias(f"n_{k.lower()}") for k in ("EMAIL", "URL", "PHONE")],
    ).withColumn("clean", X.redact_pii("txt"))
    residual = (
        X.pii_count("clean", "EMAIL")
        + X.pii_count("clean", "URL")
        + X.pii_count("clean", "PHONE")
    )
    return (
        base.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_email").alias("emails_found"),
            F.sum("n_url").alias("urls_found"),
            F.sum("n_phone").alias("phones_found"),
            F.sum(residual).alias("residual_pii"),
            F.sum(F.length("clean")).alias("total_clean_len"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "token_freq_cms",
    oracle=f"""
WITH occ AS (SELECT unnest({WORDS}) AS term FROM documents),
depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS d(i)),
cells AS (
  SELECT i,
         CAST(('0x' || substr(md5(concat_ws(chr(1), 'cms' || i, term)), 1, 8)) AS BIGINT)
           % 1024 AS b,
         count(*) AS n
  FROM occ CROSS JOIN depths
  GROUP BY 1, 2),
exact AS (SELECT term, count(*) AS exact_n FROM occ GROUP BY 1),
est AS (
  SELECT e.term, e.exact_n, min(c.n) AS cms_n
  FROM exact e
  CROSS JOIN depths d
  JOIN cells c
    ON c.i = d.i
   AND c.b = CAST(('0x' || substr(md5(concat_ws(chr(1), 'cms' || d.i, e.term)), 1, 8)) AS BIGINT)
             % 1024
  GROUP BY 1, 2)
SELECT term, exact_n, cms_n
FROM est
ORDER BY term
""",
)
def q_token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch token frequencies next to exact counts.  The md5
    hash family makes the sketch deterministic, so DuckDB rebuilds the
    identical counter grid — an approximate operator under a full value
    hash, not a weaker rows-only check."""
    from ..operators.sketch import cms_build, cms_estimate

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.words("text")).alias("term"))
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(cms_build(toks, "term"), exact.select("term"), "term")
    return exact.join(est, "term").select("term", "exact_n", "cms_n").orderBy("term")


@register(
    "doc_repetition_signals",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
bgs AS (
  SELECT doc_id, w,
         CASE WHEN len(w) >= 2
              THEN [array_to_string(w[i:i+1], ' ')
                    FOR i IN generate_series(1, len(w) - 1)]
              ELSE [array_to_string(w, ' ')] END AS b
  FROM base),
flat AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM base),
isl AS (SELECT doc_id, tok,
               pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS g
        FROM flat),
runs AS (SELECT doc_id, count(*) AS r FROM isl GROUP BY doc_id, tok, g),
maxrun AS (SELECT doc_id, CAST(max(r) AS INT) AS max_token_run FROM runs GROUP BY doc_id)
SELECT b.doc_id,
       len(b.w) AS n_tokens,
       (floor((1.0 - len(list_distinct(b.w)) * 1.0 / len(b.w)) * 1000000 + 0.5) / 1000000)
         AS dup_word_frac,
       (floor((list_max(list_transform(list_distinct(b.b),
                                       x -> len(list_filter(b.b, y -> y = x))))
               * 1.0 / len(b.b)) * 1000000 + 0.5) / 1000000) AS top_bigram_frac,
       m.max_token_run
FROM bgs b JOIN maxrun m USING (doc_id)
ORDER BY doc_id
""",
)
def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: dup-word fraction, top-
    bigram share, longest identical-token run — all per-row array
    arithmetic with zero shuffles (the oracle computes max_token_run
    with a gaps-and-islands window instead, proving the array fold
    equivalent)."""
    docs = _t(spark, sf_dir, "documents")
    return X.repetition_signals(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "doc_shingle_novelty",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(w) >= 3
                   THEN [array_to_string(w[i:i+2], ' ')
                         FOR i IN generate_series(1, len(w) - 2)]
                   ELSE [array_to_string(w, ' ')] END) AS s
       FROM base),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
first AS (SELECT g, min(doc_id) AS fd FROM ex GROUP BY g)
SELECT e.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.fd < e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen_before,
       (floor((1.0 - sum(CASE WHEN f.fd < e.doc_id THEN 1 ELSE 0 END) * 1.0 / count(*))
               * 1000000 + 0.5) / 1000000) AS novelty_frac
FROM ex e JOIN first f USING (g)
GROUP BY e.doc_id
ORDER BY e.doc_id
""",
)
def q_doc_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc trigram novelty (first-occurrence attribution — the
    scalable stand-in for exact-substring dedup): min-id per shingle,
    join back, per-doc seen-before share."""
    docs = _t(spark, sf_dir, "documents")
    return X.shingle_novelty(docs, "doc_id", "text", n=3).orderBy("doc_id")


# per-document funnel verdict chain, shared with the curation-pipeline
# composition oracle (registry/e2e.py) — ends at CTE ``v(doc_id, reason)``
FUNNEL_VERDICTS_SQL = f"""
fbase AS (SELECT doc_id, lang, {NORM} AS norm, {WORDS} AS w FROM documents),
fq AS (
  SELECT doc_id, lang,
         greatest(0.0, least(1.0,
           0.2 + 0.08 * (CASE WHEN len(w) > 0
                         THEN list_sum(list_transform(w, x -> len(x))) * 1.0 / len(w)
                         ELSE 0 END)
               + 0.8 * (CASE WHEN len(w) > 0
                        THEN len(list_filter(w, x -> x IN ({STOP_IN}))) * 1.0 / len(w)
                        ELSE 0 END)
               - 1.5 * (CASE WHEN len(norm) > 0
                        THEN len(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) * 1.0 / len(norm)
                        ELSE 0 END))) AS q,
         (floor((1.0 - len(list_distinct(w)) * 1.0 / len(w)) * 1000000 + 0.5) / 1000000)
           AS dup_word_frac
  FROM fbase),
fflat AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM fbase),
fisl AS (SELECT doc_id, tok,
               pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS g
        FROM fflat),
fruns AS (SELECT doc_id, count(*) AS r FROM fisl GROUP BY doc_id, tok, g),
fmaxrun AS (SELECT doc_id, CAST(max(r) AS INT) AS max_token_run FROM fruns GROUP BY doc_id),
v AS (
  SELECT fq.doc_id,
         CASE WHEN fq.lang NOT IN ('en', 'fr', 'es', 'de') THEN 'lang'
              WHEN fq.q < 0.58 THEN 'quality'
              WHEN fq.dup_word_frac > 0.65 OR m.max_token_run >= 4 THEN 'repetition'
              ELSE 'kept' END AS reason
  FROM fq JOIN fmaxrun m USING (doc_id))"""


@register(
    "doc_filter_funnel",
    oracle=f"""
WITH {FUNNEL_VERDICTS_SQL}
SELECT reason, count(*) AS n_docs,
       (floor((count(*) * 1.0 / (SELECT count(*) FROM documents)) * 1000000 + 0.5)
         / 1000000) AS share,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM v
GROUP BY reason
ORDER BY reason
""",
)
def q_doc_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation accounting: every document attributed to its
    FIRST failing filter (language allowlist -> quality floor ->
    repetition gate) or 'kept' — operators.text.corpus_filter_funnel.
    The id_sum fingerprint pins which docs took each exit."""
    docs = _t(spark, sf_dir, "documents")
    return X.corpus_filter_funnel(docs, "doc_id", "text").orderBy("reason")


@register(
    "doc_pack_sequences",
    oracle=f"""
WITH t AS (SELECT doc_id, len({WORDS}) AS n_tokens FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t WHERE n_tokens > 0)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS first_bin,
       CAST((cum - 1) // 512 AS BIGINT) AS last_bin
FROM c
ORDER BY doc_id
""",
)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training sequence packing (concat-and-chunk): concatenate the
    corpus in doc-id order and cut every 512 tokens — each document gets
    its global token offset and the context-window bins it spans.  The
    offsets come from ``operators.relational.global_cumsum``: range
    partition + per-partition running sums + triangular offset join —
    NO single-partition window, so the packing plan survives any corpus
    size (the naive ``sum() OVER (ORDER BY ...)`` the oracle runs is
    exactly the scale cliff the operator avoids)."""
    from ..operators.relational import global_cumsum

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", X.ws_token_count("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    c = global_cumsum(t, ["doc_id"], "n_tokens", cumsum_col="cum")
    return (
        c.select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("start_offset"),
            F.expr("(cum - n_tokens) DIV 512").alias("first_bin"),
            F.expr("(cum - 1) DIV 512").alias("last_bin"),
        )
        .orderBy("doc_id")
    )


@register(
    "heavy_hitters_mg",
    oracle=f"""
WITH t AS (
  SELECT tok FROM (SELECT unnest({WORDS}) AS tok FROM documents)
  WHERE tok <> ''),
n AS (SELECT count(*) AS n_tokens FROM t),
ex AS (SELECT tok, count(*) AS c FROM t GROUP BY tok)
SELECT n.n_tokens,
       (SELECT count(*) FROM ex) AS n_distinct,
       (SELECT count(*) FROM ex, n WHERE c > 2.0 * n_tokens / 201) AS n_heavy,
       (SELECT coalesce(string_agg(tok, '|' ORDER BY tok), '')
        FROM ex, n WHERE c > 2.0 * n_tokens / 201) AS heavy_list,
       true AS coverage_ok,
       true AS bounds_ok
FROM n
""",
)
def q_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries heavy hitters over the corpus token stream
    (operators/sketch.py): <= k counters of state per partition,
    <= partitions*k rows on the wire, merged by counter-sum plus one
    trim — the deterministic, under-counting dual of the CMS query.

    Gated through its PROOF, not its (partitioning-dependent) raw
    counters: est <= exact, exact - est <= 2N/(k+1), and every token
    with exact > 2N/(k+1) present in the summary — all guaranteed by
    the MG mass argument for ANY partitioning, so the booleans pin true
    at 32 threads or 1000 executors.  The heavy-hitter list itself is
    derived from exact counts and value-checked against the oracle."""
    from ..operators.sketch import mg_merge, mg_partition_summaries

    k = 200
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.words("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    toks = toks.localCheckpoint(eager=False)  # 3 consumers, one pass
    merged = mg_merge(mg_partition_summaries(toks, "tok", k=k), "tok", k=k)
    exact = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("n_tokens"))
    bound = 2.0 * F.col("n_tokens") / (k + 1)
    j = (
        exact.join(merged, "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c",
            "n_tokens",
            F.coalesce(F.col("mg_n"), F.lit(0)).alias("est"),
            (F.col("c") > bound).alias("heavy"),
            (F.col("c") - F.coalesce(F.col("mg_n"), F.lit(0)) <= bound).alias(
                "err_ok"
            ),
        )
    )
    return j.agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("heavy").cast("long")).alias("n_heavy"),
        F.array_join(
            F.array_sort(F.collect_list(F.when(F.col("heavy"), F.col("tok")))), "|"
        ).alias("heavy_list"),
        F.bool_and(~F.col("heavy") | (F.col("est") > 0)).alias("coverage_ok"),
        F.bool_and((F.col("est") <= F.col("c")) & F.col("err_ok")).alias("bounds_ok"),
    )


# position-indexed token stream shared by the encoding/bigram oracles:
# unnest + generate_subscripts preserves list order, mirroring Spark's
# posexplode; empty tokens (blank/whitespace-only docs) are dropped on
# both sides
_POS_TOKS = f"""
w0 AS (SELECT doc_id, unnest({WORDS}) AS tok,
              generate_subscripts({WORDS}, 1) AS pos
       FROM documents),
t AS (SELECT * FROM w0 WHERE tok <> '')"""


@register(
    "doc_vocab_coverage",
    oracle=f"""
WITH {_POS_TOKS},
tf AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
vocab AS (
  SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS token_id
  FROM tf QUALIFY token_id <= 25),
enc AS (
  SELECT doc_id, pos, coalesce(v.token_id, 0) AS id
  FROM t LEFT JOIN vocab v USING (tok))
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       (floor((sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) * 1.0 / count(*))
              * 1000000 + 0.5) / 1000000) AS oov_rate,
       md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_fp
FROM enc GROUP BY doc_id ORDER BY doc_id
""",
)
def q_doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + token-id encoding + per-document OOV profile —
    the tokenize-and-map front of an LLM training pipeline.  The top-25
    corpus vocab comes from a distributed top-V heap
    (TakeOrderedAndProject — the corpus tf table never crosses a
    single-partition sort), encoding is a broadcast map-side join over
    the exploded token stream, and the gate hashes the md5 of every
    document's FULL position-ordered id sequence, so the encoding
    itself is value-checked end-to-end, not just its counts."""
    docs = _t(spark, sf_dir, "documents")
    return X.vocab_coverage(docs, "doc_id", "text", vocab_size=25).orderBy("doc_id")


@register(
    "doc_bigram_logprob",
    oracle=f"""
WITH {_POS_TOKS},
p AS (
  SELECT doc_id, tok AS a,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
  FROM t QUALIFY b IS NOT NULL),
bc AS (SELECT a, b, count(*) AS c_ab FROM p GROUP BY 1, 2),
cc AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM bc GROUP BY 1),
vs AS (SELECT count(DISTINCT tok) AS v_size FROM t),
wt AS (SELECT a, b,
              CAST(floor(ln((c_ab + 0.5) / (c_a + 0.5 * v_size)) * 1000000)
                   AS BIGINT) AS lp_micro
       FROM bc JOIN cc USING (a), vs)
SELECT doc_id, count(*) AS n_bigrams,
       {duck_det_round6('CAST(sum(lp_micro) AS DOUBLE) / count(*) / 1000000.0')}
         AS avg_logprob
FROM p JOIN wt USING (a, b)
GROUP BY doc_id ORDER BY doc_id
""",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k bigram language-model fluency score per document (the
    stronger sibling of doc_unigram_logprob: token salad passes a
    unigram LM but flunks a bigram one).  Bigrams come from a lead()
    window partitioned PER DOCUMENT — parallel, state bounded by one
    doc — and the model tables are broadcast (shuffle-join fallback on
    open-vocabulary corpora noted in the operator)."""
    docs = _t(spark, sf_dir, "documents")
    return X.bigram_logprob(docs, "doc_id", "text", k=0.5).orderBy("doc_id")


@register(
    "doc_boolean_search",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
scored AS (
  SELECT doc_id,
         len(list_filter(w, x -> x = 'join'))   AS tf_join,
         len(list_filter(w, x -> x = 'hash'))   AS tf_hash,
         len(list_filter(w, x -> x = 'window')) AS tf_window
  FROM base)
SELECT doc_id, tf_join, tf_hash, tf_window,
       CAST(tf_join + tf_hash + tf_window AS BIGINT) AS total_tf
FROM scored
WHERE tf_join > 0 AND tf_hash > 0 AND tf_window > 0
ORDER BY total_tf DESC, doc_id
""",
)
def q_doc_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (docs containing ALL of join/hash/
    window) ranked by summed term frequency.  Ad-hoc plan: per-term tf
    via higher-order array filters — a ZERO-shuffle codegen scan, no
    explode.  For repeated queries the engine's bucketed-write path
    (sources/writers.write_bucketed on an exploded postings table,
    bucketed by term) turns this into a partition-pruned posting-list
    intersection instead of a corpus scan; the scan variant is gated
    because it is the right plan for one-shot search."""
    docs = _t(spark, sf_dir, "documents")
    w = X.words("text")

    def term_tf(term: str):
        # NB: the lambda must be unary — a second (even defaulted)
        # parameter makes PySpark pass the array index into it
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    scored = docs.select(
        "doc_id",
        term_tf("join").alias("tf_join"),
        term_tf("hash").alias("tf_hash"),
        term_tf("window").alias("tf_window"),
    )
    return (
        scored.filter(
            (F.col("tf_join") > 0) & (F.col("tf_hash") > 0) & (F.col("tf_window") > 0)
        )
        .withColumn(
            "total_tf",
            (F.col("tf_join") + F.col("tf_hash") + F.col("tf_window")).cast("long"),
        )
        .orderBy(F.col("total_tf").desc(), "doc_id")
    )


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-CTE DuckDB replay of operators/bpe.bpe_train: one block
    per merge step (pair count -> deterministic best -> gaps-and-islands
    greedy merge), exactly the pagerank gating pattern — the oracle is
    generated, never hand-maintained, so both engines execute the same
    spelled-out algorithm."""
    blocks = [
        f"""
wf AS MATERIALIZED (SELECT tok AS word, count(*) AS freq FROM t GROUP BY 1),
state0 AS MATERIALIZED (
  SELECT word, freq,
         list_transform(range(1, length(word) + 1),
                        i -> substr(word, CAST(i AS INT), 1)) AS syms
  FROM wf)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        blocks.append(f"""
pos{k} AS MATERIALIZED (
  SELECT word, freq, unnest(range(0, len(syms))) AS pos, unnest(syms) AS s
  FROM state{p}),
lead{k} AS MATERIALIZED (
  SELECT word, freq, pos, s,
         lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM pos{k}),
pc{k} AS MATERIALIZED (
  SELECT s AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM lead{k} WHERE nxt IS NOT NULL GROUP BY 1, 2),
best{k} AS MATERIALIZED (SELECT l, r, c FROM pc{k} ORDER BY c DESC, l, r LIMIT 1),
c1_{k} AS MATERIALIZED (
  SELECT word, freq, pos, s, nxt, (s = b.l AND nxt = b.r) AS cand
  FROM lead{k}, best{k} b),
c2_{k} AS MATERIALIZED (
  SELECT *, CASE WHEN cand THEN pos - row_number()
        OVER (PARTITION BY word, cand ORDER BY pos) END AS isl
  FROM c1_{k}),
c3_{k} AS MATERIALIZED (
  SELECT *, cand AND ((pos - min(pos) OVER (PARTITION BY word, isl)) % 2 = 0)
         AS do_merge
  FROM c2_{k}),
c4_{k} AS MATERIALIZED (
  SELECT *, lag(do_merge) OVER (PARTITION BY word ORDER BY pos) AS absorbed
  FROM c3_{k}),
state{k} AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN do_merge THEN s || nxt ELSE s END ORDER BY pos) AS syms
  FROM c4_{k} WHERE NOT coalesce(absorbed, false)
  GROUP BY word, freq),
stat{k} AS MATERIALIZED (
  SELECT {k} AS step, b.l AS merge_left, b.r AS merge_right,
         b.c AS pair_count,
         (SELECT CAST(sum(freq * len(syms)) AS BIGINT) FROM state{k})
           AS corpus_len_after,
         (SELECT count(DISTINCT s2)
          FROM (SELECT unnest(syms) AS s2 FROM state{k}) vv) AS vocab_after
  FROM best{k} b)""")
        del p
    union = "\nUNION ALL\n".join(f"SELECT * FROM stat{k}" for k in range(1, n_merges + 1))
    return (
        f"WITH {_POS_TOKS},{','.join(blocks)}\n{union}\nORDER BY step"
    )


@register("doc_bpe_merges", oracle=_bpe_oracle(5))
def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): 5 merge
    rules learned over the documents corpus, with the corpus-length and
    vocab-size trajectory after each merge.  Everything is exact
    integers/strings, so the ENTIRE iterative training run — pair
    counting, deterministic best-pair selection, greedy non-overlapping
    merge application — is value-hash-gated against an independently
    unrolled SQL replay (the pagerank gating pattern applied to
    tokenizer learning)."""
    from ..operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    out = bpe_train(docs, "text", n_merges=5)
    return out.select(
        "step",
        F.col("left").alias("merge_left"),
        F.col("right").alias("merge_right"),
        "pair_count",
        "corpus_len_after",
        "vocab_after",
    ).orderBy("step")


@register(
    "doc_rrf_fusion",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
rel AS (
  SELECT doc_id,
         CAST(len(list_filter(w, x -> x = 'join'))
            + len(list_filter(w, x -> x = 'hash'))
            + len(list_filter(w, x -> x = 'window')) AS BIGINT) AS total_tf
  FROM base),
toks AS (SELECT doc_id, unnest({WORDS}) AS tok FROM documents),
{_UNIGRAM_WT_SQL.format(toks='toks')},
qual AS (
  SELECT doc_id, {_UNIGRAM_AVG_SQL} AS lp
  FROM toks JOIN wt USING (tok) GROUP BY doc_id),
ra AS (SELECT doc_id, total_tf,
              CAST(row_number() OVER (ORDER BY total_tf DESC, doc_id) AS BIGINT)
                AS rank_rel
       FROM rel),
rb AS (SELECT doc_id, lp,
              CAST(row_number() OVER (ORDER BY lp DESC, doc_id) AS BIGINT)
                AS rank_qual
       FROM qual),
fused AS (
  SELECT doc_id, rank_rel, rank_qual,
         1.0 / (60 + rank_rel) + 1.0 / (60 + rank_qual) AS s
  FROM ra JOIN rb USING (doc_id))
SELECT doc_id, rank_rel, rank_qual,
       (floor(s * 1000000 + 0.5) / 1000000) AS rrf_r6
FROM fused ORDER BY s DESC, doc_id LIMIT 50
""",
)
def q_doc_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval rankings — query
    relevance (summed TF of join/hash/window) and corpus quality
    (unigram-LM score): the standard way a search pipeline combines
    heterogeneous scorers without calibrating them.  Both rankings come
    from operators/relational.global_rank (range partition + triangular
    offsets — NO single-partition window; the oracle's naive
    row_number() OVER (ORDER BY ...) is exactly the scale cliff the
    engine avoids).  RRF scores are integer-rank reciprocals — IEEE-
    identical on both engines — so the fused ordering is deterministic;
    the reported score is det-rounded."""
    from ..operators.relational import global_rank

    docs = _t(spark, sf_dir, "documents")
    w = X.words("text")

    def term_tf(term: str):
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    rel = docs.select(
        "doc_id",
        (term_tf("join") + term_tf("hash") + term_tf("window"))
        .cast("long")
        .alias("total_tf"),
    ).withColumn("neg_tf", -F.col("total_tf"))
    ra = global_rank(rel, ["neg_tf", "doc_id"], rank_col="rank_rel").select(
        "doc_id", "rank_rel"
    )
    qual = (
        X.unigram_logprob(docs, "doc_id", "text")
        .select("doc_id", F.col("avg_logprob").alias("lp"))
        .withColumn("neg_lp", -F.col("lp"))
    )
    rb = global_rank(qual, ["neg_lp", "doc_id"], rank_col="rank_qual").select(
        "doc_id", "rank_qual"
    )
    fused = ra.join(rb, "doc_id").withColumn(
        "s", 1.0 / (60 + F.col("rank_rel")) + 1.0 / (60 + F.col("rank_qual"))
    )
    return (
        fused.orderBy(F.col("s").desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "rank_rel",
            "rank_qual",
            det_round(F.col("s")).alias("rrf_r6"),
        )
    )


@register(
    "doc_bpe_encoding",
    # same generated training replay as doc_bpe_merges, different tail:
    # the merges-union SELECT is swapped for an encode join of the
    # word-level state5 table back onto the per-doc word stream (CTE t)
    oracle=_bpe_oracle(5).replace(
        "\nUNION ALL\n".join(f"SELECT * FROM stat{k}" for k in range(1, 6))
        + "\nORDER BY step",
        """,
dw AS (SELECT doc_id, tok AS word FROM t),
enc AS (
  SELECT doc_id, count(*) AS n_words,
         CAST(sum(length(word)) AS BIGINT) AS n_chars,
         CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
         (floor((sum(len(syms)) * 1.0 / sum(length(word))) * 1000000 + 0.5)
           / 1000000) AS compression_r6
  FROM dw JOIN state5 USING (word) GROUP BY doc_id)
SELECT * FROM enc ORDER BY doc_id""",
    ),
)
def q_doc_bpe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained 5-merge BPE tokenizer to the corpus: every
    word maps to its merged symbol count via one broadcast join against
    the vocabulary-sized state table (the merge loop ran once at train
    time — encoding never re-runs it).  Per-document word/char/
    BPE-token counts and the det-rounded compression ratio, all gated
    by the same unrolled training replay as doc_bpe_merges plus the
    encode join."""
    from ..operators.bpe import bpe_encode, bpe_train_state

    docs = _t(spark, sf_dir, "documents")
    _, state = bpe_train_state(docs, "text", n_merges=5)
    return bpe_encode(docs, "doc_id", "text", state).orderBy("doc_id")


# deterministic "dirty web crawl" derivation for the cleaning audit: a
# content-hash bucket decides which corruption each doc gets, embedded
# as literal unicode on both engines
_UC_U = (
    "(CAST(('0x' || substr(md5(concat_ws(chr(1), 'uc', "
    "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0)"
)


@register(
    "doc_unicode_cleaning",
    oracle=f"""
WITH h AS (SELECT doc_id, text, {_UC_U} AS u FROM documents),
dirty AS (
  SELECT doc_id,
         CASE WHEN u < 0.15 THEN text || ' tail '
              WHEN u < 0.30 THEN chr(7) || chr(1) || text || '​​'
              WHEN u < 0.40 THEN text || ' cafÃ© �'
              ELSE text END AS t
  FROM h),
cleaned AS (
  SELECT doc_id, t,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
               '[  - 　]', ' ', 'g'),
             '[​-‍﻿]', '', 'g'),
           '�', '', 'g') AS clean
  FROM dirty)
SELECT doc_id,
       CAST(length(t) - length(regexp_replace(t,
         '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')) AS BIGINT) AS n_ctrl,
       CAST(length(t) - length(regexp_replace(t,
         '[  - 　]', '', 'g')) AS BIGINT) AS n_spacey,
       CAST(length(t) - length(regexp_replace(t,
         '[​-‍﻿]', '', 'g')) AS BIGINT) AS n_zero_width,
       CAST(length(t) - length(regexp_replace(t, '�', '', 'g')) AS BIGINT)
         AS n_replacement,
       CAST(length(t) - length(replace(t, 'Ã©', '©')) AS BIGINT)
         AS n_mojibake,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS cleaned_fp
FROM cleaned ORDER BY doc_id
""",
)
def q_doc_unicode_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl character repair, audited: a deterministic 'dirty
    crawl' derivation (NBSP padding / control chars + zero-width marks /
    mojibake + replacement chars, chosen per doc by content hash) is
    cleaned by operators.text.clean_text, and the gate value-hashes the
    per-doc removal counts, the cleaned length AND the md5 of the
    cleaned text — the repair itself is verified byte-for-byte, not
    just counted.  Everything is a regexp chain in one codegen stage."""
    from ..functions.hashing import uniform_hash
    from ..operators.text import (
        CTRL_CLASS,
        REPLACEMENT_CHAR,
        SPACEY_CLASS,
        ZERO_WIDTH_CLASS,
        clean_text,
    )

    docs = _t(spark, sf_dir, "documents")
    u = uniform_hash("doc_id", salt="uc")
    dirty = docs.select(
        "doc_id",
        F.when(u < 0.15, F.concat("text", F.lit(" tail ")))
        .when(u < 0.30, F.concat(F.lit("\x07\x01"), "text", F.lit("​​")))
        .when(u < 0.40, F.concat("text", F.lit(" cafÃ© �")))
        .otherwise(F.col("text"))
        .alias("t"),
    )

    def removed(cls: str):
        return (
            F.length("t") - F.length(F.regexp_replace("t", cls, ""))
        ).cast("long")

    return dirty.select(
        "doc_id",
        removed(CTRL_CLASS).alias("n_ctrl"),
        removed(SPACEY_CLASS).alias("n_spacey"),
        removed(ZERO_WIDTH_CLASS).alias("n_zero_width"),
        removed(REPLACEMENT_CHAR).alias("n_replacement"),
        (
            F.length("t")
            - F.length(F.expr("replace(t, 'Ã©', '©')"))
        )
        .cast("long")
        .alias("n_mojibake"),
        F.length(clean_text("t")).cast("long").alias("clean_len"),
        F.md5(clean_text("t")).alias("cleaned_fp"),
    ).orderBy("doc_id")


@register(
    "doc_bm25_search",
    oracle=f"""
WITH base AS (SELECT doc_id, {WORDS} AS w FROM documents),
d AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
         CAST(len(list_filter(w, x -> x = 'join')) AS BIGINT)   AS tf_join,
         CAST(len(list_filter(w, x -> x = 'hash')) AS BIGINT)   AS tf_hash,
         CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf_window
  FROM base),
g AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
         CAST(sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
         CAST(sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_window
  FROM d),
s AS (
  SELECT doc_id, dl, tf_join, tf_hash, tf_window,
         ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
           * (tf_join * 2.2)
           / (tf_join + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         + ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
           * (tf_hash * 2.2)
           / (tf_hash + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         + ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
           * (tf_window * 2.2)
           / (tf_window + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score
  FROM d, g)
SELECT doc_id, tf_join, tf_hash, tf_window,
       (floor(score * 1000000 + 0.5) / 1000000) AS bm25_r6
FROM s ORDER BY score DESC, doc_id LIMIT 20
""",
)
def q_doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (k1=1.2, b=0.75, Lucene's always-positive idf) for
    the 3-term query join/hash/window — the standard full-text scorer
    on top of the same zero-shuffle HOF term-frequency scan as
    doc_boolean_search.  Corpus stats (N, avgdl, per-term df) fold into
    ONE broadcast one-row aggregate; the score is an explicit
    left-to-right 3-term sum — a row EXPRESSION, not an aggregate — so
    there is no summation-order nondeterminism anywhere, and the raw
    double ranks identically on both engines before det-rounding."""
    from ..operators.relational import with_scalars

    docs = _t(spark, sf_dir, "documents")
    w = X.words("text")

    def term_tf(term: str):
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("long")

    d = docs.select(
        "doc_id",
        F.size(w).cast("long").alias("dl"),
        term_tf("join").alias("tf_join"),
        term_tf("hash").alias("tf_hash"),
        term_tf("window").alias("tf_window"),
    )
    g = d.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.sum((F.col("tf_join") > 0).cast("long")).alias("df_join"),
        F.sum((F.col("tf_hash") > 0).cast("long")).alias("df_hash"),
        F.sum((F.col("tf_window") > 0).cast("long")).alias("df_window"),
    )

    def term_score(tf, df):
        idf = F.log(
            (F.col("n_docs") - F.col(df) + 0.5) / (F.col(df) + 0.5) + 1.0
        )
        norm = F.col(tf) + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        return idf * (F.col(tf) * 2.2) / norm

    scored = with_scalars(d, g).withColumn(
        "score",
        term_score("tf_join", "df_join")
        + term_score("tf_hash", "df_hash")
        + term_score("tf_window", "df_window"),
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "tf_join",
            "tf_hash",
            "tf_window",
            det_round(F.col("score")).alias("bm25_r6"),
        )
    )
