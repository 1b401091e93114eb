"""Text-analysis operators for large-scale training-data pipelines.

Everything is a JVM-side column expression (regexp / higher-order
functions) — at 100 TB these run inside whole-stage codegen over the
parquet scan, with no Python worker in the loop.  Each helper returns a
Column so pipelines compose them freely; the registry exposes them as
oracle-checked queries over the ``documents`` table.

Operators (prompt §"text analysis"):
- token counting: whitespace tokens + a BPE-ish regex token count;
- quality scoring: length / punctuation / stopword-ratio features and a
  deterministic composite score;
- language ID: marker-word n-gram heuristic + CJK codepoint detection;
- document fingerprinting: exact md5 fingerprint + a min-shingle-hash
  rolling fingerprint (content-locality-sensitive).
"""

from __future__ import annotations

from pyspark.sql import Column, Window, functions as F

from ..functions.hashing import md5_long
from ..functions.rounding import det_round

# BPE-ish token pattern over normalized text: letter runs, digit runs,
# or single non-alphanumeric marks.
TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

# marker vocabularies for the language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "fr": ("le", "la", "les", "des", "et", "une", "est"),
    "es": ("el", "los", "las", "una", "y", "es", "por"),
    "de": ("der", "die", "das", "und", "ein", "ist", "nicht"),
}
_CJK_RANGE = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"


def normalize_text(col: Column | str) -> Column:
    """Lowercase, trim, collapse whitespace — the canonical form every
    downstream operator (tokens, shingles, fingerprints) hashes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def words(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def ws_token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def regex_token_count(col: Column | str) -> Column:
    """BPE-ish token count: letter runs / digit runs / single marks."""
    norm = normalize_text(col)
    return F.size(F.regexp_extract_all(norm, F.lit(TOKEN_PATTERN), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    """Share of characters that are not [a-z0-9 ] after normalization."""
    norm = normalize_text(col)
    n = F.length(norm)
    n_punct = F.length(F.regexp_replace(norm, "[a-z0-9 ]", ""))
    return F.when(n > 0, n_punct / n).otherwise(F.lit(0.0)).cast("double")


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    ws = words(col)
    hits = F.size(F.filter(ws, lambda x: x.isin(*stopwords)))
    return F.when(F.size(ws) > 0, hits / F.size(ws)).otherwise(F.lit(0.0)).cast("double")


def mean_token_length(col: Column | str) -> Column:
    ws = words(col)
    total = F.aggregate(ws, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(ws) > 0, total / F.size(ws)).otherwise(F.lit(0.0)).cast("double")


def quality_score(col: Column | str) -> Column:
    """Deterministic composite in [0,1]: rewards mid-length tokens and a
    healthy stopword share, penalizes punctuation soup.

    score = clip(0.2 + 0.08*mean_token_len + 0.8*stopword_ratio
                 - 1.5*punct_ratio, 0, 1)
    """
    raw = (
        F.lit(0.2)
        + F.lit(0.08) * mean_token_length(col)
        + F.lit(0.8) * stopword_ratio(col)
        - F.lit(1.5) * punct_ratio(col)
    )
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw))


def unigram_logprob(df, id_col: str, text_col: str):
    """Corpus-trained unigram language-model score per document — the
    classic perplexity-style quality filter of LLM data pipelines (docs
    whose tokens are improbable under the corpus LM are noise/garble
    candidates).

    Physically: one explode + token-count aggregate trains the LM (the
    vocab table is tiny relative to the corpus — broadcast), then the
    score pass is a map-side broadcast join + per-doc aggregate.  Two
    scans of the token stream total, no vocab-sized shuffle on the
    scoring side; at 100 TB the vocab table is the only state that
    crosses executors.

    Returns (id_col, n_tokens, avg_logprob) with avg_logprob =
    det_round(mean ln P(tok), 6) where each ln P is quantized ONCE on
    the model table to integer micro-units (floor(ln·1e6) — the
    Adamic-Adar pattern): the per-doc aggregate then sums exact BIGINTs,
    immune to partial-aggregation order, instead of a partitioning-
    dependent float SUM.
    """
    # the exploded token stream feeds BOTH the model build (tf) and the
    # scoring join: truncate once so the corpus scan + normalization +
    # explode runs once, not twice (the module-wide policy dedup/
    # shingle_novelty already follow)
    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("tok")
    ).localCheckpoint(eager=False)
    tf = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = tf.agg(F.sum("n").alias("tot"))
    wt = tf.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log(F.col("n").cast("double") / F.col("tot").cast("double")) * 1000000
        )
        .cast("long")
        .alias("lp_micro"),
    )
    scored = toks.join(F.broadcast(wt), "tok")
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        det_round(
            F.sum("lp_micro").cast("double") / F.count("*") / F.lit(1000000.0), 6
        ).alias("avg_logprob"),
    )


def lang_id(col: Column | str) -> Column:
    """Marker-word language heuristic: count distinct marker hits per
    language, pick the best scorer (CJK codepoints short-circuit to
    'zh'); 'und' when nothing matches."""
    c = F.col(col) if isinstance(col, str) else col
    wd = F.array_distinct(words(col))
    scores = {
        lang: F.size(F.array_intersect(wd, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }
    s_en, s_fr, s_es, s_de = scores["en"], scores["fr"], scores["es"], scores["de"]
    return (
        F.when(c.rlike(_CJK_RANGE), F.lit("zh"))
        .when((s_en >= F.greatest(s_fr, s_es, s_de)) & (s_en > 0), F.lit("en"))
        .when((s_fr >= F.greatest(s_es, s_de)) & (s_fr > 0), F.lit("fr"))
        .when((s_es >= s_de) & (s_es > 0), F.lit("es"))
        .when(s_de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def exact_fingerprint(col: Column | str) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalize_text(col))


def shingle_fingerprint(col: Column | str, n: int = 2) -> Column:
    """Min word-shingle hash — a 1-permutation MinHash: two documents
    sharing their rarest shingle collide; robust to small edits (the
    'rolling hash' fingerprint of the prompt, content-defined)."""
    sh = word_shingles(col, n=n)
    return F.array_min(F.transform(sh, lambda s: md5_long(s, salt="fp")))


def tf_idf(
    df,
    id_col: str,
    text_col: str,
    smooth: bool = True,
):
    """Per-(doc, term) TF-IDF over whitespace tokens (SURVEY §7.2 M5).

    tf = term count / doc token count; idf = ln((N+1)/(df+1)) + 1
    (sklearn's smoothed variant — never divides by zero, unseen-term
    safe).  Physically: one explode + two aggregations; the document
    count enters as a broadcast one-row aggregate (no collect), the
    per-term df joins back on the term — at scale both are plain
    hash-partitioned aggregates, and the tiny df table broadcasts.
    Output: (id_col, term, tf, idf, tf_idf).
    """
    from pyspark.sql import DataFrame  # noqa: F401  (signature clarity)

    # consumed by both the tf aggregate and the document-frequency
    # distinct — truncate once, scan once
    toks = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("term")
    ).localCheckpoint(eager=False)
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count("*").alias("n"))
        .withColumn("doc_len", F.sum("n").over(Window.partitionBy(id_col)))
        .withColumn("tf", F.col("n") / F.col("doc_len"))
    )
    dfreq = toks.select(id_col, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    off = 1 if smooth else 0
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.log((F.col("__n") + off) / (F.col("df") + off)) + 1.0)
        .select(
            id_col,
            "term",
            det_round(F.col("tf")).alias("tf"),
            F.round("idf", 6).alias("idf"),
            F.round(F.col("tf") * F.col("idf"), 6).alias("tf_idf"),
        )
    )


# --- PII scrubbing -----------------------------------------------------
# Patterns are deliberately RE2-compatible (no lookaround, no
# backreferences) so the DuckDB oracle evaluates the very same regex;
# at scale they run as JVM regexp_replace inside whole-stage codegen.
PII_PATTERNS: dict[str, str] = {
    # order matters: emails before URLs (an address inside a URL query
    # string is redacted as mail first), phones last
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "URL": r"https?://[A-Za-z0-9./_%?=&#-]+",
    "PHONE": r"\+[0-9][0-9 ()-]{5,}[0-9]",
}


def pii_count(col: Column | str, kind: str) -> Column:
    """Number of occurrences of one PII pattern (pre-redaction audit)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def redact_pii(col: Column | str, kinds: tuple[str, ...] = ("EMAIL", "URL", "PHONE")) -> Column:
    """Replace every email / URL / phone occurrence with a typed token
    (``<EMAIL>`` etc.) — the standard scrub pass before text lands in a
    training corpus.  Pure regexp_replace chain: one codegen stage, no
    Python workers, safe to run inline over a 100 TB parquet scan."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind}>")
    return c


# --- Chunking ----------------------------------------------------------
def chunk_tokens(
    df,
    id_col: str,
    text_col: str,
    chunk_size: int = 50,
    overlap: int = 10,
):
    """Split each document into overlapping token-window chunks — the
    standard shaping step before tokenization for LLM training data.

    Chunk i covers tokens ``[i*step, i*step + chunk_size)`` with
    ``step = chunk_size - overlap``; the final chunk may be short.  A
    chunk only starts where it contributes tokens beyond the previous
    chunk's overlap (start <= n_tokens - overlap - 1), so a tail shorter
    than or equal to ``overlap`` never becomes a duplicate chunk wholly
    contained in its predecessor (duplicated text in training data).
    The whole operator is explode-over-sequence + ``F.slice`` — rows fan
    out to ~n_tokens/step per doc with no shuffle at all (narrow explode
    over the scan), so it scales linearly and partitions stay intact.

    Returns (id_col, chunk_idx, n_tokens, chunk_text).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    toks = F.col("toks")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - overlap - 1, F.lit(0)), F.lit(step)
    )
    chunk = F.slice(toks, F.col("start") + 1, chunk_size)
    return (
        df.select(F.col(id_col), words(text_col).alias("toks"))
        .select(id_col, "toks", F.explode(starts).alias("start"))
        .select(
            id_col,
            (F.col("start") / step).cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


# --- Repetition / novelty signals --------------------------------------
def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """ORDERED, non-distinct word n-grams of ``words`` (space-joined) —
    repetition measurement needs the multiset; ``word_shingles`` is the
    distinct set.  Fewer than n words collapse to one whole-text gram.

    Built as a zip_with chain over n-1 shifted slices of the word array
    rather than ``transform(sequence(...), i -> slice(words, i+1, n))``:
    expressions referenced inside a higher-order-function lambda are
    re-evaluated PER ELEMENT (no hoisting/CSE inside lambdas), so the
    transform spelling re-runs the regexp split and array build once per
    position — measured 8.2 s vs 1.1 s over sf0.1 documents.  The slices
    here are lambda-free arguments, evaluated once per row; zip_with
    null-pads the shorter side, and the null-propagating ``concat`` turns
    the ragged tail into nulls the filter drops."""
    ws = words(col)
    size = F.size(ws)
    chain = ws
    for k in range(1, n):
        chain = F.zip_with(
            chain, F.slice(ws, k + 1, size), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(size >= n, F.filter(chain, lambda x: x.isNotNull())).otherwise(
        F.array(F.concat_ws(" ", ws))
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams -> array<string>, in first-occurrence order:
    the shingle set every dedup operator and fingerprint compares, over
    the same ``normalize_text`` words as the exact fingerprint."""
    return F.array_distinct(word_ngrams(col, n))


def repetition_signals(df, id_col: str, text_col: str):
    """Gopher-style within-document repetition features — the standard
    quality gate that catches boilerplate, keyword stuffing, and
    generation loops in LLM training corpora:

    - ``dup_word_frac``: 1 - distinct/total tokens;
    - ``top_bigram_frac``: share of bigram slots taken by the single
      most frequent bigram;
    - ``max_token_run``: longest run of consecutive identical tokens
      (a fold over the token array with a (prev, run, best) struct
      accumulator — no shuffle, no window).

    Everything is per-row array arithmetic over the scan: zero
    exchanges, embarrassingly parallel at any scale.  The arrays are
    materialized into columns FIRST so the counting lambdas reference a
    per-row value, not an expression tree re-evaluated per element.
    Returns (id_col, n_tokens, dup_word_frac, top_bigram_frac,
    max_token_run).
    """
    base = df.select(
        F.col(id_col),
        words(text_col).alias("toks"),
        word_ngrams(text_col, 2).alias("bg"),
    )
    toks, bg = F.col("toks"), F.col("bg")
    init = F.struct(
        F.lit("\x00").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run2.alias("run"), F.greatest(acc["best"], run2).alias("best")
        )

    # top bigram multiplicity = longest equal-adjacent run in the SORTED
    # bigram array: O(B log B) per row.  The previous distinct x filter
    # double loop was O(B^2) string comparisons — ~2.5e9 for one 50k-token
    # crawl document, a single-task straggler (round-5 review).  Empty
    # bigram arrays keep the old NULL result (array_max of [] was NULL).
    top_bg = F.when(F.size(bg) == 0, F.lit(None).cast("int")).otherwise(
        F.aggregate(F.array_sort(bg), init, step, lambda acc: acc["best"])
    )

    return base.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        det_round(1.0 - F.size(F.array_distinct(toks)) / F.size(toks)).alias(
            "dup_word_frac"
        ),
        det_round(top_bg / F.size(bg)).alias("top_bigram_frac"),
        F.aggregate(toks, init, step, lambda acc: acc["best"]).alias("max_token_run"),
    )


def shingle_novelty(df, id_col: str, text_col: str, n: int = 3):
    """Cross-document novelty: for each doc, how many of its distinct
    word n-gram shingles first appeared in an EARLIER document (smaller
    id) — the scalable approximation of exact-substring dedup used to
    attribute duplicated text to its first occurrence.

    Physically: one explode of distinct shingles, a min(id) aggregate
    per shingle (map-side combinable), and a join back on the shingle —
    both exchanges key on the shingle hash, whose fan-out is the token
    stream itself (linear, unskewed).  Nothing ever ships document
    bodies.  Returns (id_col, n_shingles, n_seen_before, novelty_frac).
    """
    ex = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n=n)).alias("g")
    ).localCheckpoint(eager=False)
    first = ex.groupBy("g").agg(F.min(id_col).alias("first_doc"))
    seen = F.sum(F.when(F.col("first_doc") < F.col(id_col), 1).otherwise(0))
    return (
        ex.join(first, "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            seen.cast("long").alias("n_seen_before"),
            det_round(1.0 - seen / F.count("*")).alias("novelty_frac"),
        )
    )


def filter_funnel_verdicts(
    df,
    id_col: str,
    text_col: str,
    lang_col: str = "lang",
    keep_langs: tuple[str, ...] = ("en", "fr", "es", "de"),
    min_quality: float = 0.58,
    max_dup_word_frac: float = 0.65,
    max_run: int = 4,
):
    """Per-document first-failing-rule verdicts (id_col, reason) for the
    corpus filter funnel — the reusable stage behind
    ``corpus_filter_funnel``'s aggregate and the curation-pipeline
    composition gate (reason in {'lang','quality','repetition','kept'})."""
    rep = repetition_signals(df, id_col, text_col).select(
        id_col, "dup_word_frac", "max_token_run"
    )
    base = df.select(
        F.col(id_col), F.col(lang_col), quality_score(text_col).alias("__q")
    )
    reason = (
        F.when(~F.col(lang_col).isin(*keep_langs), F.lit("lang"))
        .when(F.col("__q") < min_quality, F.lit("quality"))
        .when(
            (F.col("dup_word_frac") > max_dup_word_frac)
            | (F.col("max_token_run") >= max_run),
            F.lit("repetition"),
        )
        .otherwise(F.lit("kept"))
    )
    return base.join(rep, id_col).select(F.col(id_col), reason.alias("reason"))


def corpus_filter_funnel(
    df,
    id_col: str,
    text_col: str,
    lang_col: str = "lang",
    keep_langs: tuple[str, ...] = ("en", "fr", "es", "de"),
    min_quality: float = 0.58,
    max_dup_word_frac: float = 0.65,
    max_run: int = 4,
):
    """Corpus-curation filter funnel with FIRST-FAILING-RULE attribution
    — the standard "why did we drop X% of the crawl" accounting of LLM
    data pipelines.  Rules in order: language allowlist, quality-score
    floor, repetition gate (dup-word fraction / identical-token run).

    Per-document verdicts reduce to one tiny aggregate: (reason,
    n_docs, share, id_sum) — the id fingerprint pins WHICH docs took
    each exit, not just how many.  Thresholds compare the same doubles
    both engines compute (quality unrounded, repetition signals already
    det_round-stable), so attribution is hash-exact.  One scan + one
    shuffle-light join on the id; everything else is per-row.
    """
    verdicts = filter_funnel_verdicts(
        df,
        id_col,
        text_col,
        lang_col=lang_col,
        keep_langs=keep_langs,
        min_quality=min_quality,
        max_dup_word_frac=max_dup_word_frac,
        max_run=max_run,
    )
    total = verdicts.agg(F.count("*").alias("__total"))
    return (
        verdicts.groupBy("reason")
        .agg(F.count("*").alias("n_docs"), F.sum(id_col).cast("long").alias("id_sum"))
        .crossJoin(F.broadcast(total))
        .select(
            "reason",
            "n_docs",
            det_round(F.col("n_docs") / F.col("__total")).alias("share"),
            "id_sum",
        )
    )


def build_vocab(df, text_col: str, vocab_size: int) -> "DataFrame":
    """Frequency-ranked token vocabulary: the top ``vocab_size`` corpus
    tokens by (count DESC, token ASC), with dense ids 1..vocab_size
    (id 0 is reserved for OOV by ``encode_with_vocab``).

    Scale shape: the token-count aggregate is map-side combinable; the
    top-V selection runs as TakeOrderedAndProject (per-partition V-heaps,
    driver merges V*partitions rows) — the corpus-sized tf table never
    passes through a single-partition sort.  Only the final id
    assignment is a window, over exactly ``vocab_size`` rows.
    """
    from pyspark.sql import Window as W

    from .topk import top_k_global

    toks = df.select(F.explode(words(text_col)).alias("tok")).filter(F.col("tok") != "")
    tf = toks.groupBy("tok").agg(F.count("*").alias("n"))
    top = top_k_global(tf, [F.col("n").desc(), F.col("tok").asc()], k=vocab_size)
    w = W.orderBy(F.col("n").desc(), F.col("tok").asc())
    return top.withColumn("token_id", F.row_number().over(w))


def encode_with_vocab(df, id_col: str, text_col: str, vocab) -> "DataFrame":
    """Token-id encoding of every document under ``vocab`` (id 0 =
    out-of-vocabulary) — the tokenize-and-map step of an LLM training
    pipeline.  Returns one row per (doc, position):
    (id_col, pos, token_id).

    The vocab is broadcast (it is vocab_size rows by construction), so
    encoding is a map-side join over the exploded token stream — no
    shuffle of the corpus.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    return toks.join(F.broadcast(vocab.select("tok", "token_id")), "tok", "left").select(
        id_col, "pos", F.coalesce("token_id", F.lit(0)).alias("token_id")
    )


def vocab_coverage(df, id_col: str, text_col: str, vocab_size: int = 25):
    """Per-document OOV profile under a top-``vocab_size`` corpus vocab:
    (id_col, n_tokens, n_oov, oov_rate, ids_fp) where ids_fp is the md5
    of the full position-ordered token-id sequence — the encoding itself
    is value-checked, not just its counts.

    The id-sequence fingerprint is built distributed: per-doc
    collect_list of (pos, id) structs, array_sort (pos is unique within
    a doc, so struct order == position order), join, md5 — no driver.
    """
    vocab = build_vocab(df, text_col, vocab_size)
    enc = encode_with_vocab(df, id_col, text_col, vocab)
    ids_sorted = F.array_sort(F.collect_list(F.struct("pos", "token_id")))
    return enc.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("token_id") == 0, 1).otherwise(0)).alias("n_oov"),
        det_round(
            F.sum(F.when(F.col("token_id") == 0, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("oov_rate"),
        F.md5(
            F.array_join(
                F.transform(ids_sorted, lambda s: s["token_id"].cast("string")), ","
            )
        ).alias("ids_fp"),
    )


def bigram_logprob(df, id_col: str, text_col: str, k: float = 0.5):
    """Corpus-trained add-k bigram language model score per document —
    the stronger sibling of ``unigram_logprob``: fluency, not just
    token plausibility (token-salad passes a unigram LM but flunks a
    bigram one).

    P(w|v) = (c(v,w) + k) / (c(v,.) + k*V)   with V = corpus vocabulary
    size; score = det_round(mean ln P over the doc's bigrams, 6).
    Documents with fewer than two tokens have no bigrams and drop out.

    Each ln P is quantized ONCE on the bigram model table to integer
    micro-units (floor(ln·1e6), the Adamic-Adar pattern — the round-3
    ADVICE finding): the per-doc aggregate sums exact BIGINTs, immune
    to partial-aggregation order, instead of a partitioning-dependent
    float SUM.

    Physical plan: the bigram stream comes from a lead() window
    partitioned PER DOCUMENT (parallel, state bounded by one doc);
    model tables (bigram counts, context counts) are broadcast here —
    on an open-vocabulary corpus where c(v,w) outgrows broadcast, both
    joins degrade gracefully to shuffle joins on the same keys.
    """
    from pyspark.sql import Window as W

    # toks feeds the vocab-size aggregate AND the pair stream; pairs
    # feeds the model build AND the scoring join — truncate each once so
    # the corpus scan/explode and the per-doc lead() window run once
    toks = (
        df.select(F.col(id_col), F.posexplode(words(text_col)).alias("pos", "tok"))
        .filter(F.col("tok") != "")
        .localCheckpoint(eager=False)
    )
    w = W.partitionBy(id_col).orderBy("pos")
    pairs = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(id_col, F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .localCheckpoint(eager=False)
    )
    bc = pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    cc = bc.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vs = toks.agg(F.countDistinct("tok").alias("v_size"))
    wt = (
        bc.join(cc, "a")
        .crossJoin(F.broadcast(vs))
        .select(
            "a",
            "b",
            F.floor(
                F.log(
                    (F.col("c_ab") + F.lit(k))
                    / (F.col("c_a") + F.lit(k) * F.col("v_size"))
                )
                * 1000000
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    scored = pairs.join(F.broadcast(wt), ["a", "b"])
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        det_round(
            F.sum("lp_micro").cast("double") / F.count("*") / F.lit(1000000.0), 6
        ).alias("avg_logprob"),
    )


# character classes for web-crawl text repair (clean_text):
# C0/C1 control chars (tab/newline excluded — normalize_text handles
# whitespace), unicode space variants, zero-width/joiner marks
CTRL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
SPACEY_CLASS = "[  - 　]"
ZERO_WIDTH_CLASS = "[​-‍﻿]"
REPLACEMENT_CHAR = "�"


def clean_text(col: Column | str) -> Column:
    """Web-crawl character repair: strip control characters, map
    unicode space variants to plain spaces, drop zero-width marks and
    replacement characters — the cleanup every crawl corpus needs
    before tokenization.  Pure regexp chain, one codegen stage, no
    shuffle; counts of what was removed are reported by the
    ``doc_unicode_cleaning`` query so the repair is auditable."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, CTRL_CLASS, "")
    c = F.regexp_replace(c, SPACEY_CLASS, " ")
    c = F.regexp_replace(c, ZERO_WIDTH_CLASS, "")
    return F.regexp_replace(c, REPLACEMENT_CHAR, "")
