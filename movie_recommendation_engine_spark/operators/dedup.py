"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (prompt §"Deduplication").

Scale design notes (the part that matters at 100 TB):

- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed
  by md5(normalized text); canonical row = min id per group.  Never
  ``dropDuplicates`` on the raw text column (shuffles full documents);
  shuffle the 32-byte digest instead.
- **n-gram Jaccard**: inverted-index join (doc exploded to distinct
  shingles, self-joined on shingle) — linear in the number of co-shingle
  pairs, not quadratic in docs — but a shingle in 1M docs still
  contributes 10^12 pairs, so at scale use the prefix-filtered join
  (exact, indexes only each doc's rarest shingles) or MinHash LSH.
- **MinHash LSH**: each shingle is md5-hashed ONCE; the ``n_hashes``
  hash functions are derived from that single digest by affine integer
  rehash ``(a_i*h + b_i) mod p`` (classic universal-hashing MinHash) —
  16x fewer digest computations than hashing per (seed, shingle).  The
  signature is a partial-aggregated groupBy (map-side combine shrinks
  the shuffle to 16 longs per doc); only the ``n_bands`` short band
  keys are exploded for the bucket join.  Candidates are then verified
  with exact Jaccard on the full shingle sets.
- **SimHash**: 32-bit fingerprint per doc via one explode + 32 partial
  aggregates; near-dup pairs come from a **pigeonhole band equi-join**:
  the fingerprint is cut into ``max_hamming + 1`` disjoint bit blocks,
  so any pair within the Hamming budget must agree on at least one
  whole block — candidate generation is a shuffle hash join on
  (block index, block value) with *guaranteed* recall, never an
  O(n^2) nested-loop cross join.
- **embedding cosine**: see operators.similarity — near-dup is
  ``embedding_neardup_pairs`` with a threshold.

Intermediate frames consumed twice within one plan (shingle sets,
band tables, fingerprints) are persisted with ``localCheckpoint``
rather than ``cache()``: same MEMORY_AND_DISK materialization, but
blocks are freed by the ContextCleaner when the query's frames go out
of scope — a long-lived session sweeping many queries doesn't
accumulate orphaned cache entries (cache() registrations live until
an explicit unpersist).

All hashing uses the engine's md5 construction, so every operator here
is bit-reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.rounding import det_round
from ..functions.hashing import md5_long, md5_long60
from .text import exact_fingerprint, word_shingles


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep: str = "min",
) -> DataFrame:
    """One canonical row per distinct normalized text.

    Returns (id_col, fingerprint, n_copies) — the kept id (min/max) and
    how many rows collapsed into it.
    """
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(agg_id.alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "fingerprint", "n_copies")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(id_col, word_shingles(text_col, n=n).alias("shingles"))


def _checked_packable_id(op: str, col: str = "id") -> Column:
    """Pass-through of ``col`` that enforces the pair-packing
    precondition 0 <= id < 2^31 per row (whole-stage-codegen check):
    an out-of-range id would silently decode to a WRONG (id_a, id_b)
    pair, so it raises instead."""
    return F.when((F.col(col) >= 0) & (F.col(col) < 2147483648), F.col(col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: id outside packable range [0, 2^31): "),
                F.col(col).cast("string"),
            )
        )
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via prefix filtering
    (AllPairs / PPJoin candidate generation — Bayardo et al., WWW'07).

    Tokens get a global total order (document frequency asc, token asc:
    rarest first).  For a doc with ``s`` distinct shingles only its first
    ``s - ceil(t*s) + 1`` tokens in that order (its *prefix*) enter the
    inverted index.  Any pair with Jaccard >= t must share a token lying
    in BOTH prefixes (pigeonhole over the suffix sizes), so candidate
    recall is guaranteed and the result is identical to the brute-force
    join — but the index holds the *rarest* slice of each doc, which on
    Zipfian corpora collapses the candidate count by orders of
    magnitude.  Per-doc prefix selection is a window partitioned by doc
    id (scales out); no global rank is materialized — the (df, token)
    pair itself is the order key.

    Physical plan (the parts that matter at scale):

    - tokens ride as 8-byte ``xxhash64`` longs everywhere (index join,
      verification arrays) — never as strings (same 2^-64 collision
      caveat as ``ngram_jaccard_pairs``'s exact-count path);
    - candidate pairs shuffle as ONE packed 64-bit key when the id
      dtype is integral (range-guarded: 0 <= id < 2^31 enforced per
      posting row);
    - verification joins the candidate list back to per-doc *hashed*
      shingle arrays and intersects long arrays in codegen; the array
      side is one row per doc, so AQE broadcast-joins it when small
      and shuffles on id at corpus scale — no manual strategy pin.

    Measured at sf0.1 (5000 docs, adversarial 931-token uniform-df
    vocab where prefix pruning is weakest: index Σdf² only drops
    73.2M -> 33.2M): ~4-5 s warm (~11 s cold) vs 14.8 s for the exact
    inverted-index count path — the PPJoin positional + length filters
    prune the candidate stream before the distinct shuffle — and on a
    Zipfian real corpus the prefix index collapses further, so the gap
    widens with scale.
    Output: (id_a, id_b, jaccard).
    """
    sh = _shingled(df, id_col, text_col, n).localCheckpoint(eager=False)
    # one row per doc with the SORTED hashed shingle set: the explode
    # below feeds the index; the arrays feed verification
    hsh = sh.select(
        F.col(id_col).alias("id"),
        F.sort_array(F.transform("shingles", lambda x: F.xxhash64(x))).alias("hs"),
    ).localCheckpoint(eager=False)
    ex = hsh.select("id", F.explode("hs").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    # localCheckpoint: the prefix index is BOTH sides of the candidate
    # self-join below — without the truncation the whole df-join + two-
    # window subtree executed once per side (r13 plan: the sort+window
    # tower appears twice, nodes 12-18 and 32-38; guide §2.4 compute
    # once, reuse).  The checkpointed frame is the pruned (id, g, rn,
    # sz) posting list — far smaller than the work that builds it.
    prefix = (
        ex.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("sz", F.count("*").over(Window.partitionBy("id")))
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "g", "rn", "sz")
        .localCheckpoint(eager=False)
    )
    # PPJoin candidate pruning, applied inside the index join BEFORE the
    # distinct shuffle.  Both filters only ever drop pairs that provably
    # cannot reach the threshold (verification re-checks survivors, so
    # they are pure pruning, never correctness):
    # - length filter: J >= t forces min(sa,sb) >= t * max(sa,sb);
    # - positional filter: a pair's overlap is bounded by what remains
    #   AFTER this shared token, ub = 1 + min(sa-pa, sb-pb), and J >= t
    #   needs overlap >= t/(1+t)*(sa+sb).  For the FIRST shared prefix
    #   token ub >= the true overlap (Xiao et al., WWW'08), so at least
    #   one occurrence of every qualifying pair always survives.
    _sa, _sb = F.col("a.sz"), F.col("b.sz")
    _len_ok = F.least(_sa, _sb) >= F.lit(threshold) * F.greatest(_sa, _sb)
    _pos_ok = (
        1 + F.least(_sa - F.col("a.rn"), _sb - F.col("b.rn"))
        >= F.lit(threshold / (1.0 + threshold)) * (_sa + _sb)
    )
    _join_cond = (
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.id") < F.col("b.id"))
        & _len_ok
        & _pos_ok
    )
    pack = dict(df.dtypes).get(id_col) in ("tinyint", "smallint", "int", "bigint")
    if pack:
        prefix = prefix.withColumn(
            "id", _checked_packable_id("prefix_filtered_jaccard_pairs")
        )
        pk = F.col("a.id").cast("long") * F.lit(4294967296).cast("long") + F.col(
            "b.id"
        ).cast("long")
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), _join_cond)
            .select(pk.alias("pk"))
            .distinct()
            .select(
                F.expr("pk DIV 4294967296").alias("id_a"),
                (F.col("pk") % 4294967296).alias("id_b"),
            )
        )
    else:
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), _join_cond)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    sa = hsh.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    sb = hsh.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", det_round(inter / union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """All document pairs (a < b) with word-n-gram Jaccard >= threshold.

    Unpruned inverted-index self-join: the candidate count is O(sum
    df^2) over the shingle document frequencies, so on a Zipfian
    web-scale corpus use ``prefix_filtered_jaccard_pairs`` (same
    result, pruned index) or ``minhash_lsh_pairs`` (the banded scale
    path).  Kept as the unpruned reference the prefix-filtered join is
    tested against.
    Output: (id_a, id_b, jaccard).
    """
    sh = _shingled(df, id_col, text_col, n).localCheckpoint(eager=False)
    # persist the inverted index: the self-join consumes it twice.
    # The join key is xxhash64(shingle), not the shingle string: the
    # self-join materializes O(sum df^2) rows and hashing/comparing an
    # 8-byte long instead of a ~16-byte UTF8 string is a measured ~1.6x
    # on the whole candidate phase at sf0.1.  `shared` is read straight
    # off the pair count, so a hash collision (a ~v^2/2^65 event over a
    # v-shingle vocab) would inflate it.
    ex = (
        sh.select(F.col(id_col).alias("id"), F.explode("shingles").alias("g"))
        .select("id", F.xxhash64("g").alias("g"))
        .localCheckpoint(eager=False)
    )
    # pack the (id_a, id_b) pair into ONE long when the id is an
    # integral type: the pair aggregate over the O(sum df^2)
    # join output then hashes and shuffles an 8-byte key instead of two
    # — measured 1.9x on the whole count phase at sf0.1 (29.7 -> 15.9 s).
    # Requires 0 <= id < 2^31; doc ids are — non-integral ids skip it.
    pack = dict(df.dtypes).get(id_col) in ("tinyint", "smallint", "int", "bigint")
    if pack:
        # enforce the packing precondition per posting row instead of
        # trusting the dtype (checked before the O(sum df^2) join fans out)
        ex = ex.withColumn("id", _checked_packable_id("ngram_jaccard_pairs"))
    pk = F.col("a.id").cast("long") * F.lit(4294967296).cast("long") + F.col("b.id").cast(
        "long"
    )
    joined = ex.alias("a").join(
        ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    )
    if pack:
        shared = (
            joined.select(pk.alias("pk"))
            .groupBy("pk")
            .agg(F.count("*").alias("shared"))
            .select(
                F.expr("pk DIV 4294967296").alias("id_a"),
                (F.col("pk") % 4294967296).alias("id_b"),
                "shared",
            )
        )
    else:
        shared = joined.groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).agg(F.count("*").alias("shared"))
    sizes = sh.select(F.col(id_col).alias("id"), F.size("shingles").alias("sz"))
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            det_round(F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared"))),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


#: modulus for the affine MinHash family — Mersenne prime 2^31 - 1.
#: base hashes are < 2^32 and multipliers < 2^5, so a*h + b stays far
#: below 2^63: no bigint overflow in Spark or DuckDB.
MINHASH_PRIME = 2147483647


def _affine(seed: int, h: Column) -> Column:
    """i-th universal hash: ((2i+1)*h + 98765*i + 12345) mod p."""
    return (F.lit(2 * seed + 1) * h + F.lit(98765 * seed + 12345)) % F.lit(MINHASH_PRIME)


def minhash_signatures(
    sh: DataFrame,
    id_col: str,
    shingles_col: str = "shingles",
    n_hashes: int = 16,
    salt: str = "mh",
) -> DataFrame:
    """(id, sig: array<bigint>[n_hashes]) MinHash signatures.

    Each shingle is digested once (md5 -> long in a projection *below*
    the aggregate, so Catalyst cannot inline it per hash function); the
    n_hashes minima are partial-aggregated map-side, so the shuffle
    carries only (id, 16 longs) per document — independent of document
    size.
    """
    hashed = sh.select(
        F.col(id_col), F.explode(shingles_col).alias("g")
    ).select(id_col, md5_long("g", salt=salt).alias("h"))
    mins = [F.min(_affine(i, F.col("h"))).alias(f"m{i}") for i in range(n_hashes)]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(F.col(id_col), F.array(*[f"m{i}" for i in range(n_hashes)]).alias("sig"))
    )


def _lsh_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
    band_size: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front end: shingle -> signature -> exploded band keys.

    Returns (sh, bands) where sh is the per-doc shingle sets (for the
    exact-Jaccard verify) and bands is (id, band) with one row per
    (doc, band bucket).  Both are localCheckpointed: every consumer
    joins them at least twice.
    """
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size
    sh = _shingled(df, id_col, text_col, n).localCheckpoint(eager=False)
    sig = minhash_signatures(sh, id_col, n_hashes=n_hashes)
    # band key: md5 over (band index, its slice of the signature)
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        "\x01",
                        b,
                        F.concat_ws(
                            "\x01",
                            F.transform(
                                F.slice(F.col("sig"), b * band_size + 1, band_size),
                                lambda m: m.cast("string"),
                            ),
                        ),
                    )
                ),
            )
        ).alias("band"),
    ).localCheckpoint(eager=False)  # joins below would recompute the signatures
    return sh, bands


def _verify_jaccard(
    cand: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (id_a, id_b) candidates on the full
    shingle sets; keeps pairs at or above ``threshold``."""
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", det_round(inter / union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Default per-bucket candidate cap for minhash_lsh_pairs.  Generous:
# uniform-corpus buckets are a handful of docs wide, so anything under
# the cap behaves exhaustively — only an adversarial bucket (a
# duplicate mega-clique) gets truncated, and THAT is the 5e11-pair
# failure mode the default exists to prevent (round-10: a bare call
# must be scale-safe; round 9 left None the default and every registry
# consumer had to know to pass a cap).
DEFAULT_MAX_BUCKET = 256


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    n_hashes: int = 16,
    band_size: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    n_hashes/band_size bands; docs sharing any band bucket become
    candidates; candidates are verified on their full shingle sets.
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.

    ``max_bucket`` bounds the within-bucket self-join — the operator's
    one quadratic edge.  On a uniform corpus buckets hold a handful of
    docs and the cap is invisible, but a duplicate-heavy corpus (20% of
    documents near-copies of one template — common in real crawls)
    lands the whole clique in ONE bucket per band and both the
    candidate join and the OUTPUT are k^2/2 on it.  Measured at the
    round-9 dup-clique probe (sf0.1, 1044-copy clique): uncapped
    6.8 s / 544,601 pairs vs capped-64 3.5 s / 2,621 pairs — tolerable
    at 5k docs, but the pair count scales as the SQUARE of clique
    size, so a 100k-copy clique in a real crawl emits 5e9 pairs and a
    1M-copy one 5e11: the cap is what makes the 100 TB run finish.
    Each bucket contributes at most its ``max_bucket`` smallest ids as
    candidates (row_number over id asc — deterministic and mirrorable
    in SQL), so an adversarial bucket yields <= cap^2/2 candidates per
    band.  PAIR RECALL inside a mega-clique is deliberately truncated
    (the full pair list IS the scale bug); for dedup COMPONENTS use
    ``minhash_lsh_edges``, which keeps every clique member via linear
    star edges (1.8 s / 1,182 edges on the same corpus).

    The DEFAULT is ``DEFAULT_MAX_BUCKET`` (256) — wide enough that
    every non-adversarial bucket behaves exhaustively, so a bare call
    on a crawl corpus is scale-safe out of the box (round-10: round 9
    shipped ``None`` as the default and a user calling the operator
    bare got the quadratic failure mode the probe had just
    demonstrated).  Pass ``None`` to opt INTO exhaustive enumeration
    deliberately (small corpora, recall studies).
    """
    sh, bands = _lsh_bands(df, id_col, text_col, n, n_hashes, band_size)
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band").orderBy("id")
        # The capped posting list feeds BOTH sides of the bucket
        # self-join, so the sort+WindowGroupLimit cap tower executes
        # once per side.  A localCheckpoint here would dedupe it, but
        # measured at sf0.1 (r14 A/B, quiet windows) the materialization
        # barrier costs MORE than the duplicated tower (5.20 s vs
        # 4.59 s min-of-4): the tower reads the already-checkpointed
        # band list and pipelines into each join side, while the
        # checkpoint forces a block write + two cold reads.  Left
        # duplicated deliberately; revisit if |bands| grows to where a
        # second full exchange of the posting list dominates.
        bands = (
            bands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_bucket)
            .drop("rn")
        )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sh, id_col, threshold)


def minhash_lsh_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    n_hashes: int = 16,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup EDGES for component-style dedup: star edges to the
    bucket minimum instead of all within-bucket pairs — linear in
    bucket width where the pair join is quadratic.

    Each band bucket emits (min_id_in_bucket, id) for every other
    member, verified with exact Jaccard like the pair path.  A k-member
    duplicate clique (one hot bucket) contributes k-1 edges per band
    instead of k^2/2 pairs — the round-9 dup-clique probe's fix for the
    one scale axis the uniform generators never exercised (round-8
    verdict #1).  For connected components the star is the RIGHT
    graph: clique members connect through the minimum, and the
    min-label propagation in ``operators.graph`` converges in one
    sweep on a star where a full clique adds k^2 edges for zero extra
    connectivity.

    Recall note: within a bucket {a, b, c} (a = min) the star tests
    only (a,b) and (a,c); a pair (b,c) passing the Jaccard threshold
    while both star edges fail is found only if b and c co-occur in
    some OTHER bucket without a smaller non-matching doc.  Band
    collisions of non-matching docs are rare by construction (the band
    key is band_size independent minhashes), so this trades a
    vanishing recall sliver for boundedness — same contract precedent
    as cap_basket (registry/breadth.py).  Output shape matches
    ``minhash_lsh_pairs``: (id_a, id_b, jaccard), id_a < id_b.
    """
    sh, bands = _lsh_bands(df, id_col, text_col, n, n_hashes, band_size)
    bmin = bands.groupBy("band").agg(F.min("id").alias("id_a"))
    cand = (
        bands.join(bmin, "band")
        .filter(F.col("id") > F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sh, id_col, threshold)


def simhash_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    bits: int = 32,
    salt: str = "sh",
    packed: bool = True,
) -> DataFrame:
    """32-bit SimHash per document: sign of the per-bit vote over shingle
    hashes.  Integer arithmetic only, so it is bit-identical across
    engines.

    ``packed=True`` (default) folds the per-bit one-counts into
    ``bits/3`` lane-packed sums — three 21-bit counters per 64-bit
    aggregate — instead of ``bits`` independent sums: the hash-aggregate
    row shrinks ~3x and the agg-update work per shingle drops
    accordingly (the vote aggregates were the bulk of this operator's
    cost in BENCH_r01).  The sign test ``votes_j > 0`` becomes
    ``2*ones_j > n_shingles``, which is the same predicate exactly.
    Lane budget: a document may have at most 2_097_151 (2^21 - 1)
    distinct shingles; pass ``packed=False`` for corpora beyond that
    (identical output).  21-bit lanes, not 16: with four 16-bit lanes
    the TOP lane's partial sum (count * 2^48) overflowed SIGNED 64 at
    just 32768 shingles — half the budget the old docstring claimed —
    raising under ANSI or silently corrupting the fingerprint without
    it (round-5 review finding).

    ``bits`` may be up to 60 (the widest prefix both engines parse into
    a signed 64-bit integer): bits <= 32 hash shingles with
    ``md5_long``, wider fingerprints with ``md5_long60``.  WIDTH IS THE
    SCALE LEVER — chance Hamming-<=k collisions between unrelated
    documents scale as n^2 * P(ham<=k), and P is ~2.6e-4 at 32/6 (a
    false-pair EXPLOSION past ~10k docs, measured x61 wall at the
    round-6 sf1 probe) versus ~3e-14 at 60/3 (the Manku et al. 2007
    wide-fingerprint/small-radius regime; zero expected chance pairs at
    any realistic corpus).
    """
    if bits > 60:
        raise ValueError("bits > 60 would overflow the signed-64 hex parse")
    ex = _shingled(df, id_col, text_col, n).select(
        F.col(id_col).alias("id"), F.explode("shingles").alias("g")
    )
    hash_fn = md5_long if bits <= 32 else md5_long60
    h = hash_fn(F.concat_ws("\x01", F.lit(salt), F.col("g")))
    if not packed:
        votes = ex.groupBy("id").agg(
            *[
                F.sum(
                    F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                ).alias(f"b{j}")
                for j in range(bits)
            ]
        )
        fp = None
        for j in range(bits):
            term = F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            fp = term if fp is None else fp + term
        return votes.select(F.col("id").alias(id_col), fp.alias("simhash"))
    n_lanes = 3
    lane_bits = 21  # 3 x 21-bit: top lane sums to < 2^63 at full budget
    lane_mask = (1 << lane_bits) - 1
    n_packs = -(-bits // n_lanes)  # ceil
    packs = []
    for k in range(n_packs):
        lanes = None
        for lane in range(n_lanes):
            j = k * n_lanes + lane
            if j >= bits:
                break
            one = F.shiftright(h, j).bitwiseAND(F.lit(1).cast("long"))
            term = one * F.lit(1 << (lane_bits * lane)).cast("long")
            lanes = term if lanes is None else lanes + term
        packs.append(F.sum(lanes).alias(f"p{k}"))
    votes = ex.groupBy("id").agg(F.count("*").alias("__n"), *packs)
    fp = None
    for k in range(n_packs):
        for lane in range(n_lanes):
            j = k * n_lanes + lane
            if j >= bits:
                break
            ones = F.shiftright(F.col(f"p{k}"), lane_bits * lane).bitwiseAND(
                F.lit(lane_mask).cast("long")
            )
            term = F.when(ones * 2 > F.col("__n"), F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            fp = term if fp is None else fp + term
    return votes.select(F.col("id").alias(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_hamming: int = 6,
    bits: int = 32,
) -> DataFrame:
    """Document pairs whose SimHash fingerprints are within max_hamming
    bits, via pigeonhole banding.

    The fingerprint is cut into ``max_hamming + 1`` disjoint bit blocks;
    two fingerprints differing in <= max_hamming bits must be *identical*
    in at least one block (pigeonhole), so an equi-join on (block index,
    block value) generates candidates with guaranteed recall — results
    are bit-identical to the naive O(n^2) cross join the oracle runs.
    The fingerprint table is cached so the candidate join and the verify
    join share one computation.  Output: (id_a, id_b, hamming).

    SCALE CONTRACT — block width bounds everything: expected bucket size
    is n / 2^(bits // (max_hamming+1)), so candidate volume is
    ~(max_hamming+1) * n^2 / 2^width.  The round-6 sf1 probe measured
    the default-width failure concretely: 32/6 gives 5-bit blocks (32
    bucket values — n^2/32 candidates, x61 wall on 10x docs), while
    60/3 gives 15-bit blocks (32768 values — the same probe runs
    linearly).  Keep ``2^(bits // (max_hamming+1)) >> n / desired
    bucket size``; past ~5M docs move to multiple permuted fingerprint
    tables (Manku et al. 2007 §3) rather than wider single blocks.
    """
    fp = simhash_fingerprint(df, id_col, text_col, n=n, bits=bits).localCheckpoint(eager=False)
    return _simhash_pair_edges(fp, id_col, max_hamming, bits)


def _simhash_pair_edges(
    fp: DataFrame, id_col: str, max_hamming: int, bits: int
) -> DataFrame:
    """The pair-graph stage of ``simhash_pairs`` on an already-computed
    fingerprint table: all within-bucket pairs, Hamming-verified.
    Factored out (round 12) so boundary tests can drive the REAL
    candidate construction with hand-crafted fingerprints instead of
    re-deriving it — the registry oracle mirrors this construction, so
    only a test on the code itself can pin its edge behavior."""
    blocks = _simhash_blocks(fp, id_col, max_hamming, bits)
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_hamming(cand, fp, id_col, max_hamming)


def _simhash_blocks(fp: DataFrame, id_col: str, max_hamming: int, bits: int) -> DataFrame:
    """Pigeonhole banding of a fingerprint table: (id, blk, key) with one
    row per disjoint bit block — two fingerprints within ``max_hamming``
    bits are identical in at least one of the ``max_hamming + 1`` blocks,
    so an equi-join on (blk, key) has guaranteed recall."""
    n_blocks = max_hamming + 1
    width = -(-bits // n_blocks)  # ceil
    mask = (1 << width) - 1
    keys = [
        F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
        for b in range(n_blocks)
    ]
    return fp.select(
        F.col(id_col).alias("id"), F.posexplode(F.array(*keys))
    ).select("id", F.col("pos").alias("blk"), F.col("col").alias("key"))


def _verify_hamming(
    cand: DataFrame, fp: DataFrame, id_col: str, max_hamming: int
) -> DataFrame:
    """Exact Hamming verification of (id_a, id_b) candidates on the full
    fingerprints; keeps pairs within ``max_hamming`` bits."""
    a = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_hamming: int = 6,
    bits: int = 32,
) -> DataFrame:
    """Near-dup EDGES under Hamming banding for component-style dedup:
    star edges to each block bucket's minimum id instead of all
    within-bucket pairs — the SimHash twin of ``minhash_lsh_edges``
    (round-11: the dedup-family API is symmetric; until now clique-heavy
    corpora only had a linear component path under Jaccard banding).

    Each (block, key) bucket emits (min_id_in_bucket, id) for every
    other member, verified on the full fingerprints like the pair path.
    A k-member duplicate clique — identical fingerprints, so one hot
    bucket per block — contributes k-1 edges per block instead of
    ``simhash_pairs``'s k^2/2 enumerated pairs, which is the right graph
    for connected components: clique members connect through the
    minimum, and min-label propagation (``operators.graph``) converges
    in one sweep on a star.

    Recall note (same contract as ``minhash_lsh_edges``): within a
    bucket {a, b, c} (a = min) the star tests only (a,b) and (a,c); a
    qualifying pair (b,c) whose star edges both fail is found only if b
    and c share some other block without a smaller non-matching doc.
    Pigeonhole guarantees every pair within ``max_hamming`` shares a
    block, so the sliver is pairs co-bucketed ONLY under a smaller
    fingerprint that matches neither — rare by construction at the
    60/3 operating point where chance block collisions are ~n/32768
    per bucket.  Output shape matches ``simhash_pairs``:
    (id_a, id_b, hamming), id_a < id_b.
    """
    fp = simhash_fingerprint(df, id_col, text_col, n=n, bits=bits).localCheckpoint(eager=False)
    return _simhash_star_edges(fp, id_col, max_hamming, bits)


def _simhash_star_edges(
    fp: DataFrame, id_col: str, max_hamming: int, bits: int
) -> DataFrame:
    """The star-edge stage of ``simhash_edges`` on an already-computed
    fingerprint table: (bucket-min, member) candidates per block
    bucket, Hamming-verified.  Factored out (round 12) with
    ``_simhash_pair_edges`` so the recall-sliver boundary — a
    qualifying pair both of whose star edges fail verification against
    a shadowing bucket minimum — is pinned by tests on the real
    construction (see tests/test_text_dedup.py::
    test_simhash_star_sliver_boundary)."""
    blocks = _simhash_blocks(fp, id_col, max_hamming, bits)
    bmin = blocks.groupBy("blk", "key").agg(F.min("id").alias("id_a"))
    cand = (
        blocks.join(bmin, ["blk", "key"])
        .filter(F.col("id") > F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )
    return _verify_hamming(cand, fp, id_col, max_hamming)


def cross_split_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Eval documents that share ANY word n-gram with ANY train
    document — the decontamination check run before holding out an
    evaluation set (a contaminated eval doc inflates measured quality).

    With n >= 5 on natural text a shared shingle almost surely means a
    copied span, so "any overlap" is the right sensitivity.  Exact
    string keys (no hashing): this is a pure semi join — one shuffle on
    the shingle — and a false positive would wrongly discard an eval
    doc.  At 100 TB put a bloom of the train shingle set in front
    (operators.bloom) to cut the eval-side shuffle; semantics unchanged.
    Returns the distinct contaminated eval ids.
    """
    tg = (
        _shingled(train, id_col, text_col, n)
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    eg = _shingled(eval_df, id_col, text_col, n).select(
        F.col(id_col), F.explode("shingles").alias("g")
    )
    return eg.join(tg, "g", "left_semi").select(id_col).distinct()
