"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (prompt §"Deduplication").

Every fuzzy operator is filter-and-verify over one core: it builds a
posting list its own way (shingle tokens, LSH band buckets, SimHash bit
blocks), turns co-bucketed ids into (id_a, id_b) candidates —
``_bucket_pairs`` for all within-bucket pairs, ``_bucket_stars`` for
star edges to each bucket's minimum, ``_token_pairs`` for the shingle
index with its packed pair key — and scores them in one verify tail,
``_verify``.  Shingles are ``operators.text.word_shingles``: the same
normalized words as the exact fingerprint.

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
- **MinHash LSH**: each shingle is md5-hashed ONCE; the 16 hash
  functions are derived from that single digest by affine integer
  rehash ``(a_i*h + b_i) mod p`` (classic universal-hashing MinHash) —
  16x fewer digest computations than hashing per (seed, shingle).  The
  signature is a partial-aggregated groupBy (map-side combine shrinks
  the shuffle to 16 longs per doc); only the 8 short band keys are
  exploded for the bucket join.  Candidates are then verified with
  exact Jaccard on the full shingle sets.
- **SimHash**: fingerprint per doc via one explode + lane-packed
  partial aggregates; near-dup pairs come from a **pigeonhole band
  equi-join**: the fingerprint is cut into ``max_hamming + 1`` disjoint
  bit blocks, so any pair within the Hamming budget must agree on at
  least one whole block — candidate generation is a shuffle hash join
  on (block index, block value) with *guaranteed* recall, never an
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

from ..functions.hashing import md5_long, md5_long60
from ..functions.rounding import det_round
from .text import exact_fingerprint, word_shingles

#: MinHash signature length and LSH band width: 8 bands of 2 minhashes.
#: The registry oracle spells them as ``range(16)`` and ``floor(seed / 2)``.
N_HASHES = 16
BAND_SIZE = 2

#: Per-bucket candidate cap of ``minhash_lsh_pairs`` (the registry oracle
#: embeds the same constant): each band bucket contributes at most its 64
#: smallest ids, <= 64^2/2 candidates.  Uniform-corpus buckets hold a
#: handful of docs, so only a duplicate mega-clique is ever truncated.
LSH_MAX_BUCKET = 64

#: modulus for the affine MinHash family — Mersenne prime 2^31 - 1.
#: base hashes are < 2^32 and multipliers < 2^5, so a*h + b stays far
#: below 2^63: no bigint overflow in Spark or DuckDB.
MINHASH_PRIME = 2147483647


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One canonical row per distinct normalized text.

    Returns (id_col, fingerprint, n_copies) — the kept (min) id and how
    many rows collapsed into it.
    """
    return (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "fingerprint", "n_copies")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(id_col, word_shingles(text_col, n=n).alias("shingles"))


# ---- the candidate-and-verify core -----------------------------------------


def _bucket_pairs(post: DataFrame, keys: list[str]) -> DataFrame:
    """Every within-bucket pair of a posting list (id, *keys): distinct
    (id_a, id_b), id_a < id_b, for ids sharing at least one bucket —
    quadratic in bucket width."""
    on = F.col("a.id") < F.col("b.id")
    for k in keys:
        on = on & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        post.alias("a")
        .join(post.alias("b"), on)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _bucket_stars(post: DataFrame, keys: list[str]) -> DataFrame:
    """Star edges of a posting list (id, *keys): distinct (id_a, id_b)
    from each bucket's minimum id to every other member — linear in
    bucket width where ``_bucket_pairs`` is quadratic.

    A k-member duplicate clique (one hot bucket) contributes k-1 edges
    instead of k^2/2 pairs, and for connected components the star is the
    right graph: members connect through the minimum, and min-label
    propagation (``operators.graph``) converges in one sweep on a star.
    Recall note: within a bucket {a, b, c} (a = min) the star tests only
    (a,b) and (a,c); a qualifying (b,c) whose star edges both fail
    verification is found only if b and c share another bucket without
    a smaller non-matching id.
    """
    bmin = post.groupBy(*keys).agg(F.min("id").alias("id_a"))
    return (
        post.join(bmin, keys)
        .filter(F.col("id") > F.col("id_a"))
        .select("id_a", F.col("id").alias("id_b"))
        .distinct()
    )


def _checked_packable_id(op: str) -> Column:
    """Pass-through of ``id`` that enforces the pair-packing
    precondition 0 <= id < 2^31 per row (whole-stage-codegen check):
    an out-of-range id would silently decode to a WRONG (id_a, id_b)
    pair, so it raises instead."""
    return F.when((F.col("id") >= 0) & (F.col("id") < 2147483648), F.col("id")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{op}: id outside packable range [0, 2^31): "),
                F.col("id").cast("string"),
            )
        )
    )


def _token_pairs(
    post: DataFrame, prune: Column | None, op: str, aggs: list[Column]
) -> DataFrame:
    """Pairs of a hashed-token posting list (id, g, ...): its self-join
    on the token with a.id < b.id (and ``prune`` over the a/b sides),
    one row per (id_a, id_b) — distinct, or grouped with ``aggs``.

    An integral id travels through the distinct/aggregate as ONE packed
    long ``a.id * 2^32 + b.id``: one 8-byte key to hash and shuffle
    instead of two made ``ngram_jaccard_pairs``' count phase 1.9x faster
    at sf0.1 (29.7 -> 15.9 s).  Packing needs 0 <= id < 2^31, checked
    per posting row before the join fans out (``op`` names the operator
    in the error); any other id type is grouped unpacked.
    """
    on = (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    if prune is not None:
        on = on & prune
    if dict(post.dtypes)["id"] not in ("tinyint", "smallint", "int", "bigint"):
        ids = (
            post.alias("a")
            .join(post.alias("b"), on)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        return ids.groupBy("id_a", "id_b").agg(*aggs) if aggs else ids.distinct()
    post = post.withColumn("id", _checked_packable_id(op))
    two32 = 4294967296
    pk = F.col("a.id").cast("long") * F.lit(two32).cast("long") + F.col("b.id").cast("long")
    keys = post.alias("a").join(post.alias("b"), on).select(pk.alias("pk"))
    keys = keys.groupBy("pk").agg(*aggs) if aggs else keys.distinct()
    return keys.select(
        F.expr(f"pk DIV {two32}").alias("id_a"),
        (F.col("pk") % two32).alias("id_b"),
        *[c for c in keys.columns if c != "pk"],
    )


def _verify(cand: DataFrame, side: DataFrame, name: str, score, keep) -> DataFrame:
    """Verify (id_a, id_b) candidates on a two-column (id, value) side:
    join it once per pair end, ``score(value_a, value_b)`` into column
    ``name`` and keep the rows where ``keep(score)`` holds.  The side is
    one row per doc, so AQE broadcast-joins it when small and shuffles
    on id at corpus scale.  Output (id_a, id_b, name)."""
    i, v = side.columns
    a = side.select(F.col(i).alias("id_a"), F.col(v).alias("v_a"))
    b = side.select(F.col(i).alias("id_b"), F.col(v).alias("v_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(name, score(F.col("v_a"), F.col("v_b")))
        .filter(keep(F.col(name)))
        .select("id_a", "id_b", name)
    )


def _verify_jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of (id_a, id_b) candidates on a per-doc (id, set
    array) side; keeps pairs at or above ``threshold``."""

    def jaccard(a: Column, b: Column) -> Column:
        inter = F.size(F.array_intersect(a, b))
        return det_round(inter / (F.size(a) + F.size(b) - inter))

    return _verify(cand, sets, "jaccard", jaccard, lambda j: j >= threshold)


# ---- n-gram Jaccard ---------------------------------------------------------


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
      dtype is integral (``_token_pairs``);
    - verification joins the candidate list back to per-doc *hashed*
      shingle arrays and intersects long arrays in codegen.

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
    # self-join — without the truncation the whole df-join + two-window
    # subtree (the sort+window tower) executes once per side.  The
    # checkpointed frame is the pruned (id, g, rn, sz) posting list —
    # far smaller than the work that builds it.
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
    cand = _token_pairs(prefix, _len_ok & _pos_ok, "prefix_filtered_jaccard_pairs", [])
    return _verify_jaccard(cand, hsh, threshold)


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
    shared = _token_pairs(ex, None, "ngram_jaccard_pairs", [F.count("*").alias("shared")])
    sizes = sh.select(F.col(id_col).alias("id"), F.size("shingles").alias("sz"))
    s = F.col("shared")
    return _verify(
        shared, sizes, "jaccard",
        lambda a, b: det_round(s / (a + b - s)), lambda j: j >= threshold,
    )


# ---- MinHash LSH ------------------------------------------------------------


def _affine(seed: int, h: Column) -> Column:
    """i-th universal hash: ((2i+1)*h + 98765*i + 12345) mod p."""
    return (F.lit(2 * seed + 1) * h + F.lit(98765 * seed + 12345)) % F.lit(MINHASH_PRIME)


def _minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, sig: array<bigint>[N_HASHES]) MinHash signatures of the
    ``shingles`` sets.

    Each shingle is digested once (md5 -> long in a projection *below*
    the aggregate, so Catalyst cannot inline it per hash function); the
    minima are partial-aggregated map-side, so the shuffle carries only
    (id, 16 longs) per document — independent of document size.
    """
    hashed = sh.select(
        F.col(id_col), F.explode("shingles").alias("g")
    ).select(id_col, md5_long("g", salt="mh").alias("h"))
    mins = [F.min(_affine(i, F.col("h"))).alias(f"m{i}") for i in range(N_HASHES)]
    return (
        hashed.groupBy(id_col)
        .agg(*mins)
        .select(F.col(id_col), F.array(*[f"m{i}" for i in range(N_HASHES)]).alias("sig"))
    )


def _lsh_bands(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH front end: shingle -> signature -> exploded band keys.

    Returns (sh, bands) where sh is the per-doc shingle sets (for the
    exact-Jaccard verify) and bands is (id, band) with one row per
    (doc, band bucket).  Both are localCheckpointed: every consumer
    joins them at least twice.
    """
    sh = _shingled(df, id_col, text_col, n).localCheckpoint(eager=False)
    sig = _minhash_signatures(sh, id_col)
    # band key: md5 over (band index, its slice of the signature)
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_HASHES // BAND_SIZE - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        "\x01",
                        b,
                        F.concat_ws(
                            "\x01",
                            F.transform(
                                F.slice(F.col("sig"), b * BAND_SIZE + 1, BAND_SIZE),
                                lambda m: m.cast("string"),
                            ),
                        ),
                    )
                ),
            )
        ).alias("band"),
    ).localCheckpoint(eager=False)  # joins below would recompute the signatures
    return sh, bands


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    16 minhashes in 8 bands of 2; docs sharing any band bucket become
    candidates; candidates are verified on their full shingle sets.
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.

    ``max_bucket`` bounds the within-bucket self-join — the operator's
    one quadratic edge.  On a uniform corpus buckets hold a handful of
    docs and the cap is invisible, but a duplicate-heavy corpus (20% of
    documents near-copies of one template — common in real crawls)
    lands the whole clique in ONE bucket per band and both the
    candidate join and the OUTPUT are k^2/2 on it.  Measured with
    tools/dup_clique_probe.py (sf0.1, 1044-copy clique): uncapped
    6.8 s / 544,601 pairs vs capped-64 3.5 s / 2,621 pairs — the pair
    count scales as the SQUARE of clique size, so a 1M-copy clique
    emits 5e11.  Each bucket contributes at most its ``max_bucket``
    smallest ids as candidates (row_number over id asc — deterministic
    and mirrorable in SQL).  PAIR RECALL inside a mega-clique is
    deliberately truncated (the full pair list IS the scale bug); for
    dedup COMPONENTS use ``minhash_lsh_edges`` (1.8 s / 1,182 edges on
    the same corpus).  Pass ``None`` for exhaustive enumeration (small
    corpora, recall studies).
    """
    sh, bands = _lsh_bands(df, id_col, text_col, n)
    if max_bucket is not None:
        # The capped posting list feeds BOTH sides of the bucket
        # self-join, so the sort+WindowGroupLimit cap tower executes once
        # per side: measured at sf0.1 a localCheckpoint of it costs more
        # than the duplicated tower (5.20 s vs 4.59 s min-of-4), which
        # pipelines from the already-checkpointed band list.
        w = Window.partitionBy("band").orderBy("id")
        bands = (
            bands.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_bucket)
            .drop("rn")
        )
    return _verify_jaccard(_bucket_pairs(bands, ["band"]), sh, threshold)


def minhash_lsh_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup EDGES for component-style dedup: ``_bucket_stars`` over
    the band buckets, verified with exact Jaccard like the pair path —
    k-1 edges per band on a k-member duplicate clique instead of k^2/2
    pairs.  Band collisions of non-matching docs are rare by
    construction (the band key is 2 independent minhashes), so the star
    recall sliver is vanishing — same contract precedent as cap_basket
    (registry/breadth.py).  Output shape matches ``minhash_lsh_pairs``:
    (id_a, id_b, jaccard), id_a < id_b.
    """
    sh, bands = _lsh_bands(df, id_col, text_col, n)
    return _verify_jaccard(_bucket_stars(bands, ["band"]), sh, threshold)


# ---- SimHash ----------------------------------------------------------------


def simhash_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    bits: int = 32,
    packed: bool = True,
) -> DataFrame:
    """SimHash per document: sign of the per-bit vote over shingle
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
    (identical output).  21-bit lanes, not 16: the top 16-bit lane's
    partial sum (count * 2^48) overflows SIGNED 64 at 32768 shingles.

    ``bits`` may be up to 60 (the widest prefix both engines parse into
    a signed 64-bit integer): bits <= 32 hash shingles with
    ``md5_long``, wider fingerprints with ``md5_long60``.  WIDTH IS THE
    SCALE LEVER — chance Hamming-<=k collisions between unrelated
    documents scale as n^2 * P(ham<=k), and P is ~2.6e-4 at 32/6 (a
    false-pair EXPLOSION past ~10k docs, measured x61 wall at an sf1
    probe) versus ~3e-14 at 60/3 (the Manku et al. 2007
    wide-fingerprint/small-radius regime; zero expected chance pairs at
    any realistic corpus).
    """
    if bits > 60:
        raise ValueError("bits > 60 would overflow the signed-64 hex parse")
    ex = _shingled(df, id_col, text_col, n).select(
        F.col(id_col).alias("id"), F.explode("shingles").alias("g")
    )
    hash_fn = md5_long if bits <= 32 else md5_long60
    h = hash_fn(F.concat_ws("\x01", F.lit("sh"), F.col("g")))
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


def _hamming_edges(
    fp: DataFrame, id_col: str, max_hamming: int, bits: int, candidates
) -> DataFrame:
    """Hamming-verified edges of a fingerprint table (id_col, simhash):
    pigeonhole banding into ``max_hamming + 1`` disjoint bit blocks —
    two fingerprints within ``max_hamming`` bits are identical in at
    least one block — then ``candidates`` (``_bucket_pairs`` or
    ``_bucket_stars``) over the (blk, key) buckets and an exact Hamming
    verify on the full fingerprints.  Takes the fingerprints rather than
    text so boundary tests drive the real construction on hand-crafted
    fingerprints."""
    n_blocks = max_hamming + 1
    width = -(-bits // n_blocks)  # ceil
    mask = (1 << width) - 1
    keys = [
        F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
        for b in range(n_blocks)
    ]
    blocks = fp.select(
        F.col(id_col).alias("id"), F.posexplode(F.array(*keys))
    ).select("id", F.col("pos").alias("blk"), F.col("col").alias("key"))
    return _verify(
        candidates(blocks, ["blk", "key"]), fp, "hamming",
        lambda a, b: F.bit_count(a.bitwiseXOR(b)), lambda h: h <= max_hamming,
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_hamming: int = 6,
    bits: int = 32,
) -> DataFrame:
    """Document pairs whose SimHash fingerprints are within max_hamming
    bits, via pigeonhole banding (``_hamming_edges`` over every
    within-bucket pair) — guaranteed recall, so results are
    bit-identical to the naive O(n^2) cross join the oracle runs.  The
    fingerprint table is checkpointed so the candidate join and the
    verify join share one computation.  Output: (id_a, id_b, hamming).

    SCALE CONTRACT — block width bounds everything: expected bucket size
    is n / 2^(bits // (max_hamming+1)), so candidate volume is
    ~(max_hamming+1) * n^2 / 2^width.  Measured at an sf1 probe: 32/6
    gives 5-bit blocks (32 bucket values — n^2/32 candidates, x61 wall
    on 10x docs), while 60/3 gives 15-bit blocks (32768 values — the
    same probe runs linearly).  Keep ``2^(bits // (max_hamming+1)) >> n
    / desired bucket size``; past ~5M docs move to multiple permuted
    fingerprint tables (Manku et al. 2007 §3) rather than wider single
    blocks.
    """
    fp = simhash_fingerprint(df, id_col, text_col, n=n, bits=bits).localCheckpoint(eager=False)
    return _hamming_edges(fp, id_col, max_hamming, bits, _bucket_pairs)


def simhash_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_hamming: int = 6,
    bits: int = 32,
) -> DataFrame:
    """Near-dup EDGES under Hamming banding for component-style dedup:
    ``_bucket_stars`` over the block buckets, verified on the full
    fingerprints like the pair path — the SimHash twin of
    ``minhash_lsh_edges``.  A k-member duplicate clique (identical
    fingerprints, one hot bucket per block) contributes k-1 edges per
    block instead of ``simhash_pairs``' k^2/2.

    Pigeonhole guarantees every pair within ``max_hamming`` shares a
    block, so the star recall sliver is pairs co-bucketed ONLY under a
    smaller fingerprint that matches neither — rare by construction at
    the 60/3 operating point where chance block collisions are
    ~n/32768 per bucket.  Output shape matches ``simhash_pairs``:
    (id_a, id_b, hamming), id_a < id_b.
    """
    fp = simhash_fingerprint(df, id_col, text_col, n=n, bits=bits).localCheckpoint(eager=False)
    return _hamming_edges(fp, id_col, max_hamming, bits, _bucket_stars)


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
