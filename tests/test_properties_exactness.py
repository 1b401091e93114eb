"""Randomized brute-force-equivalence properties (hypothesis) for the
optimized operators whose docstrings promise EXACT results, not
approximations: PPJoin prefix filtering (identical to the all-pairs
join), SimHash pigeonhole banding (identical to the naive O(n^2)
Hamming scan), and the as-of join (per-row latest-prior-quote
semantics).  The example-based tests pin known corpora; these drive the
same claims over arbitrary generated inputs, where the pruning /
banding edge cases (empty prefixes, all-identical docs, duplicate
timestamps, tie groups) appear in combinations nobody hand-writes.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

VOCAB = ["red", "blue", "green", "ship", "anchor"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8).map(" ".join),
    min_size=2,
    max_size=10,
)


def _shingle_set(text: str, n: int) -> frozenset[str]:
    """Python mirror of operators.text.word_shingles: distinct word
    n-grams of the whitespace-normalized, lower-cased text; fewer than n
    words collapse to the whole text as one shingle."""
    words = text.strip().lower().split()
    if len(words) < n:
        return frozenset([" ".join(words)])
    return frozenset(
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    )


@settings(max_examples=6, deadline=None)
@given(docs=docs_strategy, threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_ppjoin_equals_bruteforce_any_corpus(spark_global, docs, threshold):
    """prefix_filtered_jaccard_pairs is EXACT: for any corpus and any
    threshold, the prefix-filtered result is identical (pairs and
    jaccard values) to the brute-force all-pairs scan."""
    from movie_recommendation_engine_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    spark = spark_global
    df = spark.createDataFrame(list(enumerate(docs)), "id int, body string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filtered_jaccard_pairs(
            df, "id", "body", n=2, threshold=threshold
        ).collect()
    }

    sets = {i: _shingle_set(t, 2) for i, t in enumerate(docs)}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = inter / union
        if j >= threshold:
            want[(a, b)] = j

    assert set(got) == set(want)
    for pair, j in want.items():
        # the operator det-rounds jaccard to 6 dp
        assert abs(got[pair] - j) < 1e-6, (pair, got[pair], j)


@settings(max_examples=6, deadline=None)
@given(docs=docs_strategy, max_hamming=st.sampled_from([2, 4, 6]))
def test_simhash_banding_equals_bruteforce_any_corpus(
    spark_global, docs, max_hamming
):
    """simhash_pairs' pigeonhole banding is EXACT given the
    fingerprints: its (id_a, id_b, hamming) output equals the naive
    all-pairs Hamming scan over the same simhash_fingerprint table —
    guaranteed recall (no pair within budget missed) AND no spurious or
    duplicated pairs from multi-band bucket collisions."""
    from movie_recommendation_engine_spark.operators.dedup import (
        simhash_fingerprint,
        simhash_pairs,
    )

    spark = spark_global
    df = spark.createDataFrame(list(enumerate(docs)), "id int, body string")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(
            df, "id", "body", n=2, max_hamming=max_hamming, bits=32
        ).collect()
    )

    fp = {
        r.id: r.simhash
        for r in simhash_fingerprint(df, "id", "body", n=2, bits=32).collect()
    }
    want = sorted(
        (a, b, (fp[a] ^ fp[b]).bit_count())
        for a, b in itertools.combinations(sorted(fp), 2)
        if (fp[a] ^ fp[b]).bit_count() <= max_hamming
    )
    assert got == want


quotes_strategy = st.lists(
    st.tuples(
        st.integers(1, 3),  # key
        st.integers(0, 20),  # ts
        st.integers(-5, 5),  # payload / tiebreak value
    ),
    min_size=1,
    max_size=25,
)

events_strategy = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 20)),
    min_size=1,
    max_size=15,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(events=events_strategy, quotes=quotes_strategy)
def test_asof_join_equals_bruteforce_any_tables(spark_global, events, quotes):
    """asof_join == per-left-row brute force: the right row with the
    greatest ts <= left ts for that key, ties on ts broken by the
    greatest tiebreak value; null payload when no prior row exists —
    including duplicate quote timestamps and multi-row tie groups."""
    from movie_recommendation_engine_spark.operators.asof import asof_join

    spark = spark_global
    left = spark.createDataFrame(events, "k int, ts int")
    right = spark.createDataFrame(quotes, "k int, ts int, px int")
    got = {
        (r.k, r.ts): r.px_right
        for r in asof_join(
            left, right, on="ts", by=["k"], right_cols=["px"]
        ).collect()
    }

    assert set(got) == set(events)
    for k, ts in events:
        prior = [(qts, px) for qk, qts, px in quotes if qk == k and qts <= ts]
        want = max(prior)[1] if prior else None
        assert got[(k, ts)] == want, ((k, ts), got[(k, ts)], want, prior)
