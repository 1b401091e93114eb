"""Property-based tests (hypothesis) for the invariants SURVEY §5 calls
out: split disjointness/exhaustiveness/determinism on arbitrary
interaction tables, and weighted-rating shrinkage bounds."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.functions.weighted import weighted_rating
from movie_recommendation_engine_spark.operators.sampling import split_assign

pairs_strategy = st.lists(
    st.tuples(st.integers(1, 5), st.integers(1, 60)),
    min_size=4,
    max_size=40,
    unique=True,
)


@settings(max_examples=8, deadline=None)
@given(pairs=pairs_strategy)
def test_split_invariants_hold_for_any_table(spark_global, pairs):
    spark = spark_global
    df = spark.createDataFrame(pairs, "userId int, movieId int")
    labeled = split_assign(df, group_col="userId", key_cols=["userId", "movieId"])
    rows = labeled.collect()
    # exhaustive + disjoint: every input row appears exactly once, labeled
    assert sorted((r.userId, r.movieId) for r in rows) == sorted(pairs)
    assert all(r.split in ("validation", "test", "train") for r in rows)
    # per-group counts respect the cumulative ceil boundaries
    by_user: dict[int, dict[str, int]] = {}
    totals: dict[int, int] = {}
    for r in rows:
        by_user.setdefault(r.userId, {}).setdefault(r.split, 0)
        by_user[r.userId][r.split] += 1
        totals[r.userId] = totals.get(r.userId, 0) + 1
    for u, n in totals.items():
        got_val = by_user[u].get("validation", 0)
        got_test = by_user[u].get("test", 0)
        assert got_val == math.ceil(0.25 * n)
        assert got_val + got_test == math.ceil(0.50 * n)
    # deterministic under repartitioning
    again = split_assign(
        df.repartition(7), group_col="userId", key_cols=["userId", "movieId"]
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@settings(max_examples=8, deadline=None)
@given(
    v=st.integers(1, 1000),
    r=st.floats(0.5, 5.0),
    floor=st.integers(1, 500),
    gm=st.floats(0.5, 5.0),
)
def test_weighted_rating_is_convex_combination(spark_global, v, r, floor, gm):
    """score = w*r + (1-w)*gm with w = v/(v+floor) in (0,1) — so the
    score always lies between the item mean and the global mean."""
    spark = spark_global
    df = spark.range(1).select(
        weighted_rating(
            F.lit(v), F.lit(r), F.lit(float(floor)), F.lit(gm)
        ).alias("s")
    )
    s = df.collect()[0].s
    lo, hi = min(r, gm), max(r, gm)
    assert lo - 1e-9 <= s <= hi + 1e-9


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark_global, edges):
    """Join-based min-label propagation must agree with a driver-side
    union-find on arbitrary small graphs (self-loops and duplicate
    edges included)."""
    from movie_recommendation_engine_spark.operators.graph import connected_components

    spark = spark_global
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    # threshold 0 forces the distributed propagation path — the point of
    # this property is propagation vs union-find, not the small-graph
    # shortcut (which IS a union-find)
    got = {r.id: r.comp for r in connected_components(df, small_graph_threshold=0).collect()}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    n_tokens=st.integers(1, 120),
    chunk_size=st.integers(2, 30),
    overlap_frac=st.floats(0.0, 0.9),
)
def test_chunking_invariants(spark_global, n_tokens, chunk_size, overlap_frac):
    """Chunks tile the document: stepped starts cover every token, each
    chunk is at most chunk_size tokens, consecutive chunks share exactly
    `overlap` tokens, and de-overlapped concatenation rebuilds the doc."""
    from movie_recommendation_engine_spark.operators.text import chunk_tokens

    overlap = min(int(chunk_size * overlap_frac), chunk_size - 1)
    step = chunk_size - overlap
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark_global.createDataFrame([(1, " ".join(toks))], "doc_id int, text string")
    got = sorted(
        (r.chunk_idx, r.chunk_text.split(" "))
        for r in chunk_tokens(df, "doc_id", "text", chunk_size, overlap).collect()
    )
    assert [i for i, _ in got] == list(range(len(got)))
    assert all(len(c) <= chunk_size for _, c in got)
    rebuilt = list(got[0][1])
    for (_, prev), (_, cur) in zip(got, got[1:]):
        shared = min(overlap, len(cur))
        assert prev[step : step + shared] == cur[:shared]
        rebuilt.extend(cur[shared:] if len(prev) == chunk_size else cur[len(prev) - step:])
    assert rebuilt == toks


@settings(max_examples=6, deadline=None)
@given(
    keys=st.sets(st.integers(0, 10_000), min_size=1, max_size=60),
    probes=st.sets(st.integers(0, 10_000), min_size=1, max_size=60),
)
def test_bloom_never_false_negative(spark_global, keys, probes):
    from movie_recommendation_engine_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom,
    )

    spark = spark_global
    small = spark.createDataFrame([(k,) for k in keys], "k long")
    bm = build_bloom(small, "k", num_bits=1 << 12, num_hashes=3)
    probe = spark.createDataFrame([(p,) for p in probes], "k long")
    passed = {
        r.k
        for r in probe.filter(
            bloom_might_contain(bm, "k", num_hashes=3)
        ).collect()
    }
    assert keys & probes <= passed  # every true member survives


@settings(max_examples=6, deadline=None)
@given(
    labels=st.lists(st.sampled_from(["a", "b", "c"]), min_size=3, max_size=60),
)
def test_balance_classes_invariants(spark_global, labels):
    from movie_recommendation_engine_spark.operators.sampling import balance_classes

    rows = [(i, lab) for i, lab in enumerate(labels)]
    df = spark_global.createDataFrame(rows, "id long, label string")
    from collections import Counter

    counts = Counter(labels)
    k = min(counts.values())
    out = balance_classes(df, "label", ["id"]).collect()
    got = Counter(r.label for r in out)
    assert set(got) == set(counts) and all(v == k for v in got.values())
    # selection is a subset of the input
    assert {(r.id, r.label) for r in out} <= set(rows)


words_strategy = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x"]), min_size=1, max_size=30
)


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(words_strategy, min_size=1, max_size=6))
def test_repetition_signal_bounds_any_corpus(spark_global, docs):
    from movie_recommendation_engine_spark.operators.text import repetition_signals

    spark = spark_global
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for r in repetition_signals(df, "doc_id", "text").collect():
        ws = docs[r.doc_id]
        assert r.n_tokens == len(ws)
        assert 0.0 <= r.dup_word_frac < 1.0
        assert 0.0 < r.top_bigram_frac <= 1.0
        assert 1 <= r.max_token_run <= len(ws)
        # longest run computed independently
        best = run = 1
        for a, b in zip(ws, ws[1:]):
            run = run + 1 if a == b else 1
            best = max(best, run)
        assert r.max_token_run == best


@settings(max_examples=6, deadline=None)
@given(docs=st.lists(words_strategy, min_size=1, max_size=6))
def test_unigram_logprob_micro_units_partition_independent(spark_global, docs):
    """The micro-unit LM convention (round-4): per-token ln P quantized
    once on the model table, per-doc sums exact BIGINT — so the score is
    (a) bit-identical under any repartitioning (the float-avg it
    replaced was summation-order-dependent) and (b) equal to a pure-
    Python recompute of the same integer arithmetic."""
    from movie_recommendation_engine_spark.operators.text import unigram_logprob

    spark = spark_global
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got1 = {r.doc_id: r for r in unigram_logprob(df.coalesce(1), "doc_id", "text").collect()}
    got7 = {r.doc_id: r for r in unigram_logprob(df.repartition(7), "doc_id", "text").collect()}
    assert {k: (v.n_tokens, v.avg_logprob) for k, v in got1.items()} == {
        k: (v.n_tokens, v.avg_logprob) for k, v in got7.items()
    }
    # independent integer recompute
    from collections import Counter

    tf = Counter(w for ws in docs for w in ws)
    tot = sum(tf.values())
    micro = {w: math.floor(math.log(n / tot) * 1_000_000) for w, n in tf.items()}
    for i, ws in enumerate(docs):
        s = sum(micro[w] for w in ws)
        want = math.floor(s / len(ws) / 1_000_000 * 1_000_000 + 0.5) / 1_000_000
        assert got1[i].n_tokens == len(ws)
        assert got1[i].avg_logprob == want


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_pagerank_mass_and_floor_any_graph(spark_global, edges):
    from movie_recommendation_engine_spark.operators.graph import pagerank

    spark = spark_global
    node_ids = sorted({v for e in edges for v in e})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id int")
    e = spark.createDataFrame(edges, "u int, v int")
    out = pagerank(nodes, e, "id", "u", "v", iterations=2).collect()
    assert len(out) == len(node_ids)
    n = len(node_ids)
    for r in out:
        # reset floor and (leaky) mass conservation: total <= N, each >= 0.15
        assert r.pagerank >= 0.15
    assert sum(r.pagerank for r in out) <= n + 1e-9


@settings(max_examples=10, deadline=None)
@given(
    nums=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 10_000)),
        min_size=1,
        max_size=20,
    )
)
def test_det_round_matches_decimal_half_up_off_ties(spark_global, nums):
    """det_round must agree with exact decimal HALF_UP whenever the true
    ratio is NOT a representation-boundary case — and be internally
    deterministic always (its whole reason to exist)."""
    from decimal import ROUND_HALF_UP, Decimal

    from movie_recommendation_engine_spark.functions.rounding import det_round

    spark = spark_global
    df = spark.createDataFrame(nums, "a long, b long")
    got = {
        (r.a, r.b): r.r
        for r in df.select("a", "b", det_round(F.col("a") / F.col("b")).alias("r")).collect()
    }
    for a, b in nums:
        want = float(
            (Decimal(a) / Decimal(b)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        # binary double of a/b can sit just below an exact-decimal tie;
        # allow the one-ulp-at-scale-6 divergence ONLY at .5 boundaries
        exact = (Decimal(a) / Decimal(b)).scaleb(6) % 1 == Decimal("0.5")
        if not exact:
            assert got[(a, b)] == want, (a, b)
        else:
            assert abs(got[(a, b)] - want) <= 1e-6


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.floats(-5, 5, allow_nan=False, width=32), min_size=4, max_size=4),
        min_size=2,
        max_size=12,
    )
)
def test_semdedup_invariants_any_corpus(spark_global, vecs):
    """For any corpus: output is one row per vector; per duplicate pair
    the LOWEST id always survives (a vector can only be dropped against
    a smaller-id cluster-mate); a singleton cluster never drops; and the
    result is partitioning-independent."""
    from movie_recommendation_engine_spark.operators.similarity import semdedup

    spark = spark_global
    rows = [(i + 1, [float(x) for x in v]) for i, v in enumerate(vecs)]
    # skip all-zero vectors: cosine is undefined (null) for them
    rows = [(i, v) for i, v in rows if any(x != 0.0 for x in v)]
    if len(rows) < 2:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(df, tau=0.95, cent_mod=3).collect()
    assert sorted(r.vec_id for r in out) == sorted(i for i, _ in rows)
    by_cent: dict[int, list] = {}
    for r in out:
        by_cent.setdefault(r.cent_id, []).append(r)
    for members in by_cent.values():
        # the smallest id in every cluster can never be a duplicate
        smallest = min(m.vec_id for m in members)
        assert not next(m for m in members if m.vec_id == smallest).is_dup or any(
            m.vec_id < smallest for m in members
        )
        if len(members) == 1:
            assert not members[0].is_dup
    again = semdedup(df.repartition(5), tau=0.95, cent_mod=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.floats(-100, 100, allow_nan=False, width=32), min_size=3, max_size=3),
        min_size=2,
        max_size=10,
    )
)
def test_sq8_idempotent_and_range_preserving(spark_global, vecs):
    """Quantizing an already-reconstructed corpus is a fixed point
    (codes re-derive themselves), and reconstructions stay inside the
    per-dimension [lo, hi] envelope."""
    from movie_recommendation_engine_spark.operators.similarity import sq8_reconstruct

    spark = spark_global
    rows = [(i + 1, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rec1 = {r.vec_id: r.v for r in sq8_reconstruct(df).collect()}
    for d in range(3):
        lo = min(v[d] for _, v in rows)
        hi = max(v[d] for _, v in rows)
        for v in rec1.values():
            assert lo - 1e-9 <= v[d] <= hi + 1e-9
    df2 = spark.createDataFrame(
        [(k, v) for k, v in rec1.items()], "vec_id long, embedding array<double>"
    )
    rec2 = {r.vec_id: r.v for r in sq8_reconstruct(df2).collect()}
    for k in rec1:
        for a, b in zip(rec1[k], rec2[k]):
            assert abs(a - b) <= 1e-9, (k, rec1[k], rec2[k])
