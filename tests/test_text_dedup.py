"""Text-analysis and dedup operator semantics on hand-made fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.operators import text as X
from movie_recommendation_engine_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    prefix_filtered_jaccard_pairs,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "  The quick   brown fox jumps over the lazy dog "),  # = 1 after norm
        (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (4, "completely different words entirely unrelated content here now"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_token_counts_and_ratios(spark, docs):
    r = {
        x.doc_id: x
        for x in docs.select(
            "doc_id",
            X.ws_token_count("text").alias("n"),
            X.punct_ratio("text").alias("p"),
            X.stopword_ratio("text").alias("s"),
        ).collect()
    }
    assert r[1].n == 9
    assert r[2].n == 9  # whitespace collapsed by normalization
    assert r[1].p == 0.0
    assert abs(r[1].s - 2 / 9) < 1e-9  # 'the' twice


def test_exact_dedup_collapses_normalized_equal(spark, docs):
    out = exact_dedup(docs, "doc_id", "text").collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    assert by_id[1] == 2  # docs 1 and 2 collapse, min id kept
    assert 2 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        docs, "doc_id", "text", n=2, threshold=0.4
    ).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after norm
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_prefix_filter_equals_bruteforce(spark, docs):
    """Prefix filtering is a candidate-pruning technique with guaranteed
    recall — its output must be identical to the full inverted-index path."""
    for t in (0.3, 0.5, 0.8):
        full = set(
            map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=t).collect())
        )
        pref = set(
            map(
                tuple,
                prefix_filtered_jaccard_pairs(
                    docs, "doc_id", "text", n=2, threshold=t
                ).collect(),
            )
        )
        assert pref == full


def test_minhash_agrees_with_bruteforce_on_strong_pairs(spark, docs):
    mh = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.4
    ).collect()}
    assert (1, 2) in mh and (1, 3) in mh


def test_simhash_identical_docs_zero_hamming(spark, docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(
        docs, "doc_id", "text", max_hamming=10
    ).collect()}
    assert pairs[(1, 2)] == 0


def test_edge_whitespace_is_one_document_to_every_dedup_operator(spark):
    """A tab-led, newline-ended copy is the same document to the fuzzy
    operators as to exact dedup: shingles come from ``normalize_text``'s
    words, so the padding adds no ' red' / 'ship ' shingles (a trim that
    strips spaces only, before collapsing whitespace, left both and
    scored the pair Jaccard 0.5)."""
    from test_properties_exactness import _shingle_set

    texts = {1: "\tred blue ship\n", 2: "red blue ship"}
    df = spark.createDataFrame(sorted(texts.items()), "doc_id int, text string")
    for op in (prefix_filtered_jaccard_pairs, ngram_jaccard_pairs, minhash_lsh_pairs):
        got = [(r.id_a, r.id_b, r.jaccard) for r in op(
            df, "doc_id", "text", n=2, threshold=0.5
        ).collect()]
        assert got == [(1, 2, 1.0)], op.__name__
    got = [(r.id_a, r.id_b, r.hamming) for r in simhash_pairs(
        df, "doc_id", "text", n=2, max_hamming=3, bits=60
    ).collect()]
    assert got == [(1, 2, 0)]
    out = exact_dedup(df, "doc_id", "text").collect()
    assert [(r.doc_id, r.n_copies) for r in out] == [(1, 2)]

    from movie_recommendation_engine_spark.operators.text import word_shingles

    sh = {r.doc_id: r.s for r in df.select(
        "doc_id", word_shingles("text", n=2).alias("s")
    ).collect()}
    for i, t in texts.items():
        assert len(sh[i]) == len(set(sh[i])) and set(sh[i]) == _shingle_set(t, 2)


def test_simhash_packed_equals_per_bit(spark, docs):
    """The lane-packed vote aggregation is a physical optimization only:
    fingerprints must equal the 32-sum per-bit path bit-for-bit."""
    from movie_recommendation_engine_spark.operators.dedup import simhash_fingerprint

    packed = {
        r.doc_id: r.simhash
        for r in simhash_fingerprint(docs, "doc_id", "text", packed=True).collect()
    }
    plain = {
        r.doc_id: r.simhash
        for r in simhash_fingerprint(docs, "doc_id", "text", packed=False).collect()
    }
    assert packed == plain and len(packed) == 4


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "le chat et la maison des gens est"),
            (3, "der hund und die katze ist nicht hier"),
            (4, "xyzzy qwerty plugh"),
            (5, "你好世界"),
        ],
        "doc_id int, text string",
    )
    r = {x.doc_id: x.p for x in df.select("doc_id", X.lang_id("text").alias("p")).collect()}
    assert r[1] == "en" and r[2] == "fr" and r[3] == "de" and r[4] == "und" and r[5] == "zh"


def test_connected_components_chain_and_clique(spark):
    """A 4-chain, a 2-clique and an isolated pair edge: min-label
    propagation must find min-id components in bounded rounds."""
    from movie_recommendation_engine_spark.operators.graph import (
        connected_components,
        dedup_canonical,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a int, id_b int",
    )
    comps = {r.id: r.comp for r in connected_components(edges, small_graph_threshold=0).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id int")
    canon = {r.doc_id: (r.component, r.is_canonical) for r in dedup_canonical(all_ids, edges).collect()}
    assert canon[99] == (99, True)  # isolated doc is its own canonical
    assert canon[4] == (1, False)
    assert canon[1] == (1, True)


def test_tfidf_hand_computed(spark):
    """Two docs, hand-checked smoothed TF-IDF values."""
    import math

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog fish")], "doc_id int, text string"
    )
    out = {(r.doc_id, r.term): r for r in X.tf_idf(df, "doc_id", "text").collect()}
    # idf: N=2; df(cat)=1 -> ln(3/2)+1; df(dog)=2 -> ln(3/3)+1 = 1
    idf_cat = math.log(3 / 2) + 1
    r = out[(1, "cat")]
    assert abs(r.tf - round(2 / 3, 6)) < 1e-9
    assert abs(r.idf - round(idf_cat, 6)) < 1e-6
    assert abs(r.tf_idf - round((2 / 3) * idf_cat, 6)) < 1e-6
    assert out[(1, "dog")].idf == 1.0 and out[(2, "dog")].idf == 1.0
    assert abs(out[(2, "fish")].tf - 0.5) < 1e-9


def test_redact_pii_all_kinds(spark):
    from movie_recommendation_engine_spark.operators.text import pii_count, redact_pii

    rows = [
        (1, "mail me at jo.doe+x@sub.example.co.uk please"),
        (2, "see https://a.b/c?q=1&r=2#frag and http://plain.org/x"),
        (3, "call +1 (212) 555-0100 now"),
        (4, "nothing sensitive here"),
        (5, "combo a@b.io via https://t.co/z +44 20 7946 0958 end"),
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    out = {
        r.id: r
        for r in df.select(
            "id",
            redact_pii("t").alias("clean"),
            pii_count("t", "EMAIL").alias("ne"),
            pii_count("t", "URL").alias("nu"),
            pii_count("t", "PHONE").alias("np"),
        ).collect()
    }
    assert out[1].clean == "mail me at <EMAIL> please" and out[1].ne == 1
    assert out[2].clean == "see <URL> and <URL>" and out[2].nu == 2
    assert out[3].clean == "call <PHONE> now" and out[3].np == 1
    assert out[4].clean == "nothing sensitive here"
    assert out[5].clean == "combo <EMAIL> via <URL> <PHONE> end"


def test_chunk_tokens_windows_and_tail(spark):
    import pytest as _pytest

    from movie_recommendation_engine_spark.operators.text import chunk_tokens

    words = [f"w{i}" for i in range(12)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo")], "doc_id int, text string"
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
        for r in chunk_tokens(df, "doc_id", "text", chunk_size=5, overlap=2).collect()
    }
    # doc 1: 12 tokens, step 3 -> starts 0,3,6,9 -> sizes 5,5,5,3
    assert got[(1, 0)] == (5, "w0 w1 w2 w3 w4")
    assert got[(1, 1)] == (5, "w3 w4 w5 w6 w7")
    assert got[(1, 2)] == (5, "w6 w7 w8 w9 w10")
    assert got[(1, 3)] == (3, "w9 w10 w11")
    # consecutive chunks share exactly `overlap` tokens
    assert got[(1, 0)][1].split()[-2:] == got[(1, 1)][1].split()[:2]
    # 1-token doc -> one short chunk
    assert got[(2, 0)] == (1, "solo")
    assert len(got) == 5
    with _pytest.raises(ValueError):
        chunk_tokens(df, "doc_id", "text", chunk_size=5, overlap=5)


def test_small_graph_shortcut_matches_propagation(spark):
    from movie_recommendation_engine_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (5, 4)], "id_a int, id_b int"
    )
    fast = {r.id: r.comp for r in connected_components(edges).collect()}
    slow = {r.id: r.comp
            for r in connected_components(edges, small_graph_threshold=0).collect()}
    assert fast == slow
    assert fast[3] == 1 and fast[11] == 10 and fast[20] == 20 and fast[4] == 4


def test_cross_split_contamination_flags_copied_spans(spark):
    from movie_recommendation_engine_spark.operators.dedup import (
        cross_split_contamination,
    )

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (10, "zzz alpha beta gamma delta epsilon yyy"),  # copied 5-gram span
            (11, "totally fresh words nothing shared here at all"),
            (12, "one two three four banana six seven"),  # break the 5-gram chain
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r.doc_id for r in cross_split_contamination(train, ev, "doc_id", "text").collect()
    )
    assert got == [10]


def test_repetition_signals_hand_computed(spark):
    rows = [
        (1, "a a a b"),          # max run 3, dup frac 1 - 2/4
        (2, "x y x y x"),        # no adjacent repeats; top bigram 'x y' 2/4
        (3, "unique words only"),
        (4, "w"),                # single token: bigram collapses to whole text
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    r = {x.doc_id: x for x in X.repetition_signals(df, "doc_id", "text").collect()}
    assert (r[1].n_tokens, r[1].max_token_run) == (4, 3)
    assert r[1].dup_word_frac == 0.5
    assert r[2].max_token_run == 1
    assert r[2].top_bigram_frac == 0.5  # 'x y' twice of 4 bigrams
    assert r[3].dup_word_frac == 0.0 and r[3].max_token_run == 1
    assert (r[4].n_tokens, r[4].top_bigram_frac) == (1, 1.0)


def test_shingle_novelty_attributes_to_first_doc(spark):
    rows = [
        (1, "p q r s t"),
        (2, "p q r s t"),          # exact copy: every shingle seen in 1
        (3, "p q r completely new tail here"),  # shares the 'p q r' trigram
        (4, "totally fresh content"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    r = {x.doc_id: x for x in X.shingle_novelty(df, "doc_id", "text", n=3).collect()}
    assert r[1].n_seen_before == 0 and r[1].novelty_frac == 1.0
    assert r[2].n_seen_before == r[2].n_shingles and r[2].novelty_frac == 0.0
    assert r[3].n_seen_before == 1  # only 'p q r'
    assert r[4].novelty_frac == 1.0


def test_pagerank_micro_unit_hand_computed(spark):
    from movie_recommendation_engine_spark.operators.graph import pagerank

    # directed triangle + dangling sink d: a->b, b->a, a->c, c->a, b->c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c")], "u string, v string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "id string")
    r = {
        x.id: x.pagerank
        for x in pagerank(nodes, edges, "id", "u", "v", iterations=1).collect()
    }
    # micro-units: everyone starts at 1_000_000; outdeg a=2, b=2, c=1
    # a <- b/2 + c/1 = 1_500_000 -> 150_000 + 85*1_500_000//100
    assert r["a"] == (150_000 + 85 * 1_500_000 // 100) / 1e6
    # b <- a/2 = 500_000
    assert r["b"] == (150_000 + 85 * 500_000 // 100) / 1e6
    # c <- a/2 + b/2 = 1_000_000
    assert r["c"] == (150_000 + 85 * 1_000_000 // 100) / 1e6
    # d has no in-edges: reset floor only
    assert r["d"] == 0.15


def test_ngram_pack_guard_rejects_out_of_range_ids(spark):
    """Pair-key packing requires 0 <= id < 2^31; a bigint id outside that
    range must raise loudly, never silently decode to a wrong pair
    (the dtype alone doesn't prove the bound)."""
    import pytest
    from py4j.protocol import Py4JJavaError

    rows = [
        (1, "alpha beta gamma delta"),
        (2**31 + 7, "alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(Exception) as exc:
        ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.1).collect()
    assert "packable range" in str(exc.value)
    # negative ids rejected too
    df2 = spark.createDataFrame(
        [(-1, "alpha beta gamma"), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    with pytest.raises(Exception) as exc2:
        ngram_jaccard_pairs(df2, "doc_id", "text", n=2, threshold=0.1).collect()
    assert "packable range" in str(exc2.value)
    # in-range ids still work end-to-end through the packed path
    ok = ngram_jaccard_pairs(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
            "doc_id long, text string",
        ),
        "doc_id",
        "text",
        n=2,
        threshold=0.5,
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in ok] == [(1, 2, 1.0)]


def test_simhash_packed_survives_33k_shingles(spark):
    """Lane-packing budget: with four 16-bit lanes the
    TOP lane's sum overflowed signed 64 at 32768 shingles — half the
    documented budget.  Three 21-bit lanes hold to ~2.1M; a 33k-distinct-
    shingle document must fingerprint identically packed and unpacked."""
    from movie_recommendation_engine_spark.operators.dedup import (
        simhash_fingerprint,
    )

    text = " ".join(f"w{i}" for i in range(33_000))
    df = spark.createDataFrame([(1, text)], "doc_id int, body string")
    packed = simhash_fingerprint(df, "doc_id", "body", packed=True).collect()
    plain = simhash_fingerprint(df, "doc_id", "body", packed=False).collect()
    assert packed == plain


def test_repetition_top_bigram_linear_fold_matches_counting(spark):
    """The sorted-run fold must equal the bigram mode count exactly,
    including the empty-bigram NULL (single-word doc)."""
    from movie_recommendation_engine_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "a b a b a c"),   # bigrams: ab ba ab ba ac -> top 'a b' x2 of 5
            (2, "x x x x"),       # 'x x' x3 of 3
            (3, "solo"),          # word_ngrams falls back to the unigram
        ],
        "doc_id int, body string",
    )
    got = {r.doc_id: r.top_bigram_frac for r in
           repetition_signals(df, "doc_id", "body").collect()}
    assert got[1] == 0.4
    assert got[2] == 1.0
    assert got[3] == 1.0  # [solo] -> run 1 of 1, same as the old counting


def test_ancestor_roots_raises_when_forest_deeper_than_rounds(spark):
    """Silent-truncation guard: a chain deeper than
    2^rounds raises instead of returning a non-root 'root'."""
    import pytest

    from movie_recommendation_engine_spark.operators.graph import ancestor_roots

    chain = spark.createDataFrame(
        [(i, i - 1 if i else None) for i in range(40)], "node long, parent long"
    )
    with pytest.raises(RuntimeError, match="unresolved"):
        ancestor_roots(chain, "node", "parent", rounds=5).collect()
    out = ancestor_roots(chain, "node", "parent", rounds=6)
    assert out.filter("node = 39").collect()[0].depth == 39


# ---- duplicate-clique boundedness -------------------------------------------


@pytest.fixture(scope="module")
def clique_docs(spark):
    """A 12-copy exact-duplicate clique + a near-dup pair + singletons —
    the duplicate-heavy shape the uniform scale generators never
    produce (hot LSH bucket)."""
    template = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(i, template) for i in range(1, 13)]
    rows += [
        (20, "november oscar papa quebec romeo sierra tango uniform victor"),
        (21, "november oscar papa quebec romeo sierra tango uniform whiskey"),
        (30, "one lonely document with its own entirely distinct words"),
        (31, "another isolated text sharing no bigrams with anything else"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_star_edges_linear_on_clique(spark, clique_docs):
    """A k-clique of exact copies yields k-1 star edges (all to the
    minimum id), not k(k-1)/2 pairs."""
    from movie_recommendation_engine_spark.operators.dedup import (
        minhash_lsh_edges,
    )

    edges = minhash_lsh_edges(
        clique_docs, "doc_id", "text", n=2, threshold=0.5
    ).collect()
    clique = [(r.id_a, r.id_b) for r in edges if r.id_b <= 12]
    assert sorted(clique) == [(1, b) for b in range(2, 13)]  # star to min
    assert all(r.jaccard == 1.0 for r in edges if r.id_b <= 12)
    assert {(r.id_a, r.id_b) for r in edges if r.id_a >= 20} == {(20, 21)}


def test_star_components_match_full_pair_components(spark, clique_docs):
    """dedup_canonical over star edges reaches the same components as
    over the full (uncapped) pair graph on the clique corpus."""
    from movie_recommendation_engine_spark.operators.dedup import (
        minhash_lsh_edges,
        minhash_lsh_pairs,
    )
    from movie_recommendation_engine_spark.operators.graph import (
        dedup_canonical,
    )

    kw = dict(n=2, threshold=0.5)
    star = dedup_canonical(
        clique_docs, minhash_lsh_edges(clique_docs, "doc_id", "text", **kw)
    )
    full = dedup_canonical(
        clique_docs,
        minhash_lsh_pairs(clique_docs, "doc_id", "text", max_bucket=None, **kw),
    )
    assert sorted(star.collect()) == sorted(full.collect())


def test_simhash_star_edges_linear_on_clique(spark, clique_docs):
    """The SimHash twin of the minhash star path — a k-clique of exact
    copies (identical fingerprints) yields k-1 star edges to the minimum
    id, not k(k-1)/2 pairs."""
    from movie_recommendation_engine_spark.operators.dedup import (
        simhash_edges,
    )

    edges = simhash_edges(
        clique_docs, "doc_id", "text", n=2, max_hamming=3, bits=60
    ).collect()
    clique = [(r.id_a, r.id_b) for r in edges if r.id_b <= 12]
    assert sorted(clique) == [(1, b) for b in range(2, 13)]  # star to min
    assert all(r.hamming == 0 for r in edges if r.id_b <= 12)


def test_simhash_star_components_match_full_pair_components(spark, clique_docs):
    """dedup_canonical over SimHash star edges reaches the same
    components as over the full simhash_pairs graph on the clique
    corpus — the same equality contract as the minhash star path."""
    from movie_recommendation_engine_spark.operators.dedup import (
        simhash_edges,
        simhash_pairs,
    )
    from movie_recommendation_engine_spark.operators.graph import (
        dedup_canonical,
    )

    kw = dict(n=2, max_hamming=3, bits=60)
    star = dedup_canonical(
        clique_docs, simhash_edges(clique_docs, "doc_id", "text", **kw)
    )
    full = dedup_canonical(
        clique_docs, simhash_pairs(clique_docs, "doc_id", "text", **kw)
    )
    assert sorted(star.collect()) == sorted(full.collect())


def test_capped_pairs_equal_uncapped_below_cap(spark, clique_docs, docs):
    """max_bucket larger than every bucket => identical output; a cap
    below the clique width truncates the clique's pair list to the
    cap's smallest ids while leaving non-clique pairs untouched."""
    from movie_recommendation_engine_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    kw = dict(n=2, threshold=0.5)
    for frame in (docs, clique_docs):
        uncapped = sorted(
            minhash_lsh_pairs(
                frame, "doc_id", "text", max_bucket=None, **kw
            ).collect()
        )
        capped = sorted(
            minhash_lsh_pairs(
                frame, "doc_id", "text", max_bucket=64, **kw
            ).collect()
        )
        assert capped == uncapped

    tight = minhash_lsh_pairs(
        clique_docs, "doc_id", "text", max_bucket=4, **kw
    ).collect()
    clique_pairs = {(r.id_a, r.id_b) for r in tight if r.id_b <= 12}
    # only the 4 smallest clique ids survive as candidates: C(4,2) pairs
    assert clique_pairs == {
        (a, b) for a in range(1, 5) for b in range(a + 1, 5)
    }
    assert {(r.id_a, r.id_b) for r in tight if r.id_a >= 20} == {(20, 21)}


def test_bare_minhash_lsh_pairs_caps_mega_clique(spark):
    """Safe default: a BARE minhash_lsh_pairs call (no max_bucket) on a
    duplicate mega-clique truncates the within-bucket candidates to the
    LSH_MAX_BUCKET smallest ids instead of emitting the full k^2/2 pair
    explosion — the quadratic crawl failure mode
    tools/dup_clique_probe.py demonstrates must not be the default."""
    from movie_recommendation_engine_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        minhash_lsh_pairs,
    )

    k = LSH_MAX_BUCKET + 44  # one clique wider than the cap
    text = "golf hotel india juliett kilo lima mike november oscar papa"
    docs = spark.createDataFrame(
        [(i, text) for i in range(1, k + 1)], "doc_id int, text string"
    )
    pairs = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    cap = LSH_MAX_BUCKET
    assert len(pairs) == cap * (cap - 1) // 2  # capped, not k*(k-1)/2
    assert max(max(r.id_a, r.id_b) for r in pairs) == cap  # smallest ids kept


def test_simhash_star_sliver_boundary(spark):
    """The ``simhash_edges`` recall sliver, pinned on the REAL
    construction (``_hamming_edges`` over ``_bucket_stars`` /
    ``_bucket_pairs``, the stages ``simhash_edges`` / ``simhash_pairs``
    run on their fingerprint tables) with hand-crafted fingerprints —
    the registry oracle mirrors the star construction, so it can never
    see this boundary, and identical-fingerprint cliques can never
    exercise it (verification cannot fail at hamming 0).

    bits=60 / max_hamming=3 -> 4 disjoint 15-bit blocks.  Craft a
    qualifying pair (b=2, c=3, hamming 3, differing only inside block
    0) shadowed by a smaller doc a=1 that shares blocks 1-3 with both
    (so a is the minimum of every bucket b and c co-occupy) but fails
    Hamming verification against each: the star tests only (a,b) and
    (a,c), both fail, and the qualifying (b,c) pair is DROPPED — the
    documented sliver, shown here dropping the component.  Moving one
    of a's difference bits into block 3 un-shadows bucket (blk3, 0):
    b and c co-occupy it without a, the (b,c) star edge is generated
    there, and the pair is RECOVERED via another block — the
    pigeonhole recovery path the docstring describes."""
    from movie_recommendation_engine_spark.operators.dedup import (
        _bucket_pairs,
        _bucket_stars,
        _hamming_edges,
    )

    B, C = 0, 0b111  # hamming(B, C) = 3, all inside block 0
    A_SHADOW = 0b111110000000000  # 5 high bits of block 0: blocks 1-3 = 0,
    # hamming(A,B) = 5 > 3 and hamming(A,C) = 8 > 3 -> a fails verify
    # against both, yet min()s every bucket {b, c} share (blocks 1-3)
    shadowed = spark.createDataFrame(
        [(1, A_SHADOW), (2, B), (3, C)], "doc_id int, simhash long"
    )
    star = {(r.id_a, r.id_b, r.hamming)
            for r in _hamming_edges(shadowed, "doc_id", 3, 60, _bucket_stars).collect()}
    pairs = {(r.id_a, r.id_b, r.hamming)
             for r in _hamming_edges(shadowed, "doc_id", 3, 60, _bucket_pairs).collect()}
    assert pairs == {(2, 3, 3)}  # the pair graph finds the qualifying pair
    assert star == set()         # the star path drops it: both edges to the
    # shadowing minimum fail verification — components under star edges
    # leave 2 and 3 separate where the pair graph merges them

    # recovery: a differs from b/c in block 3 too (4 bits in block 0 +
    # bit 45, so hamming(A,B)=5 and hamming(A,C)=4+1+3=8 still fail
    # verify) -> bucket (blk3, 0) holds only {b, c}, whose min is b,
    # so (b, c) IS tested
    A_OPEN = 0b11110000000000 | (1 << 45)
    opened = spark.createDataFrame(
        [(1, A_OPEN), (2, B), (3, C)], "doc_id int, simhash long"
    )
    star2 = {(r.id_a, r.id_b, r.hamming)
             for r in _hamming_edges(opened, "doc_id", 3, 60, _bucket_stars).collect()}
    pairs2 = {(r.id_a, r.id_b, r.hamming)
              for r in _hamming_edges(opened, "doc_id", 3, 60, _bucket_pairs).collect()}
    assert pairs2 == {(2, 3, 3)}
    assert star2 == {(2, 3, 3)}  # recovered via the un-shadowed block


def test_simhash_star_recall_on_near_dups(spark):
    """Quantify the simhash_edges recall sliver on a NEAR-dup corpus
    (perturbed copies, hamming > 0) — the clique equality test uses
    identical fingerprints where verification cannot fail, so it can
    never exercise the sliver.  Mirrors the
    MinHash ``test_star_recall_matches_exhaustive_on_near_dups``.

    Measured at this seed: at the documented 60/3 operating point the
    star components EQUAL the exhaustive pair-graph components (recall
    1.0); at 60/6 (5 blocks of 12 bits — more chance co-bucketing, so
    more shadowing minima) the sliver manifests as one lost merge,
    pairwise same-component recall 28/29 = 0.966.  Both operating
    points must stay above the 0.9 floor, and star components must
    REFINE exhaustive ones (star edges are Hamming-verified, hence a
    subset of the pair graph — the star can lose merges, never invent
    them)."""
    import random
    from collections import defaultdict

    from movie_recommendation_engine_spark.operators.dedup import (
        simhash_edges,
        simhash_pairs,
    )
    from movie_recommendation_engine_spark.operators.graph import (
        dedup_canonical,
    )

    rng = random.Random(1031)
    vocab = [f"w{i:02d}" for i in range(60)]
    rows, doc_id = [], 1
    for _ in range(6):  # 6 near-dup groups of 4-7 perturbed copies
        base = rng.sample(vocab, 14)
        for _ in range(rng.randint(4, 7)):
            words = list(base)
            for _ in range(rng.randint(0, 2)):  # light perturbation
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(words)))
            doc_id += 1
    for _ in range(10):  # singletons: unrelated docs
        rows.append((doc_id, " ".join(rng.sample(vocab, 14))))
        doc_id += 1
    rng.shuffle(rows)  # ids not grouped -> bucket minima are arbitrary
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    def same_comp_pairs(assign):
        by_comp = defaultdict(set)
        for r in assign:
            by_comp[r.component].add(r.doc_id)
        return {
            frozenset((a, b))
            for members in by_comp.values()
            for a in members
            for b in members
            if a < b
        }

    for max_hamming, expect_equal in ((3, True), (6, False)):
        kw = dict(n=2, max_hamming=max_hamming, bits=60)
        star = same_comp_pairs(
            dedup_canonical(docs, simhash_edges(docs, "doc_id", "text", **kw))
            .collect()
        )
        exhaustive = same_comp_pairs(
            dedup_canonical(docs, simhash_pairs(docs, "doc_id", "text", **kw))
            .collect()
        )
        assert star <= exhaustive  # refinement: never an invented merge
        recall = len(star & exhaustive) / len(exhaustive)
        assert recall >= 0.9, (max_hamming, recall)
        if expect_equal:  # the documented 60/3 operating point
            assert star == exhaustive


def test_star_recall_matches_exhaustive_on_near_dups(spark):
    """Cross-check: dedup components from star edges are
    verified against the EXHAUSTIVE (uncapped pair-graph) components on
    a corpus of NEAR-duplicates (perturbed copies, jaccard < 1), not
    just exact clones — independent of the registry oracle, which
    mirrors the star construction and so could never see a recall loss
    in candidate generation.  The star path tests only (bucket-min,
    member) pairs; a (b, c) link missed because both fail the Jaccard
    verify against a non-matching bucket minimum would surface here as
    a component mismatch."""
    import random

    from movie_recommendation_engine_spark.operators.dedup import (
        minhash_lsh_edges,
        minhash_lsh_pairs,
    )
    from movie_recommendation_engine_spark.operators.graph import (
        dedup_canonical,
    )

    rng = random.Random(1031)
    vocab = [f"w{i:02d}" for i in range(60)]
    rows = []
    doc_id = 1
    for g in range(6):  # 6 near-dup groups of 4-7 perturbed copies
        base = rng.sample(vocab, 14)
        for _ in range(rng.randint(4, 7)):
            words = list(base)
            for _ in range(rng.randint(0, 2)):  # light perturbation
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((doc_id, " ".join(words)))
            doc_id += 1
    for _ in range(10):  # singletons: unrelated docs
        rows.append((doc_id, " ".join(rng.sample(vocab, 14))))
        doc_id += 1
    rng.shuffle(rows)  # ids not grouped -> bucket minima are arbitrary
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    kw = dict(n=2, threshold=0.5)
    star = dedup_canonical(
        docs, minhash_lsh_edges(docs, "doc_id", "text", **kw)
    )
    exhaustive = dedup_canonical(
        docs,
        minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=None, **kw),
    )
    assert sorted(star.collect()) == sorted(exhaustive.collect())
