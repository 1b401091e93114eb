"""Boundary differentials for the silent-drop-risk operators.

Three operators share a failure mode where a wrong boundary constant
loses ROWS silently (results stay plausible, hashes only break if the
gate's data happens to hit the edge):

- ``cap_basket``: the round-8 skew guard — an off-by-one in the width
  rule would either fail to bound the hot basket or drop rows on
  uniform data (it is oracle-replayed inside 5 queries, but had no
  direct unit test);
- ``prefix_filtered_jaccard_pairs``: the PPJoin prefix/positional/
  length filters prune candidates with float arithmetic
  (``ceil(t*s)``, ``t/(1+t)``) whose boundary behavior at J == t is
  exactly where a recall bug would hide — the driver gate only ever
  checks threshold 0.5 (binary-exact), so sweep awkward thresholds
  against the exact inverted-index path (same shingling, same
  rounding: the diff isolates the filters);
- ``bucketed_range_join`` / ``bucketed_interval_overlap_join``: a
  bucket-edge off-by-one drops pairs whose point/interval sits exactly
  on a bucket boundary, and the overlap join additionally promises
  each pair is emitted from exactly ONE canonical bucket (multiplicity
  1, no dedup pass) — checked against brute force on edge-aligned,
  negative, and zero-width inputs.

The as-of join gets an independent-reference differential against
``pandas.merge_asof`` (backward, allow_exact_matches) on a seeded
dense fixture — hand fixtures in test_asof.py pin the semantics, this
pins them at density (ties, interleaved keys, no-match prefixes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.operators.asof import asof_join
from movie_recommendation_engine_spark.operators.dedup import (
    ngram_jaccard_pairs,
    prefix_filtered_jaccard_pairs,
)
from movie_recommendation_engine_spark.operators.rangejoin import (
    bucketed_interval_overlap_join,
    bucketed_range_join,
)
from movie_recommendation_engine_spark.operators.skew import cap_basket


# ---------------------------------------------------------------- cap_basket


def _basket_rows():
    # basket 1: 5 rows (wide), basket 2: 2 rows, basket 3: 1 row;
    # item ties inside basket 1 make the line column load-bearing
    return [
        (1, 30, 1),
        (1, 10, 2),
        (1, 20, 3),
        (1, 10, 4),
        (1, 40, 5),
        (2, 7, 1),
        (2, 5, 2),
        (3, 9, 1),
    ]


def test_cap_basket_noop_when_all_baskets_narrow(spark):
    df = spark.createDataFrame(_basket_rows(), "b int, item int, line int")
    out = cap_basket(df, "b", [F.col("item").asc(), F.col("line").asc()], w=5)
    assert sorted(map(tuple, out.collect())) == sorted(_basket_rows())


def test_cap_basket_keeps_first_w_under_total_order(spark):
    df = spark.createDataFrame(_basket_rows(), "b int, item int, line int")
    out = cap_basket(df, "b", [F.col("item").asc(), F.col("line").asc()], w=3)
    got = sorted(map(tuple, out.collect()))
    # python replay of the identical rule: sort (item, line), keep 3
    want = []
    for b in (1, 2, 3):
        rows = sorted(
            [r for r in _basket_rows() if r[0] == b], key=lambda r: (r[1], r[2])
        )[:3]
        want.extend(rows)
    assert got == sorted(want)
    # the wide basket is bounded at exactly w, narrow ones untouched
    widths = {r[0]: 0 for r in got}
    for r in got:
        widths[r[0]] += 1
    assert widths == {1: 3, 2: 2, 3: 1}


def test_cap_basket_matches_sql_row_number_rule(spark):
    """The engine cap and the oracle's row_number spelling must select
    the SAME rows — this equivalence is what keeps the 5 capped
    queries oracle-checkable on skewed data."""
    df = spark.createDataFrame(_basket_rows(), "b int, item int, line int")
    df.createOrReplaceTempView("baskets_fixture")
    want = spark.sql(
        """
        SELECT b, item, line FROM (
          SELECT b, item, line,
                 row_number() OVER (PARTITION BY b ORDER BY item, line) AS rn
          FROM baskets_fixture)
        WHERE rn <= 2
        """
    ).collect()
    out = cap_basket(df, "b", [F.col("item").asc(), F.col("line").asc()], w=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want))


# ------------------------------------------------- PPJoin threshold sweep


def _jaccard_corpus():
    """~40 random short docs over an 8-word vocab (small shingle sets
    hit exact-boundary Jaccard values: 1/2, 1/3, 2/3, 3/4...) plus 8
    planted near-dup clusters (a base doc and 2 light edits) so the
    high thresholds (2/3, 0.75, 0.9) have qualifying pairs too."""
    rng = np.random.default_rng(20260816)
    vocab = [f"w{i}" for i in range(8)]
    docs = []
    for i in range(40):
        ln = int(rng.integers(2, 15))
        words = rng.choice(vocab, size=ln, replace=True)
        docs.append((i, " ".join(words)))
    nid = 40
    for c in range(8):
        base = list(rng.choice(vocab, size=12 + c, replace=True))
        edited = base[:-1] + [vocab[c % 8]]  # one word swapped at the tail
        extended = base + list(rng.choice(vocab, size=1 + c % 2))
        for words in (base, edited, extended):
            docs.append((nid, " ".join(words)))
            nid += 1
    return docs


@pytest.mark.parametrize(
    "threshold", [0.3, 1.0 / 3.0, 0.5, 2.0 / 3.0, 0.75, 0.9]
)
def test_ppjoin_prefix_filter_is_lossless_across_thresholds(spark, threshold):
    """prefix_filtered_jaccard_pairs must return the IDENTICAL pair set
    (ids and scores) as the exact inverted-index path at every
    threshold: both share _shingled and det_round, so any diff is a
    prefix/positional/length filter dropping a qualifying pair."""
    df = spark.createDataFrame(_jaccard_corpus(), "doc_id int, body string")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "body", n=2, threshold=threshold
        ).collect()
    }
    filtered = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filtered_jaccard_pairs(
            df, "doc_id", "body", n=2, threshold=threshold
        ).collect()
    }
    assert filtered == exact
    assert exact  # the corpus must actually produce pairs at this t


# ----------------------------------------------- as-of vs pandas.merge_asof


def test_asof_matches_pandas_merge_asof_dense(spark):
    """Seeded dense differential: 3 keys x 200 left / 150 right rows,
    duplicate left timestamps, exact-match collisions, and a no-match
    prefix per key.  Right (key, ts) pairs are unique so both engines'
    tie rules coincide and the comparison is exact."""
    rng = np.random.default_rng(7)
    keys = ["a", "b", "c"]
    left = pd.DataFrame(
        {
            "id": np.arange(200),
            "k": rng.choice(keys, size=200),
            "t": rng.integers(0, 120, size=200).astype("int64"),
        }
    )
    seen: set[tuple[str, int]] = set()
    rrows = []
    rid = 0
    while rid < 150:
        k = keys[int(rng.integers(0, 3))]
        # right rows start at t=20: every key has a no-match prefix
        t = int(rng.integers(20, 110))
        if (k, t) in seen:
            continue
        seen.add((k, t))
        rrows.append((k, t, rid, float(rng.integers(0, 1000)) / 4.0))
        rid += 1
    right = pd.DataFrame(rrows, columns=["k", "t", "rid", "rv"])

    want = pd.merge_asof(
        left.sort_values("t", kind="stable"),
        right.sort_values("t", kind="stable"),
        on="t",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    ).set_index("id")

    out = asof_join(
        spark.createDataFrame(left, schema="id long, k string, t long"),
        spark.createDataFrame(right, schema="k string, t long, rid long, rv double"),
        on="t",
        by=["k"],
        right_cols=["rid", "rv"],
    ).collect()
    assert len(out) == len(left)
    n_matched = 0
    for r in out:
        w_rid = want.loc[r.id, "rid"]
        if pd.isna(w_rid):
            assert r.rid_right is None and r.rv_right is None
        else:
            assert r.rid_right == int(w_rid)
            assert r.rv_right == float(want.loc[r.id, "rv"])
            n_matched += 1
    assert 0 < n_matched < len(left)  # both branches exercised


# -------------------------------------------- range joins vs brute force


def _edge_points_and_intervals():
    """Values are multiples of 0.25 (exact doubles) clustered on bucket
    edges for widths 1.0 / 2.5 / 7.0; negatives included; intervals
    include zero-width and edge-aligned spans."""
    rng = np.random.default_rng(11)
    grid = np.arange(-40, 41) * 0.25  # -10.0 .. 10.0 step 0.25
    pts = [(i, float(rng.choice(grid))) for i in range(150)]
    ivls = []
    for j in range(80):
        lo = float(rng.choice(grid))
        width = float(rng.choice([0.0, 0.25, 1.0, 2.5, 5.0]))
        ivls.append((j, lo, lo + width))
    return pts, ivls


@pytest.mark.parametrize("bucket_width", [1.0, 2.5, 7.0])
def test_bucketed_range_join_matches_bruteforce(spark, bucket_width):
    pts, ivls = _edge_points_and_intervals()
    points = spark.createDataFrame(pts, "pid int, x double")
    intervals = spark.createDataFrame(ivls, "iid int, lo double, hi double")
    got = sorted(
        (r.pid, r.iid)
        for r in bucketed_range_join(
            points, intervals, "x", "lo", "hi", bucket_width
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, x in pts
        for iid, lo, hi in ivls
        if lo <= x <= hi
    )
    assert got == want
    assert want  # the fixture must actually produce matches


@pytest.mark.parametrize("bucket_width", [1.0, 2.5, 7.0])
def test_interval_overlap_join_matches_bruteforce_once_each(
    spark, bucket_width
):
    """Pair set AND multiplicity: the canonical-bucket rule promises
    each overlapping pair is emitted exactly once without a dedup
    shuffle — a duplicate would silently double-count downstream
    aggregates."""
    _, ivls = _edge_points_and_intervals()
    lhs = ivls[:40]
    rhs = [(j, lo, hi) for j, lo, hi in ivls[40:]]
    left = spark.createDataFrame(lhs, "lid int, l_lo double, l_hi double")
    right = spark.createDataFrame(rhs, "rid int, r_lo double, r_hi double")
    rows = bucketed_interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width
    ).collect()
    got = sorted((r.lid, r.rid) for r in rows)
    assert len(got) == len(set(got)), "a pair was emitted from two buckets"
    want = sorted(
        (lid, rid)
        for lid, llo, lhi in lhs
        for rid, rlo, rhi in rhs
        if llo <= rhi and rlo <= lhi
    )
    assert got == want
    assert want


# ------------------------------------------------------ probe query names


@pytest.mark.parametrize(
    "tool,min_n",
    [
        ("concurrency_probe", 20),
        ("fragmentation_probe", 12),
        ("skew_probe", 15),
        ("dup_clique_probe", 10),
    ],
)
def test_probe_default_queries_exist_in_registry(tool, min_n):
    """Name-rot guard: every query a probe tool exercises must still be
    a registry entry (a rename would silently shrink the probe's
    coverage to whatever still resolves)."""
    import importlib.util
    import os

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    spec = importlib.util.spec_from_file_location(
        tool, os.path.join(tools, f"{tool}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from movie_recommendation_engine_spark.registry import QUERIES

    missing = [n for n in mod.DEFAULT_QUERIES if n not in QUERIES]
    assert not missing, f"probe names not in registry: {missing}"
    assert len(set(mod.DEFAULT_QUERIES)) == len(mod.DEFAULT_QUERIES) >= min_n


def test_session_soak_leak_adjudication():
    """The soak's flag rule must catch the staircase and pass the
    sawtooth: monotonic growth ending above factor x start is a leak;
    any dip (cleaner reclaim) or a plateau under the factor is not."""
    import importlib.util
    import os

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    spec = importlib.util.spec_from_file_location(
        "session_soak", os.path.join(tools, "session_soak.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    me = mod.monotonic_excess

    assert me([100, 200, 400], 1.5)          # staircase: leak
    assert not me([100, 300, 120], 1.5)      # sawtooth: reclaim, pass
    assert not me([100, 120, 130], 1.5)      # bounded warm-up, pass
    assert not me([100, 100, 100], 1.5)      # flat, pass
    assert me([4, 4, 9], 2.0)                # RDD-count staircase: leak
    assert not me([4, 9, 4], 2.0)            # transient pin, pass
    assert not me([100], 1.5)                # single sample: no verdict
    assert not me([], 1.5)


def test_streaming_probe_ops_resolve():
    """The streaming probe's operator list binds real builder functions
    (a rename surfaces here, not as a silently shorter probe), and the
    output modes are ones Structured Streaming accepts for each shape
    (session windows reject update)."""
    import importlib.util
    import os

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    spec = importlib.util.spec_from_file_location(
        "streaming_probe", os.path.join(tools, "streaming_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ops = mod.probe_ops()
    assert len(ops) == 7
    names = [n for n, _, _ in ops]
    assert len(set(names)) == 7
    modes = dict((n, m) for n, _, m in ops)
    assert modes["sessionize"] == "append"
    assert all(callable(b) for _, b, _ in ops)


def test_canon_hash_mimics_driver_contracts():
    """tools/check_oracle.canon_hash is the LOCAL mirror of the
    driver's result canon; if its behavior drifts, a query can pass
    locally and fail at the driver (or vice versa).  Pin the four
    contracts: row-order insensitivity, column-order insensitivity,
    int64-vs-float64 MUST mismatch (no float prettifying — the driver
    renders '17171' vs '17171.0'), and raw array cells MUST raise
    (the driver's sort_values crashes on them, so ours must too)."""
    import importlib.util
    import os

    import pandas as pd

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(tools, "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ch = mod.canon_hash

    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    shuffled = a.sample(frac=1.0, random_state=5).reset_index(drop=True)
    assert ch(a) == ch(shuffled)
    assert ch(a) == ch(a[["y", "x"]])

    ints = pd.DataFrame({"n": pd.array([17171, 2], dtype="int64")})
    floats = pd.DataFrame({"n": pd.array([17171.0, 2.0], dtype="float64")})
    assert ch(ints) != ch(floats)

    with pytest.raises(TypeError):
        ch(pd.DataFrame({"v": [[1, 2], [3]]}))
