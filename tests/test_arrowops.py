"""Arrow grouped-map operator: cross-engine median bit-identity.

ADVICE r02 questioned whether DuckDB's even-count median interpolates as
``lo + (hi-lo)*0.5`` (two roundings) rather than ``(a+b)/2`` (one) — a
potential 1-ulp divergence.  Empirical verification (500 adversarial
pairs where the formulas differ): DuckDB matches ``(a+b)/2`` every
time, which is exactly what grouped_value_stats_arrow computes.  This
test pins that equivalence with pairs from that adversarial search.
"""

from __future__ import annotations

import duckdb

from movie_recommendation_engine_spark.operators.arrowops import grouped_value_stats_arrow

# (lo, hi) pairs where (lo+hi)/2 != lo + (hi-lo)*0.5 — found by random
# search over mismatched-exponent mantissas; DuckDB median == (lo+hi)/2
# on all of them.
ADVERSARIAL_PAIRS = [
    (0.0004888157050680393, 0.0019551089315607423),
    (5.880729670909351e-13, 4.888649539739559e-12),
    (7.773707475379964e-22, 5.95169375189146e-21),
    (1.413592735564305e-36, 8.034343949924205e-36),
    (4.983354497855405e-52, 1.2062412448284965e-51),
]


def test_arrow_median_matches_duckdb(spark):
    rows = [(g, v) for g, (lo, hi) in enumerate(ADVERSARIAL_PAIRS) for v in (lo, hi)]
    df = spark.createDataFrame(rows, "g long, value double")
    con = duckdb.connect()
    for g, (lo, hi) in enumerate(ADVERSARIAL_PAIRS):
        duck = con.execute(
            "select median(x) from (values (?::double),(?::double)) t(x)", [lo, hi]
        ).fetchone()[0]
        assert duck == (lo + hi) / 2.0, (lo, hi)
        assert duck != lo + (hi - lo) * 0.5, (lo, hi)  # the formulas DO differ here
    # and the operator end-to-end (post-round) agrees with the SQL mirror
    out = {r.g: r for r in grouped_value_stats_arrow(df, "g", "value").collect()}
    want = con.execute(
        "select g, count(*) n, round(median(value), 6) m from (select * from (values "
        + ", ".join(f"({g}, {lo!r}), ({g}, {hi!r})" for g, (lo, hi) in enumerate(ADVERSARIAL_PAIRS))
        + ") t(g, value)) group by g order by g"
    ).fetchall()
    for g, n, m in want:
        assert out[g].n == n
        assert out[g].median_value == m


def test_grouped_stats_null_values_excluded_like_sql(spark):
    """NULLs arrive in the Arrow batch as NaN: they must be excluded
    from n/median/min/max (SQL aggregate semantics) — the old path
    counted them into n and let them sort past max (round-5 review).
    An all-NULL group still emits its row with n=0 and NULL stats."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None), ("b", None)],
        "g string, v double",
    )
    got = {r.g: r for r in grouped_value_stats_arrow(df, "g", "v").collect()}
    a = got["a"]
    assert (a.n, a.median_value, a.min_value, a.max_value) == (2, 2.0, 1.0, 3.0)
    b = got["b"]
    assert b.n == 0
    assert b.median_value is None and b.min_value is None and b.max_value is None
    # DuckDB agrees on the non-degenerate group
    duck = duckdb.sql(
        "SELECT count(v), median(v), min(v), max(v) FROM "
        "(VALUES (1.0::DOUBLE), (3.0::DOUBLE), (NULL::DOUBLE)) t(v)"
    ).fetchone()
    assert (a.n, a.median_value, a.min_value, a.max_value) == duck


def test_grouped_trimmed_mean_ignores_nulls(spark):
    from movie_recommendation_engine_spark.operators.arrowops import (
        grouped_trimmed_mean_arrow,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", None), ("b", None)],
        "g string, v double",
    )
    got = {
        r.g: r for r in grouped_trimmed_mean_arrow(df, "g", "v", trim=0.0).collect()
    }
    assert got["a"].n == 3 and got["a"].trimmed_mean_r6 == 2.0
    assert got["b"].n == 0 and got["b"].trimmed_mean_r6 == 0.0


def test_dot_topk_rows_matches_bruteforce_reference():
    """The sampled-threshold row top-k (the ALS serving kernel's
    selection step) must equal a brute-force (score desc, id asc) sort
    for every row — including engineered float ties, +/-0.0, negative
    scores, k >= n_cols, and non-contiguous candidate ids."""
    import numpy as np

    from movie_recommendation_engine_spark.operators.similarity import (
        dot_topk_rows,
    )

    rng = np.random.default_rng(42)
    for trial, (n_rows, n_cols, kk) in enumerate(
        [(7, 5, 9),      # k > n_cols: take-all branch
         (11, 64, 8),
         (50, 300, 20),
         (64, 2500, 100),  # n_cols > sample size path
         (3, 1, 1)]
    ):
        # quantized scores force heavy ties; sprinkle exact zeros and
        # negative zeros
        s = (rng.integers(-3, 4, size=(n_rows, n_cols)) / 2.0).astype(
            np.float32
        )
        s[rng.random(s.shape) < 0.05] = np.float32(-0.0)
        ids = (np.arange(n_cols, dtype=np.int64) * 7 + 3)  # non-contiguous
        top_i, top_s = dot_topk_rows(s, ids, kk)
        want_k = min(kk, n_cols)
        assert top_i.shape == (n_rows, want_k) == top_s.shape
        for r in range(n_rows):
            ref = sorted(
                zip(s[r].tolist(), ids.tolist()), key=lambda t: (-t[0], t[1])
            )[:want_k]
            got = list(zip(top_s[r].tolist(), top_i[r].tolist()))
            assert got == ref, f"trial {trial} row {r}: {got} != {ref}"


def test_dot_topk_rows_partition_independence():
    """Chunking must not change results: top-k of a matrix equals the
    row-wise concat of top-k over arbitrary row slices."""
    import numpy as np

    from movie_recommendation_engine_spark.operators.similarity import (
        dot_topk_rows,
    )

    rng = np.random.default_rng(7)
    s = rng.standard_normal((40, 500)).astype(np.float32)
    ids = np.arange(500, dtype=np.int64)
    whole_i, whole_s = dot_topk_rows(s, ids, 17)
    for lo, hi in [(0, 13), (13, 29), (29, 40)]:
        part_i, part_s = dot_topk_rows(s[lo:hi], ids, 17)
        assert (part_i == whole_i[lo:hi]).all()
        assert (part_s == whole_s[lo:hi]).all()


def test_dot_topk_rows_hypothesis_vs_bruteforce():
    """Property form of the fixed-trial kernel test: random shapes,
    random k (including k >= n_cols), scores quantized to force tie
    clusters — every row must equal the brute-force (score desc,
    id asc) reference.  Pure numpy, no Spark session."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from movie_recommendation_engine_spark.operators.similarity import (
        dot_topk_rows,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        n_rows=st.integers(1, 24),
        n_cols=st.integers(1, 400),
        k=st.integers(1, 40),
        quant=st.sampled_from([1.0, 4.0, 1000.0]),  # heavy -> no ties
        seed=st.integers(0, 2**31 - 1),
    )
    def check(n_rows, n_cols, k, quant, seed):
        rng = np.random.default_rng(seed)
        s = (
            np.round(rng.standard_normal((n_rows, n_cols)) * quant) / quant
        ).astype(np.float32)
        ids = rng.choice(10 * n_cols, size=n_cols, replace=False).astype(
            np.int64
        )
        top_i, top_s = dot_topk_rows(s, ids, k)
        want_k = min(k, n_cols)
        assert top_i.shape == (n_rows, want_k) == top_s.shape
        for r in range(n_rows):
            ref = sorted(
                zip(s[r].tolist(), ids.tolist()), key=lambda t: (-t[0], t[1])
            )[:want_k]
            assert list(zip(top_s[r].tolist(), top_i[r].tolist())) == ref

    check()


def test_arrow_dot_topk_enforces_broadcast_bound(spark, monkeypatch):
    """The boundedness contract is enforced, not assumed: an over-cap
    candidate catalog must raise (naming the scale paths) BEFORE the
    driver-side collect, and the same catalog passes under the default
    cap."""
    import pytest

    from movie_recommendation_engine_spark.operators.similarity import (
        arrow_dot_topk,
    )

    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id int, features array<float>"
    )
    c = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [0.5, 2.0]), (12, [2.0, 0.5])],
        "id int, features array<float>",
    )
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_BYTES", "8")
    with pytest.raises(ValueError, match="ivf_topk"):
        arrow_dot_topk(q, c, k=2)
    monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_BYTES")
    assert arrow_dot_topk(q, c, k=2).count() == 4


def test_arrow_dot_topk_env_override_and_plan_layer_cap(spark, monkeypatch):
    """SPARK_GRAFT_MAX_BROADCAST_BYTES sets the kernel's bound, is
    validated by the shared parser (a malformed or non-positive value
    fails naming the variable), and reaches every recommender serving
    entry point."""
    import pytest

    from movie_recommendation_engine_spark.operators.similarity import (
        arrow_dot_topk,
    )
    from movie_recommendation_engine_spark.plans.recommender import (
        AlsRecommender,
    )

    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id int, features array<float>"
    )
    c = spark.createDataFrame(
        [(10, [1.0, 1.0]), (11, [0.5, 2.0])], "id int, features array<float>"
    )
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_BYTES", str(1 << 20))
    assert arrow_dot_topk(q, c, k=1).count() == 2
    for raw in ("512m", "0"):
        monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_BYTES", raw)
        with pytest.raises(
            ValueError,
            match=f"SPARK_GRAFT_MAX_BROADCAST_BYTES must be a positive integer, got '{raw}'",
        ):
            arrow_dot_topk(q, c, k=1)

    train = spark.createDataFrame(
        [(u, i, float((u * i) % 5 + 1)) for u in range(1, 9) for i in range(1, 7)],
        "userId int, movieId int, rating float",
    )
    rec = AlsRecommender(rank=2, max_iter=1).fit(train)
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_BYTES", "8")
    with pytest.raises(ValueError, match="ivf_topk"):
        rec.recommend_top_k(k=2)
    with pytest.raises(ValueError, match="ivf_topk"):
        rec.recommendation_lists(k=2)
    monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_BYTES")  # the default serves
    assert rec.recommend_top_k(k=2).count() > 0
    rec.unpersist_factors()
