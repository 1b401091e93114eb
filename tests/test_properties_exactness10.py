"""Tenth batch: the portable-hashing primitives, JVM-side array math,
the batch leg of the stream-stream interval join, and the power-
iteration PCA — each vs an independent Python replay on random inputs.

The hashing functions carry the engine's reproducibility story (every
sampling/split/salting operator assumes md5-over-key is IDENTICAL in
Spark, DuckDB, and Python); the PCA replay exercises its exactness
contract (integer micro-units, power-of-two rescale, grid-quantized
normalization) end to end — any drift between Spark's arithmetic and
plain IEEE doubles would falsify the value-hash claim its gated query
relies on.
"""

from __future__ import annotations

import hashlib
import math
import re
from datetime import datetime, timezone

from hypothesis import assume, given, settings, strategies as st

key_text = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=12
)


def _md5_long_py(parts: list[str], salt: str = "") -> int:
    key = "\x01".join(parts)
    if salt:
        key = salt + "\x01" + key
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16)


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(st.tuples(key_text, key_text), min_size=1, max_size=20),
    salt=st.sampled_from(["", "agg-salt", "s1"]),
    n_buckets=st.sampled_from([2, 16, 97]),
)
def test_hashing_primitives_match_python_md5(spark_global, keys, salt, n_buckets):
    """md5_long / uniform_hash / hash_bucket == the documented Python
    construction (first 8 md5 hex digits over the chr(1)-joined key)
    for multi-column keys, with and without a salt."""
    from movie_recommendation_engine_spark.functions.hashing import (
        hash_bucket,
        md5_long,
        uniform_hash,
    )

    spark = spark_global
    rows = [(i, a, b) for i, (a, b) in enumerate(keys)]
    df = spark.createDataFrame(rows, "i long, a string, b string")
    got = {
        r.i: (r.h, r.u, r.bkt)
        for r in df.select(
            "i",
            md5_long("a", "b", salt=salt).alias("h"),
            uniform_hash("a", "b", salt=salt).alias("u"),
            hash_bucket(n_buckets, "a", "b", salt=salt).alias("bkt"),
        ).collect()
    }
    for i, a, b in rows:
        h = _md5_long_py([a, b], salt)
        assert got[i] == (h, h / float(2**32), h % n_buckets), (a, b, salt)


@settings(max_examples=6, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.lists(st.integers(-9, 9), min_size=3, max_size=3),
            st.lists(st.integers(-9, 9), min_size=3, max_size=3),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_array_math_matches_python(spark_global, pairs):
    """dot_product is exact on integer-valued doubles (array-order fold,
    no reassociation); cosine_similarity matches the float formula to
    1e-12 and yields NULL on zero-norm inputs."""
    from movie_recommendation_engine_spark.functions.arrays import (
        cosine_similarity,
        dot_product,
    )

    spark = spark_global
    rows = [
        (i, [float(x) for x in a], [float(y) for y in b])
        for i, (a, b) in enumerate(pairs)
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {
        r.i: (r.dot, r.cos)
        for r in df.select(
            "i",
            dot_product("a", "b").alias("dot"),
            cosine_similarity("a", "b").alias("cos"),
        ).collect()
    }
    for i, a, b in rows:
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
        gdot, gcos = got[i]
        assert gdot == dot
        if na == 0.0 or nb == 0.0:
            assert gcos is None
        else:
            assert gcos is not None and abs(gcos - dot / (na * nb)) <= 1e-12


@settings(max_examples=6, deadline=None)
@given(
    titles=st.lists(
        st.tuples(
            st.text(alphabet="ab ()12", max_size=8),
            st.one_of(st.none(), st.integers(1000, 9999)),
            st.sampled_from(["", " ", "  "]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_title_year_matches_python_regex(spark_global, titles):
    from movie_recommendation_engine_spark.functions.arrays import title_year

    spark = spark_global
    rows = [
        (i, (base + (f"({y})" if y is not None else "") + pad))
        for i, (base, y, pad) in enumerate(titles)
    ]
    df = spark.createDataFrame(rows, "i long, title string")
    got = {r.i: r.y for r in df.select("i", title_year("title").alias("y")).collect()}
    for i, t in rows:
        m = re.search(r"\((\d{4})\)\s*$", t)
        assert got[i] == (int(m.group(1)) if m else None), t


@settings(max_examples=6, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 3600)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 3600)), min_size=1, max_size=12
    ),
)
def test_interval_join_batch_matches_nested_loop(spark_global, lefts, rights):
    """The batch leg of the stream-stream interval join == the nested-
    loop reference: keys equal AND l_ts < r_ts <= l_ts + 10 minutes."""
    from movie_recommendation_engine_spark.streaming.joins import interval_join

    spark = spark_global

    def ts(s: int) -> datetime:
        return datetime.fromtimestamp(1_700_000_000 + s, tz=timezone.utc).replace(
            tzinfo=None
        )

    lrows = [(i, k, ts(s)) for i, (k, s) in enumerate(lefts)]
    rrows = [(i, k, ts(s)) for i, (k, s) in enumerate(rights)]
    ldf = spark.createDataFrame(lrows, "lid long, k long, lts timestamp")
    rdf = spark.createDataFrame(rrows, "rid long, k long, rts timestamp")
    got = sorted(
        (r.lid, r.rid)
        for r in interval_join(ldf, rdf, "k", "lts", "rts", horizon="10 minutes").collect()
    )
    want = sorted(
        (li, ri)
        for li, lk, ls in lefts_idx(lefts)
        for ri, rk, rs in lefts_idx(rights)
        if lk == rk and ls < rs <= ls + 600
    )
    assert got == want


def lefts_idx(rows):
    return [(i, k, s) for i, (k, s) in enumerate(rows)]


@settings(max_examples=4, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.integers(1, 100), min_size=4, max_size=4),
        min_size=2,
        max_size=6,
    )
)
def test_power_iteration_matches_integer_replay(spark_global, vecs):
    """power_iteration_top_pc == a plain-Python replay of its exactness
    contract: micro-unit ints, BIGINT dots, power-of-two row rescale,
    max-normalized 2^20 grid re-quantization, Rayleigh quotient from
    exact sums with one final double step.  Bit-identical v_q and
    det-rounded scalars on arbitrary (positive) inputs."""
    from movie_recommendation_engine_spark.operators.pca import (
        MICRO,
        ROW_SHIFT,
        VSCALE,
        power_iteration_top_pc,
    )

    spark = spark_global
    dim, n_iter = 4, 3
    rows = [(i, [c / 100.0 for c in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r.dim, r.v_q, r.lambda_r6, r.evr_r6)
        for r in power_iteration_top_pc(df, dim=dim, n_iter=n_iter).collect()
    ]

    x = {i: [math.floor(c / 100.0 * MICRO) for c in v] for i, v in enumerate(vecs)}
    v = [VSCALE] * dim
    for _ in range(n_iter):
        d = {
            i: math.floor(sum(xi[j] * v[j] for j in range(dim)) / float(ROW_SHIFT))
            for i, xi in x.items()
        }
        y = [sum(xi[j] * d[i] for i, xi in x.items()) for j in range(dim)]
        m = float(max(abs(c) for c in y))
        assume(m != 0.0)
        v = [math.floor(float(c) / m * VSCALE + 0.5) for c in y]
    dotf = {i: sum(xi[j] * v[j] for j in range(dim)) for i, xi in x.items()}
    num = sum(c * c for c in dotf.values())
    den = sum(c * c for c in v)
    ssq = sum(c * c for xi in x.values() for c in xi)
    lam = float(num) / float(den)

    def r6(val: float) -> float:
        return math.floor(val * 1e6 + 0.5) / 1e6

    want = [
        (j, v[j], r6(lam / float(MICRO) ** 2), r6(lam / float(ssq)))
        for j in range(dim)
    ]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(st.tuples(key_text, key_text), min_size=1, max_size=20),
    salt=st.sampled_from(["", "sh"]),
)
def test_md5_long60_matches_python_and_duckdb_construction(
    spark_global, keys, salt
):
    """md5_long60 (round 6, the wide SimHash shingle hash) == the
    documented construction — first 15 md5 hex digits over the
    chr(1)-joined key — via BOTH independent replays: Python hashlib
    and DuckDB's CAST('0x' || substr(md5(...), 1, 15) AS BIGINT)."""
    import duckdb

    from movie_recommendation_engine_spark.functions.hashing import md5_long60

    spark = spark_global
    rows = [(i, a, b) for i, (a, b) in enumerate(keys)]
    df = spark.createDataFrame(rows, "i long, a string, b string")
    got = {
        r.i: r.h
        for r in df.select("i", md5_long60("a", "b", salt=salt).alias("h")).collect()
    }
    con = duckdb.connect()
    for i, a, b in rows:
        key = ("\x01".join([salt, a, b]) if salt else "\x01".join([a, b]))
        py = int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)
        (duck,) = con.execute(
            "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT)", [key]
        ).fetchone()
        assert got[i] == py == duck, (a, b, salt)
        assert 0 <= got[i] < 2**60
