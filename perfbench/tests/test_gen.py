import hashlib

import numpy as np
import pyarrow.parquet as pq

import gen

SHAPE = {"n_users": 300, "n_movies": 2000, "tail_mean": 80}


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (tmp_path / x for x in ("a.csv", "b.csv", "c.csv"))
    gen.movielens_csv(str(a), 7, **SHAPE)
    gen.movielens_csv(str(b), 7, **SHAPE)
    gen.movielens_csv(str(c), 8, **SHAPE)
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    assert a.read_text().splitlines()[0] == "userId,movieId,rating,timestamp"


def test_every_user_has_twenty_half_star_ratings():
    users, movies, ratings, _ = gen.movielens_ratings(3, **SHAPE)
    per_user = np.bincount(users)
    assert per_user.size == SHAPE["n_users"] and per_user.min() >= 20
    assert 80 <= per_user.mean() <= 120  # floor 20 + geometric tail of mean 80
    assert set(np.unique(ratings)) <= {x / 2 for x in range(1, 11)}
    pairs = users.astype(np.int64) * SHAPE["n_movies"] + movies
    assert np.unique(pairs).size == pairs.size  # (user, movie) is a key


def test_zipf_head_share():
    users, movies, _, _ = gen.movielens_ratings(5, **SHAPE)
    counts = np.bincount(movies, minlength=SHAPE["n_movies"])
    # Zipf(1.0): ranks [100, 200) and [200, 400) hold equal shares
    # (uniform popularity would give 1:2); per-user sampling without
    # replacement saturates the very top, so the ratio sits just under 1
    assert 0.85 <= counts[100:200].sum() / counts[200:400].sum() <= 1.05
    # the top 10% of movies: far above uniform (0.10), at most the
    # with-replacement Zipf share H(200)/H(2000) = 0.72
    w = gen.zipf_weights(SHAPE["n_movies"])
    head = counts[:200].sum() / counts.sum()
    assert 0.45 <= head <= w[:200].sum()


def test_star_schema_is_deterministic_and_typed(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows = gen.star_schema(str(a), 4, 0.001)
    gen.star_schema(str(b), 4, 0.001)
    assert set(rows) == set(gen.TABLES)
    assert rows["lineitem"] == 6000 and rows["orders"] == 1500
    for t in gen.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
    schema = pq.read_schema(a / "lineitem.parquet")
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(schema.field("l_linenumber").type) == "int32"
    emb = pq.read_schema(a / "embeddings.parquet").field("embedding").type
    assert str(emb.value_type) == "float"
