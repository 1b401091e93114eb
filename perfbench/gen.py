"""Seeded input generators for the benchmark.

The program under test only ever sees the files written here:

- ``movielens_csv``: a MovieLens-shaped ratings CSV
  (``userId,movieId,rating,timestamp``).  Every user has at least
  ``min_per_user`` ratings plus a geometric tail; movies are drawn
  without replacement from a Zipf(1.0) popularity law; ratings are
  half-stars in [0.5, 5.0] from a low-rank user x movie taste model, so
  ALS has structure to learn.
- ``star_schema``: the ten testdata tables the query registry reads
  (TPC-H-shaped ``region`` .. ``lineitem`` plus ``events``,
  ``documents`` and ``embeddings``) with the column names, types and
  value domains of the repository's testdata, scaled by ``sf``.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

def zipf_weights(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def movielens_ratings(
    seed: int,
    n_users: int,
    n_movies: int,
    tail_mean: float,
    min_per_user: int = 20,
    taste_rank: int = 4,
):
    """(user, movie, rating, timestamp) arrays; movie ``m`` has Zipf
    popularity rank ``m`` (movie 0 is the most rated)."""
    rng = np.random.default_rng(seed)
    pop = zipf_weights(n_movies)
    # geometric tail on top of the floor: mean extra ratings = tail_mean
    extra = rng.geometric(1.0 / (tail_mean + 1.0), size=n_users) - 1
    counts = np.minimum(min_per_user + extra, n_movies // 2)
    users = np.repeat(np.arange(n_users), counts)
    movies = np.concatenate(
        [rng.choice(n_movies, size=c, replace=False, p=pop) for c in counts]
    )
    # taste = global mean + user bias + movie bias + low-rank affinity + noise
    u_vec = rng.normal(0.0, 0.5, size=(n_users, taste_rank))
    m_vec = rng.normal(0.0, 0.5, size=(n_movies, taste_rank))
    u_bias = rng.normal(0.0, 0.4, size=n_users)
    m_bias = rng.normal(0.0, 0.5, size=n_movies)
    taste = (
        3.5
        + u_bias[users]
        + m_bias[movies]
        + np.einsum("ij,ij->i", u_vec[users], m_vec[movies])
        + rng.normal(0.0, 0.5, size=users.size)
    )
    ratings = np.clip(np.round(taste * 2.0) / 2.0, 0.5, 5.0)
    stamps = rng.integers(789_652_009, 1_537_799_250, size=users.size)
    return users, movies, ratings, stamps


def movielens_csv(path: str, seed: int, **shape) -> None:
    """Write the ratings CSV."""
    users, movies, ratings, stamps = movielens_ratings(seed, **shape)
    with open(path, "w", encoding="ascii") as f:
        f.write("userId,movieId,rating,timestamp\n")
        f.writelines(
            f"{u},{m},{r:.1f},{t}\n"
            for u, m, r, t in zip(users.tolist(), movies.tolist(), ratings.tolist(),
                                  stamps.tolist())
        )


# ---- star schema ------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "steel", "brass"]
PART_NOUN = ["ring", "widget", "bolt", "nut", "gear", "spring", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMBED_DIM = 64
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(np.int64))
    return (lo + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.06:
            # near duplicate of an earlier document: a prefix plus a marker
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[: max(4, len(src) * 3 // 4)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(8, 90)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int):
    import pyarrow as pa

    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    }


def star_schema_tables(seed: int, sf: float) -> dict[str, dict]:
    """Column dicts for the ten testdata tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = np.int32, np.int64
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    gaps = rng.exponential(259.0, size=n_evt)
    return {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        },
        "events": {
            "event_id": np.arange(n_evt, dtype=i64),
            "ts": (
                np.datetime64("2024-01-01T00:00:00", "us")
                + (np.cumsum(gaps) * 1e6).astype(i64)
            ),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_evt).astype(i64),
            "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
            "value": np.round(np.minimum(rng.lognormal(2.5, 1.2, n_evt), 490.0) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in star_schema_tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
