"""Similarity search over embedding columns (prompt §"Similarity search").

- **Exact cosine top-k**: ``brute_force_topk`` scores JVM-side
  (zip_with/aggregate, folded in array order, so scores are
  bit-deterministic); ``arrow_brute_force_topk`` returns the same rows
  from one numpy matmul per candidate batch in ``mapInPandas``.  Keep
  the query side bounded — all-pairs at 100 TB is never the answer.
- **ANN top-k**: ``lsh_bucketed_topk`` (random-hyperplane LSH, md5-
  derived planes the oracle replays in SQL) and ``ivf_topk`` /
  ``ivf_kmeans_topk`` (inverted-file cells, exact in-cell re-rank).
- **Dot-product serving**: ``arrow_dot_topk``, the ALS top-k kernel —
  the item catalog broadcast, users streamed through ``mapInPandas``.
- Built on those: near-duplicate pairs, SemDeDup, SQ8 and JL
  compression, MMR re-ranking, nearest-centroid evaluation.

Every JVM cosine scorer is built from one core: ``_side`` projects a
frame to (id, double vector, L2 norm), ``_ranked`` is the ranked-
neighbor tail (no self-matches, 6-dp cosine, top k by cosine desc then
neighbor id asc), and ``_nearest`` assigns each vector its k nearest
centroids (similarity desc, then centroid id asc).  The operators other
than ``brute_force_topk``, ``arrow_brute_force_topk`` and
``arrow_dot_topk`` read the embeddings table's ``vec_id`` / ``embedding``
(and ``label``) columns.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import arrays
from ..session import env_positive_int
from .topk import top_k_per_group


def _cos(va: str, vb: str, na: str, nb: str) -> Column:
    """6-dp cosine from a precomputed-norm pair: norms are per-vector, so
    every scoring join attaches them BEFORE the join (``_side``) and
    divides the per-pair dot by the product — cosine_similarity inline
    would re-run both HOF norm folds for every candidate pair.

    ``try_divide`` not ``/`` — the same ANSI contract as
    ``functions.arrays.cosine_similarity``: Spark 4 runs ANSI mode by
    default, where a plain division RAISES on a zero-norm vector.  A
    0-norm pair yields NULL cosine, which the serving comparators
    (``cosine DESC`` = NULLS LAST) rank after every real neighbor —
    degenerate vectors degrade to worst-ranked instead of aborting a
    100 TB serving job."""
    return F.round(
        F.try_divide(arrays.dot_product(va, vb), F.col(na) * F.col(nb)), 6
    )


def _dvec(col: Column | str) -> Column:
    """Cast array<float> -> array<double> BEFORE arithmetic: per-term
    float32 products would diverge from a double-precision oracle by
    ~1e-8 relative — enough to flip a round-to-6 boundary.  Double
    products keep the divergence at summation-order level (~1e-15)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _side(
    df: DataFrame, id_col: str, vec_col: str, id_as: str, v: str, *keep: Column
) -> DataFrame:
    """The scoring projection every vector and centroid side goes
    through: (``id_as``, ``v`` = the vector as array<double>, ``v``+"n" =
    its L2 norm), plus any ``keep`` columns."""
    return df.select(
        F.col(id_col).alias(id_as), _dvec(vec_col).alias(v), *keep
    ).withColumn(v + "n", arrays.l2_norm(v))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Top k per query by (cosine desc, neighbor id asc) — a total order,
    so per-batch top-k lists merge losslessly — as (query_id,
    neighbor_id, cosine, rank)."""
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
    ).select("query_id", "neighbor_id", "cosine", "rank")


def _ranked(pairs: DataFrame, k: int) -> DataFrame:
    """The ranked-neighbor tail: ``pairs`` joins a query side (query_id,
    qv, qvn) to a candidate side (neighbor_id, cv, cvn); self-matches
    drop, each pair is scored, and the top k per query are kept."""
    return _top_k(
        pairs.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
            "cosine", _cos("qv", "cv", "qvn", "cvn")
        ),
        k,
    )


def _seed_centroids(df: DataFrame, mod: int) -> DataFrame:
    """The oracle-reproducible coarse quantizer: every vector with
    ``vec_id % mod == 1`` is a centroid (cent_id, cent_v, cent_vn)."""
    return _side(
        df.filter(F.col("vec_id") % mod == 1), "vec_id", "embedding", "cent_id", "cent_v"
    )


def _centroid_sims(side: DataFrame, v: str, cents: DataFrame) -> DataFrame:
    """A ``_side`` frame crossed with the broadcast centroid table — one
    narrow pass, no shuffle of vectors against each other — with each
    pair's cosine as ``sim``."""
    return (
        side.crossJoin(F.broadcast(cents))
        .withColumn("sim", _cos(v, "cent_v", v + "n", "cent_vn"))
        .drop("cent_v", "cent_vn")
    )


def _nearest(pairs: DataFrame, by: str, k: int) -> DataFrame:
    """Nearest-centroid assignment: of each ``by`` vector's (cent_id,
    sim) pairs keep the k most similar, ties to the lower cent_id."""
    return top_k_per_group(
        pairs, [by], [F.col("sim").desc(), F.col("cent_id").asc()], k=k
    )


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component d is
    uniform(-0.5, 0.5) derived from md5('lsh|{plane}|{d}') — the same
    construction as functions.hashing.uniform_hash, computed driver-side
    (pure, no RNG state) and inlined as literals in both engines."""
    out = []
    for d in range(dim):
        key = f"lsh\x01{plane}\x01{d}".encode()
        h = int(hashlib.md5(key).hexdigest()[:8], 16)
        out.append(h / 2**32 - 0.5)
    return out


def lsh_signature(vec_col: str, planes: list[list[float]]) -> Column:
    """b-bit signature as int: bit p = 1 iff dot(vec, plane_p) > 0.

    One SQL expression, so the plane literals cost one py4j call instead
    of one per component; the ``D`` suffix keeps each literal the exact
    DOUBLE (unsuffixed, it would parse as DECIMAL)."""
    bits = " + ".join(
        f"CASE WHEN aggregate(zip_with({vec_col}, array("
        + ", ".join(f"{x!r}D" for x in w)
        + f"), (a, b) -> a * b), 0.0D, (acc, x) -> acc + x) > 0 THEN {2**p} ELSE 0 END"
        for p, w in enumerate(planes)
    )
    return F.expr(f"CAST({bits} AS INT)")


def _bucketed(n_planes: int, dim: int):
    """The LSH-bucketed side shared by ``lsh_bucketed_topk`` and
    ``embedding_neardup_pairs``: the planes and signature are built once
    per operator call; the returned function projects a frame to
    ``_side(..., bucket)``."""
    bucket = lsh_signature(
        "embedding", [hyperplane(p, dim) for p in range(n_planes)]
    ).alias("bucket")
    return lambda df, id_as, v: _side(df, "vec_id", "embedding", id_as, v, bucket)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches are excluded.  Physical plan: broadcast the smaller
    side of queries x candidates, score JVM-side, then window top-k
    partitioned by query (SURVEY §2.5 pattern).
    """
    q = _side(queries, id_col, vec_col, "query_id", "qv")
    c = _side(candidates, id_col, vec_col, "neighbor_id", "cv")
    return _ranked(F.broadcast(q).crossJoin(c), k)


def _stack(vecs, dim: int):
    """Vectors -> an (n, dim) float64 matrix.  A NULL vector (or one of
    another length) becomes a zero row, which scores 0/0 = NaN: Arrow
    returns that as SQL NULL, ranked last like the JVM path's NULL."""
    import numpy as np

    out = np.zeros((len(vecs), dim))
    for i, v in enumerate(vecs):
        if v is not None and len(v) == dim:
            out[i] = v
    return out


def arrow_brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k through the Arrow/numpy path — identical
    results to ``brute_force_topk``, different physical engine.

    The JVM path evaluates the dot product as an interpreted HOF fold
    per pair; here each candidate partition is scored against the whole
    query matrix with ONE BLAS matmul (`C @ Q.T`) inside `mapInPandas`,
    then reduced to a per-batch top-k under the exact global comparator
    (6-dp cosine desc, neighbor id asc — a total order, so per-batch
    top-k composes losslessly into the global window top-k).  This is
    the SIMD scale path for wide embeddings: per-batch work is
    memory-bandwidth-bound matmul instead of expression interpretation.

    The bounded query set is driver-collected and broadcast — the same
    |Q|-boundedness contract ``brute_force_topk`` documents for its
    broadcast side.  Scores replay the oracle's exact formula
    dot/(|q|·|c|) in float64, so the same DuckDB oracle hash-checks
    this path too.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()  # bounded query set
    spark = queries.sparkSession
    if not qrows:
        # no queries -> no rows; short-circuit before the numpy matrix
        # build, where a zero-row array is 1-D and axis-1 reductions
        # raise (degenerate-input contract: empty in, empty out)
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    dim = next((len(r[1]) for r in qrows if r[1] is not None), 0)
    qmat = _stack([r[1] for r in qrows], dim)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def score(batches):
        ids_q, qm, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = _stack(pdf[vec_col].tolist(), qm.shape[1])
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            # oracle formula exactly: dot / (|q| * |c|), float64 matmul.
            # A 0-norm pair divides 0/0 -> NaN: np.lexsort sorts NaN
            # last (matching the JVM comparator's NULLS LAST), and the
            # Arrow return path converts float NaN to SQL NULL — so a
            # degenerate vector lands exactly like the JVM path's
            # try_divide NULL, worst-ranked, never an exception.
            with np.errstate(invalid="ignore", divide="ignore"):
                s = np.round(cmat @ qm.T / np.outer(cnorm, qn), 6)
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids_q)):
                col = s[:, j]
                mask = cids != ids_q[j]  # exclude self
                vid, val = cids[mask], col[mask]
                order = np.lexsort((vid, -val))[:k]  # total order: -cos, id
                out_q.extend([ids_q[j]] * len(order))
                out_n.extend(vid[order])
                out_c.extend(val[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    partial = candidates.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return _top_k(partial, k)


def dot_topk_rows(s, ids_c, kk):
    """Exact per-row top-k of a dense score matrix: (n_rows, |C|)
    float32 scores -> (n_rows, kk) candidate ids + scores, each row
    ordered by score desc then candidate id asc (a total order; MLlib
    leaves float ties arbitrary — determinism costs nothing here).

    Selection is sampled-threshold, not row-wise np.argpartition: the
    naive kernel is memory-bound (67 s of 70 s single-thread at
    147k x 20k).  Each row's kth-largest is estimated
    from a FIXED column sample (linspace, no RNG — bit-reproducible
    across runs and partitionings), everything >= the estimate is kept
    with one SIMD compare pass, and only the rows the estimate
    under-filled (~1 in 10^5) pay an exact partition.  The threshold
    aims at rank ~2.5k: the binomial spread of the implied rank is
    ~2.5k/sqrt(q_rank), so the under-fill fallback is rare, and the
    over-selection (~2.5k per row) is cheap to sort.

    Scores must be totally ordered floats (no NaN) — ALS/embedding
    factors are finite by construction.
    """
    import numpy as np

    n_rows, n_cols = s.shape
    if kk >= n_cols:
        ids_b = np.broadcast_to(ids_c, s.shape)
        order = np.lexsort((ids_b, -s), axis=1)
        top_i = np.take_along_axis(ids_b, order, axis=1)
        top_s = np.take_along_axis(s, order, axis=1)
        return top_i, top_s
    m_sample = min(2048, n_cols)
    sample_idx = np.linspace(0, n_cols - 1, m_sample).astype(np.int64)
    q_rank = max(1, min(m_sample - 1, int(2.5 * kk * m_sample / n_cols)))
    thr = np.partition(s[:, sample_idx], m_sample - q_rank, axis=1)[
        :, m_sample - q_rank
    ]
    mask = s >= thr[:, None]
    bad = np.nonzero(mask.sum(axis=1) < kk)[0]
    if len(bad):  # sampled estimate over-shot: exact kth for those rows
        sub = s[bad]
        t_exact = np.partition(sub, n_cols - kk, axis=1)[:, n_cols - kk]
        mask[bad] = sub >= t_exact[:, None]
    rows, cols = np.nonzero(mask)
    sc = s[rows, cols]
    # order the SELECTED set (a few k per row, not |C|) by (row, score
    # desc, candidate id asc).  The id must be an explicit sort key: a
    # stable sort on (row, score) would break ties by column POSITION,
    # which equals id order only when ids_c happens to be monotonic —
    # a hypothesis sweep with permuted ids caught exactly that.  Float
    # comparison also treats -0.0 == 0.0 here, matching the
    # reference comparator, where a bit-level key would not.
    order = np.lexsort((ids_c[cols], -sc, rows))
    rows_s, cols_s, sc_s = rows[order], cols[order], sc[order]
    counts = np.bincount(rows_s, minlength=n_rows)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    keep = (np.arange(len(rows_s)) - starts[rows_s]) < kk
    return (
        ids_c[cols_s[keep]].reshape(n_rows, kk),
        sc_s[keep].reshape(n_rows, kk),
    )


# query rows per matmul in arrow_dot_topk: a (1024, |C|) float32 score
# block per task (~80 MB at a 20k-item catalog)
_DOT_CHUNK = 1024


def arrow_dot_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 100,
    id_col: str = "id",
    vec_col: str = "features",
    as_lists: bool = False,
) -> DataFrame:
    """Distributed dot-product top-k with the CANDIDATE side broadcast —
    the matrix-factorization serving kernel (score = u·v, not cosine).

    The mirror image of ``arrow_brute_force_topk``: the bounded
    candidate set (an item catalog's factors, |I|·rank floats) is
    broadcast and the query side streams through ``mapInPandas``, so
    each query row's complete top-k is computed inside its own batch
    with one BLAS matmul per chunk.  Zero shuffle, zero window, no
    driver collect of the query side.

    Boundedness contract, enforced before the driver collects the
    candidates: the estimated driver-side cost — three transient
    float32 copies of the matrix (Arrow batches, per-row Series, the
    stacked matrix) plus ~256 B/row of Python overhead — must not
    exceed ``$SPARK_GRAFT_MAX_BROADCAST_BYTES`` (default 512 MiB, about
    a 370k-item catalog at rank 100).  Over it, the call raises naming
    the scale paths instead of failing later as a driver OOM.

    Scores are float32 (MLlib ALS's factor type); ties break on
    candidate id ascending.  Output is (query_id, neighbor_id, score,
    rank), or with ``as_lists=True`` one row per query — (query_id,
    recs: array<int> ordered by score desc), the ranking-metrics input
    shape, still without an aggregation shuffle.
    """
    import numpy as np
    import pandas as pd

    cap = env_positive_int("SPARK_GRAFT_MAX_BROADCAST_BYTES", 512 << 20)
    schema = (
        "query_id int, recs array<int>"
        if as_lists
        else "query_id int, neighbor_id int, score float, rank int"
    )
    spark = queries.sparkSession
    # one probe job (a global aggregate: always one row) sizes the
    # catalog before anything is collected
    probe = candidates.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(vec_col)).alias("r")
    ).first()
    n_c = int(probe["n"])
    if n_c == 0:
        return spark.createDataFrame([], schema)
    rank = int(probe["r"])
    est = n_c * (rank * 4 * 3 + 256)
    if est > cap:
        raise ValueError(
            f"arrow_dot_topk: candidate side ~{est / 2**30:.2f} GiB "
            f"estimated driver materialization ({n_c} rows x rank {rank}) "
            f"exceeds the {cap / 2**30:.2f} GiB bound — serve through "
            "ivf_topk/lsh_bucketed_topk, slice the query side "
            "(recommend_top_k(users=...)) and swap sides, or raise "
            "SPARK_GRAFT_MAX_BROADCAST_BYTES deliberately on a "
            "big-memory driver"
        )
    cpdf = candidates.select(id_col, vec_col).toPandas()  # Arrow collect
    cids = cpdf[id_col].to_numpy(dtype=np.int64)
    cmat = np.asarray(cpdf[vec_col].tolist(), dtype=np.float32)
    del cpdf
    bc = spark.sparkContext.broadcast((cids, cmat))
    kk = min(k, len(cids))

    def score(batches):
        ids_c, cm = bc.value
        cmT = cm.T  # (rank, |C|)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf[id_col].to_numpy(dtype=np.int64)
            # Arrow hands list columns back as a Series of ndarrays;
            # tolist + asarray stacks them without a per-row Python loop
            qmat = np.asarray(pdf[vec_col].tolist(), dtype=np.float32)
            out_frames = []
            for lo in range(0, len(qids), _DOT_CHUNK):
                qc = qmat[lo : lo + _DOT_CHUNK]
                s = qc @ cmT  # (chunk, |C|) float32 — the BLAS hot loop
                top_i, top_s = dot_topk_rows(s, ids_c, kk)
                q_slice = qids[lo : lo + _DOT_CHUNK]
                if as_lists:
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "query_id": q_slice.astype(np.int32),
                                "recs": [r.astype(np.int32) for r in top_i],
                            }
                        )
                    )
                else:
                    n = len(q_slice)
                    out_frames.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(
                                    q_slice.astype(np.int32), kk
                                ),
                                "neighbor_id": top_i.ravel().astype(np.int32),
                                "score": top_s.ravel(),
                                "rank": np.tile(
                                    np.arange(1, kk + 1, dtype=np.int32), n
                                ),
                            }
                        )
                    )
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    qsel = queries.select(id_col, vec_col)
    # a factor frame has one partition per ALS block (a loaded one, one
    # part-file per block): the fitting session's defaultParallelism
    # unless num_blocks pinned it, so a model fitted with fewer blocks
    # or on a smaller session lands here below this session's cores.
    # The query side is id+rank floats (~5 MB per million rows at rank
    # 8), so a repartition shuffle is trivially cheap next to the
    # matmul it parallelizes.
    par = spark.sparkContext.defaultParallelism
    if qsel.rdd.getNumPartitions() < par:
        qsel = qsel.repartition(par)
    return qsel.mapInPandas(score, schema)


def lsh_bucketed_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: score only same-LSH-bucket pairs.

    2^n_planes buckets; expected candidate set shrinks ~2^-n_planes per
    query, at the cost of missing neighbors that fall across a
    hyperplane.  The scale path: the bucket join is a plain equi-join
    (shuffle on a small int key), never a cross product.
    """
    side = _bucketed(n_planes, dim)
    q = side(queries, "query_id", "qv")
    c = side(candidates, "neighbor_id", "cv")
    return _ranked(q.join(c, "bucket"), k)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    stride: int = 29,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-Flat ANN top-k: inverted-file index with a deterministic
    coarse quantizer, ``nprobe`` cell probing, exact re-rank in-cell.

    Structure (the classic IVF recipe, minus the k-means iterations):

    1. **Coarse quantizer**: every candidate whose id satisfies
       ``id % stride == 1`` becomes a centroid — deterministic, so the
       DuckDB oracle replays the exact same index.  (Production would
       k-means-refine the seeds; the *index structure and query path*
       are identical, and seed choice only affects cell balance.)
    2. **Assignment** (index build): each vector joins the broadcast
       centroid table and keeps its nearest centroid by cosine — one
       narrow pass over the data, no shuffle of vectors against each
       other.  This is the inverted file: cell id -> member vectors.
    3. **Probe**: each query scores the same broadcast centroids and
       probes its ``nprobe`` nearest cells — recall/cost dial.
    4. **Re-rank**: probed cells' members are scored exactly (cosine)
       and the top-k per query kept.

    At scale the vectors shuffle ONCE (hash-partitioned by cell id),
    queries shuffle by probed cell, and the join is an equi-join on
    cell id — |Q| x |C| / #cells * nprobe work instead of |Q| x |C|.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    return _ivf_probe(queries, candidates, _seed_centroids(candidates, stride), k, nprobe)


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-Flat with a k-means-refined coarse quantizer (the production
    variant ``ivf_topk``'s docstring promises): MLlib KMeans learns
    ``n_cells`` centroids (5 distributed Lloyd iterations, seed 42),
    then the same assign / nprobe-probe / exact re-rank path runs
    against them.  Better cell balance than seed centroids on clustered
    data — the probe path and cost model are identical.  Not
    SQL-reproducible (iterative k-means), so queries built on it
    register rows-only.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = candidates.select(array_to_vector(_dvec("embedding")).alias("features"))
    km = KMeans(k=n_cells, seed=42, maxIter=5).fit(train)
    cents = candidates.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "cent_id int, cent_v array<double>",
    )
    return _ivf_probe(
        queries, candidates, _side(cents, "cent_id", "cent_v", "cent_id", "cent_v"), k, nprobe
    )


def _ivf_probe(
    queries: DataFrame, candidates: DataFrame, cents: DataFrame, k: int, nprobe: int
) -> DataFrame:
    """Assign every candidate to its nearest cell, probe each query's
    ``nprobe`` nearest cells, and re-rank the probed members exactly."""
    c = _side(candidates, "vec_id", "embedding", "neighbor_id", "cv")
    q = _side(queries, "vec_id", "embedding", "query_id", "qv")
    assign = _nearest(_centroid_sims(c, "cv", cents), "neighbor_id", 1).drop("sim")
    probe = _nearest(_centroid_sims(q, "qv", cents), "query_id", nprobe).drop("sim")
    return _ranked(probe.join(assign, "cent_id"), k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), LSH-bucketed: only same-bucket pairs are scored."""
    s = _bucketed(n_planes, dim)(df, "id", "v")
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cos("a.v", "b.v", "a.vn", "b.vn").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def micro_centroids(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Embeddings as integer MICRO-UNITS and their per-label centroids,
    exact on every engine: a component is floor(x * 1e6) (the
    float->double cast is exact, multiply and floor are single IEEE
    ops), and a (label, dim) centroid is the integer sum DIV count
    (Spark DIV and DuckDB // both truncate toward zero — verified
    including negatives).

    Returns (units: vec_id, label, dim, u — checkpointed, as it feeds
    the centroids and the caller; centroids: label, dim, c)."""
    units = (
        vecs.select("vec_id", "label", F.posexplode("embedding").alias("dim", "val"))
        .select(
            "vec_id",
            "label",
            "dim",
            F.floor(F.col("val").cast("double") * 1_000_000).cast("long").alias("u"),
        )
        .localCheckpoint(eager=False)
    )
    cents = units.groupBy("label", "dim").agg(F.expr("sum(u) DIV count(*)").alias("c"))
    return units, cents


def centroid_classifier_eval(vecs: DataFrame) -> DataFrame:
    """Nearest-centroid classification accuracy per label — the standard
    cheap read on embedding quality ("are classes linearly separated?").

    Determinism is engineered like pagerank: ``micro_centroids`` gives
    integer components and centroids, and the per-(vector, label) score
    sum(u * c) is an exact integer; only the final norm division runs
    in double, on identical operands.  Prediction = max score with
    label-ascending tie-break.

    Physically: explode to (id, dim, u) once, broadcast the tiny
    (labels x dims) centroid table, one grouped integer dot per
    (vector, candidate label), a rank-1 nearest-centroid pick per
    vector.  Returns (label, n, n_correct, accuracy).
    """
    from ..functions.rounding import det_round

    ex, cents = micro_centroids(vecs)
    cents = cents.withColumnRenamed("label", "cent_id")
    nc = cents.groupBy("cent_id").agg(F.sum(F.col("c") * F.col("c")).alias("nc"))
    scores = (
        ex.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "cent_id")
        .agg(F.sum(F.col("u") * F.col("c")).alias("dot"))
        .join(F.broadcast(nc), "cent_id")
        .select(
            "vec_id",
            "label",
            "cent_id",
            (F.col("dot").cast("double") / F.sqrt(F.col("nc").cast("double"))).alias("sim"),
        )
    )
    return (
        _nearest(scores, "vec_id", 1)
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("cent_id") == F.col("label")).cast("long")).alias("n_correct"),
        )
        .select(
            "label",
            "n",
            "n_correct",
            det_round(F.col("n_correct") / F.col("n")).alias("accuracy"),
        )
    )


def semdedup(candidates: DataFrame, tau: float = 0.4, cent_mod: int = 29) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    drop within-cluster semantic duplicates — pairs with cosine >= tau
    — keeping the LOWEST id of each duplicate pair (a deterministic
    stand-in for the paper's keep-farthest-from-centroid policy).

    Clustering bounds the quadratic term: all-pairs runs per CLUSTER,
    never globally, so with n_cells ~ sqrt(n) the pair join is ~n^1.5
    dot products total instead of n^2 — the same reason the paper
    k-means-clusters 100M embeddings before comparing any.  Centroids
    here are deterministic seed vectors (vec_id % cent_mod == 1), the
    engine's oracle-reproducible quantizer (swap in
    ``ivf_kmeans_topk``'s MLlib KMeans for better balance when oracle
    replay isn't needed).  SIZE ``cent_mod`` ~ isqrt(n): n_cells is
    n/cent_mod, so a FIXED modulus silently makes the broadcast-assign
    pass n^2/cent_mod (the registry query derives the modulus from a
    count for exactly this reason).  At 100 TB: centroids broadcast
    (one narrow pass to assign), the pair join shuffles on cluster id
    only, and a cluster-size cap (re-split oversized cells by a
    secondary hash) guards the skewed-cell worst case.

    Returns one row per vector: (vec_id, cent_id, cent_cos, is_dup).
    """
    side = _side(candidates, "vec_id", "embedding", "vec_id", "v")
    # assign feeds three consumers (the output row, both sides of the
    # pair self-join) — truncate once so the broadcast-assign pass runs
    # once, not three times (engine-wide localCheckpoint policy: blocks
    # freed by the ContextCleaner when the py4j ref drops)
    assign = _nearest(
        _centroid_sims(side, "v", _seed_centroids(candidates, cent_mod)), "vec_id", 1
    ).localCheckpoint(eager=False)
    a, b = assign.alias("a"), assign.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") > F.col("b.vec_id")),
        )
        # a 0-norm member yields NULL cosine, and NULL >= tau is NULL ->
        # filtered out: a degenerate vector is never marked duplicate
        .filter(_cos("a.v", "b.v", "a.vn", "b.vn") >= F.lit(tau))
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id",
        "cent_id",
        F.col("sim").alias("cent_cos"),
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def sq8_reconstruct(df: DataFrame) -> DataFrame:
    """Scalar 8-bit quantization (the IVF-SQ8 storage path): per
    dimension, map [min, max] linearly onto 0..255 codes, then
    reconstruct — searching the reconstructed vectors is exactly what an
    SQ8 index scores, at 4x less memory than float32 (16x vs float64).

    Fully distributed: the per-dimension ranges are one tiny aggregate
    (dim groups, partial-aggregated map-side), folded into ONE broadcast
    row of (lo[], hi[]) arrays — the quantize/reconstruct step is then a
    narrow per-row ``transform``, no second shuffle of the vectors.
    Codes use floor(y + 0.5), bit-stable across engines (round() ties
    diverge).  Returns (vec_id, v: array<double> reconstructed).
    """
    d = df.select("vec_id", _dvec("embedding").alias("v"))
    dims = d.select(F.posexplode("v").alias("pos", "x"))
    rng = dims.groupBy("pos").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    ranges = rng.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "lo"))), lambda s: s["lo"]
        ).alias("los"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "hi"))), lambda s: s["hi"]
        ).alias("his"),
    )
    return d.crossJoin(F.broadcast(ranges)).select(
        "vec_id",
        F.expr(
            "transform(v, (x, i) -> CASE"
            " WHEN element_at(his, i + 1) = element_at(los, i + 1)"
            " THEN element_at(los, i + 1)"
            " ELSE element_at(los, i + 1)"
            "  + floor((x - element_at(los, i + 1)) * 255"
            "          / (element_at(his, i + 1) - element_at(los, i + 1)) + 0.5d)"
            "    * (element_at(his, i + 1) - element_at(los, i + 1)) / 255"
            " END)"
        ).alias("v"),
    )


# --- Johnson-Lindenstrauss random projection ------------------------------


def jl_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic +-1 projection matrix (out_dim x in_dim), each sign
    the parity of md5('jl|j|i') — the Achlioptas (2001) database-friendly
    JL construction with sign entries.  Derived at PLAN BUILD time in
    plain Python (no Spark, no RNG state), so the Spark expression and
    the DuckDB oracle embed the identical literal matrix."""
    return [
        [
            1 if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(vecs: DataFrame, in_dim: int = 64, out_dim: int = 16) -> DataFrame:
    """Project embeddings to ``out_dim`` dims: p_j = sum_i s_ji * u_i
    over integer MICRO-UNIT components (floor(x*1e6) — the engine's
    exact-arithmetic trick, cf. micro_centroids), so every projected
    coordinate is an exact integer, bit-identical across engines and
    summation orders.  Cosine is scale-invariant, so the unnormalized
    signed sum preserves JL geometry exactly as the
    1/sqrt(out_dim)-scaled version would.

    Why this shape at 100 TB: the projection is a NARROW per-row map
    (no shuffle, no state); downstream ANN then scores out_dim-wide
    vectors — a 4x FLOP/bandwidth cut at out_dim=16 over 64 — with
    recall governed by the JL lemma.  The sign matrix is one SQL
    expression (one py4j call, not one per entry).  Returns (vec_id,
    jl: array<long>).
    """
    proj = ", ".join(
        "aggregate(zip_with(__u, array("
        + ", ".join(f"{s}L" for s in row)
        + "), (x, s) -> x * s), 0L, (acc, x) -> acc + x)"
        for row in jl_signs(in_dim, out_dim)
    )
    u = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    return vecs.select("vec_id", F.expr(u).alias("__u")).select(
        "vec_id", F.expr(f"array({proj})").alias("jl")
    )


def mmr_select(df: DataFrame, query_id: int, k: int = 5) -> DataFrame:
    """Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98) over the embeddings table — the diversified-retrieval step
    a RAG pipeline runs after ANN recall: pick k items maximizing
    relevance to the query while penalizing similarity to what is
    already selected.

    score(c) = 2*rel(c) - max_{s in S} sim(c, s)   (lambda = 0.5, scaled
    by 2 so the whole objective stays in integers.)

    Determinism at the engine level: vectors quantize to integer
    micro-units (floor(v*1e6 + 0.5) — float->double is exact, one IEEE
    multiply each), every dot product is an exact BIGINT array-fold,
    and the per-step argmax is a struct-max aggregate with min-id
    tiebreak — so the k-step greedy trajectory is bit-identical on any
    engine or partitioning and oracle-replayable as unrolled SQL (the
    BPE/PCA gating pattern applied to retrieval).

    Scale shape: k is FIXED and small, so the plan is k chained rounds;
    each round = one anti-join against the (<= k-row, broadcast)
    selected set, one crossJoin with those <= k broadcast vectors for
    the max-sim, and one 1-row struct-max — data-sized work is k linear
    passes, no pairwise blow-up.  Each winner row localCheckpoints so
    round r+1's plan starts from a flat 1-row scan.
    Output: (step, id, rel, score), step 1..k in selection order.
    """
    micro = df.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 10**6 + F.lit(0.5)).cast("long"),
        ).alias("m"),
    ).localCheckpoint(eager=False)

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    q = micro.filter(F.col("id") == query_id).select(F.col("m").alias("qm"))
    cand = (
        micro.filter(F.col("id") != query_id)
        .crossJoin(F.broadcast(q))
        .select("id", "m", dot(F.col("m"), F.col("qm")).alias("rel"))
        .localCheckpoint(eager=False)
    )

    sel = None
    winners = []
    for step in range(1, k + 1):
        if sel is None:
            scored = cand.select(
                "id", "m", "rel", (2 * F.col("rel")).alias("score")
            )
        else:
            pool = cand.join(
                F.broadcast(sel.select(F.col("id").alias("sid"))),
                F.col("id") == F.col("sid"),
                "left_anti",
            )
            sims = pool.crossJoin(
                F.broadcast(sel.select(F.col("m").alias("sm")))
            ).select("id", dot(F.col("m"), F.col("sm")).alias("d"))
            mx = sims.groupBy("id").agg(F.max("d").alias("maxsim"))
            scored = pool.join(mx, "id").select(
                "id", "m", "rel", (2 * F.col("rel") - F.col("maxsim")).alias("score")
            )
        w = (
            scored.agg(
                F.max(
                    F.struct(
                        F.col("score"),
                        (-F.col("id")).alias("nid"),
                        F.col("rel"),
                        F.col("m"),
                    )
                ).alias("t")
            )
            .select(
                F.lit(step).alias("step"),
                (-F.col("t.nid")).cast("long").alias("id"),
                F.col("t.rel").alias("rel"),
                F.col("t.score").alias("score"),
                F.col("t.m").alias("m"),
            )
            .localCheckpoint(eager=False)
        )
        sel = w if sel is None else sel.unionByName(w)
        winners.append(w)

    out = winners[0]
    for w in winners[1:]:
        out = out.unionByName(w)
    return out.select("step", "id", "rel", "score").orderBy("step")
