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
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.arrays import cosine_similarity, dot_product, l2_norm
from ..session import env_positive_int
from .topk import top_k_per_group


def _cos(va: str, vb: str, na: str, nb: str, round_to: int):
    """Cosine from a precomputed-norm pair: norms are per-vector, so
    every scoring join attaches them BEFORE the join and divides the
    per-pair dot by the product — cosine_similarity inline would re-run
    both HOF norm folds for every candidate pair.

    ``try_divide`` not ``/`` — the same ANSI contract as
    ``functions.arrays.cosine_similarity``: Spark 4 runs ANSI mode by
    default, where a plain division RAISES on a zero-norm vector.  A
    0-norm pair yields NULL cosine, which the serving comparators
    (``cosine DESC`` = NULLS LAST) rank after every real neighbor —
    degenerate vectors degrade to worst-ranked instead of aborting a
    100 TB serving job."""
    return F.round(
        F.try_divide(dot_product(va, vb), F.col(na) * F.col(nb)), round_to
    )


def _dvec(col: Column | str) -> Column:
    """Cast array<float> -> array<double> BEFORE arithmetic: per-term
    float32 products would diverge from a double-precision oracle by
    ~1e-8 relative — enough to flip a round-to-6 boundary.  Double
    products keep the divergence at summation-order level (~1e-15)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def hyperplane(plane: int, dim: int, salt: str = "lsh") -> list[float]:
    """Deterministic pseudo-random hyperplane: component d is
    uniform(-0.5, 0.5) derived from md5('{salt}|{plane}|{d}') — the same
    construction as functions.hashing.uniform_hash, computed driver-side
    (pure, no RNG state) and inlined as literals in both engines."""
    out = []
    for d in range(dim):
        key = f"{salt}\x01{plane}\x01{d}".encode()
        h = int(hashlib.md5(key).hexdigest()[:8], 16)
        out.append(h / 2**32 - 0.5)
    return out


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """b-bit signature as int: bit p = 1 iff dot(vec, plane_p) > 0."""
    sig = None
    for p, w in enumerate(planes):
        wcol = F.array(*[F.lit(float(x)) for x in w])
        dot = F.aggregate(
            F.zip_with(vec, wcol, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bit = F.when(dot > 0, F.lit(2**p)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return sig.cast("int")


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches are excluded.  Physical plan: broadcast the smaller
    side of queries x candidates, score JVM-side, then window top-k
    partitioned by query (SURVEY §2.5 pattern).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
    ).withColumn("qn", l2_norm("qv"))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(vec_col).alias("cv"),
    ).withColumn("cn", l2_norm("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cos("qv", "cv", "qn", "cn", round_to))
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
    ).select("query_id", "neighbor_id", "cosine", "rank")


def arrow_brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine top-k through the Arrow/numpy path — identical
    results to ``brute_force_topk``, different physical engine.

    The JVM path evaluates the dot product as an interpreted HOF fold
    per pair; here each candidate partition is scored against the whole
    query matrix with ONE BLAS matmul (`C @ Q.T`) inside `mapInPandas`,
    then reduced to a per-batch top-k under the exact global comparator
    (round-6 cosine desc, neighbor id asc — a total order, so per-batch
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
    if not qrows:
        # no queries -> no rows; short-circuit before the numpy matrix
        # build, where a zero-row array is 1-D and axis-1 reductions
        # raise (degenerate-input contract: empty in, empty out)
        spark = queries.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))
    spark = queries.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def score(batches):
        ids_q, qm, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            # oracle formula exactly: dot / (|q| * |c|), float64 matmul.
            # A 0-norm pair divides 0/0 -> NaN: np.lexsort sorts NaN
            # last (matching the JVM comparator's NULLS LAST), and the
            # Arrow return path converts float NaN to SQL NULL — so a
            # degenerate vector lands exactly like the JVM path's
            # try_divide NULL, worst-ranked, never an exception.
            with np.errstate(invalid="ignore", divide="ignore"):
                s = np.round(cmat @ qm.T / np.outer(cnorm, qn), round_to)
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
    return top_k_per_group(
        partial,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
    ).select("query_id", "neighbor_id", "cosine", "rank")


def dot_topk_rows(s, ids_c, kk):
    """Exact per-row top-k of a dense score matrix: (n_rows, |C|)
    float32 scores -> (n_rows, kk) candidate ids + scores, each row
    ordered by score desc then candidate id asc (a total order; MLlib
    leaves float ties arbitrary — determinism costs nothing here).

    Selection is sampled-threshold, not row-wise np.argpartition: the
    naive kernel is memory-bound (67 s of 70 s single-thread at
    147k x 20k, measured round 8).  Each row's kth-largest is estimated
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
    # a hypothesis sweep with permuted ids caught exactly that (round
    # 8).  Float comparison also treats -0.0 == 0.0 here, matching the
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """ANN top-k: score only same-LSH-bucket pairs.

    2^n_planes buckets; expected candidate set shrinks ~2^-n_planes per
    query, at the cost of missing neighbors that fall across a
    hyperplane.  The scale path: the bucket join is a plain equi-join
    (shuffle on a small int key), never a cross product.
    """
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(vec_col).alias("qv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    ).withColumn("qn", l2_norm("qv"))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(vec_col).alias("cv"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    ).withColumn("cn", l2_norm("cv"))
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cos("qv", "cv", "qn", "cn", round_to))
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
    ).select("query_id", "neighbor_id", "cosine", "rank")


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    stride: int = 29,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
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
    cents = candidates.filter((F.col(id_col) % stride) == 1).select(
        F.col(id_col).alias("cent_id"), _dvec(vec_col).alias("cent_v")
    )
    return _ivf_probe(queries, candidates, cents, k, nprobe, id_col, vec_col, round_to)


def ivf_kmeans_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    max_iter: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF-Flat with a k-means-refined coarse quantizer (the production
    variant ``ivf_topk``'s docstring promises): MLlib KMeans learns
    ``n_cells`` centroids (distributed Lloyd iterations), then the same
    assign / nprobe-probe / exact re-rank path runs against them.
    Better cell balance than seed centroids on clustered data — the
    probe path and cost model are identical.  Not SQL-reproducible
    (iterative k-means), so queries built on it register rows-only.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = candidates.select(array_to_vector(_dvec(vec_col)).alias("features"))
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    spark = candidates.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "cent_id int, cent_v array<double>",
    )
    return _ivf_probe(queries, candidates, cents, k, nprobe, id_col, vec_col, round_to)


def _ivf_probe(
    queries: DataFrame,
    candidates: DataFrame,
    cents: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    round_to: int,
) -> DataFrame:
    cents_n = cents.withColumn("cent_n", l2_norm("cent_v"))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), _dvec(vec_col).alias("cv")
    ).withColumn("cn", l2_norm("cv"))
    assign = top_k_per_group(
        c.crossJoin(F.broadcast(cents_n)).withColumn(
            "sim", _cos("cv", "cent_v", "cn", "cent_n", round_to)
        ),
        ["neighbor_id"],
        [F.col("sim").desc(), F.col("cent_id").asc()],
        k=1,
    ).select("neighbor_id", "cent_id", "cv", "cn")
    q = queries.select(
        F.col(id_col).alias("query_id"), _dvec(vec_col).alias("qv")
    ).withColumn("qn", l2_norm("qv"))
    probe = top_k_per_group(
        q.crossJoin(F.broadcast(cents_n)).withColumn(
            "sim", _cos("qv", "cent_v", "qn", "cent_n", round_to)
        ),
        ["query_id"],
        [F.col("sim").desc(), F.col("cent_id").asc()],
        k=nprobe,
    ).select("query_id", "qv", "qn", "cent_id")
    scored = (
        probe.join(assign, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cos("qv", "cv", "qn", "cn", round_to))
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        keep_rank=True,
    ).select("query_id", "neighbor_id", "cosine", "rank")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), LSH-bucketed: only same-bucket pairs are scored."""
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    sig = df.select(
        F.col(id_col).alias("id"),
        _dvec(vec_col).alias("v"),
        lsh_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a = sig.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket"
    ).withColumn("na", l2_norm("va"))
    b = sig.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket"
    ).withColumn("nb", l2_norm("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cos("va", "vb", "na", "nb", round_to))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def centroid_classifier_eval(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification accuracy per label — the standard
    cheap read on embedding quality ("are classes linearly separated?").

    Determinism is engineered like pagerank: vector components are
    integer MICRO-UNITS (floor(val * 1e6) — float->double cast is exact,
    multiply and floor are single IEEE ops), per-(label, dim) centroids
    are integer sums DIV counts (Spark DIV and DuckDB // both truncate
    toward zero — verified including negatives), and the per-(vector,
    label) score sum(u * c) is an exact integer; only the final
    norm division runs in double, on identical operands.  Prediction =
    max score with label-ascending tie-break.

    Physically: explode to (id, dim, u) once, broadcast the tiny
    (labels x dims) centroid table, one grouped integer dot per
    (vector, candidate label), a rank-1 window per vector.  Returns
    (label, n, n_correct, accuracy).
    """
    from ..functions.rounding import det_round

    ex = vecs.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(vec_col).alias("dim", "val"),
    ).select(
        id_col,
        label_col,
        "dim",
        F.floor(F.col("val").cast("double") * 1_000_000).cast("long").alias("u"),
    ).localCheckpoint(eager=False)
    cents = (
        ex.groupBy(F.col(label_col).alias("c_label"), "dim")
        .agg(F.expr("sum(u) DIV count(*)").alias("c"))
    )
    nc = cents.groupBy("c_label").agg(F.sum(F.col("c") * F.col("c")).alias("nc"))
    scores = (
        ex.join(F.broadcast(cents), "dim")
        .groupBy(id_col, label_col, "c_label")
        .agg(F.sum(F.col("u") * F.col("c")).alias("dot"))
        .join(F.broadcast(nc), "c_label")
        .select(
            id_col,
            label_col,
            "c_label",
            (F.col("dot").cast("double") / F.sqrt(F.col("nc").cast("double"))).alias("s"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("s").desc(), F.col("c_label").asc())
    pred = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, label_col, F.col("c_label").alias("pred"))
    )
    return (
        pred.groupBy(label_col)
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("pred") == F.col(label_col)).cast("long")).alias("n_correct"),
        )
        .select(
            label_col,
            "n",
            "n_correct",
            det_round(F.col("n_correct") / F.col("n")).alias("accuracy"),
        )
    )


def semdedup(
    candidates: DataFrame,
    tau: float = 0.4,
    cent_mod: int = 29,
    cent_rem: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    drop within-cluster semantic duplicates — pairs with cosine >= tau
    — keeping the LOWEST id of each duplicate pair (a deterministic
    stand-in for the paper's keep-farthest-from-centroid policy).

    Clustering bounds the quadratic term: all-pairs runs per CLUSTER,
    never globally, so with n_cells ~ sqrt(n) the pair join is ~n^1.5
    dot products total instead of n^2 — the same reason the paper
    k-means-clusters 100M embeddings before comparing any.  Centroids
    here are deterministic seed vectors (id % cent_mod == cent_rem),
    the engine's oracle-reproducible quantizer (swap in
    ``ivf_kmeans_topk``'s MLlib KMeans for better balance when oracle
    replay isn't needed).  SIZE ``cent_mod`` ~ isqrt(n): n_cells is
    n/cent_mod, so a FIXED modulus silently makes the broadcast-assign
    pass n^2/cent_mod (the round-6 sf1 probe measured it; the registry
    query derives the modulus from a count for exactly this reason).  At 100 TB: centroids broadcast (one narrow
    pass to assign), the pair join shuffles on cluster id only, and a
    cluster-size cap (re-split oversized cells by a secondary hash)
    guards the skewed-cell worst case.

    Returns one row per vector: (id, cent_id, cent_cos, is_dup).
    """
    c = candidates.select(F.col(id_col).alias("__vid"), _dvec(vec_col).alias("v"))
    c = c.withColumn("vn", l2_norm("v"))
    cents = (
        candidates.filter((F.col(id_col) % cent_mod) == cent_rem)
        .select(F.col(id_col).alias("cent_id"), _dvec(vec_col).alias("cv"))
        .withColumn("cn", l2_norm("cv"))
    )
    scored = c.crossJoin(F.broadcast(cents)).withColumn(
        "cent_cos", _cos("v", "cv", "vn", "cn", round_to)
    )
    w = Window.partitionBy("__vid").orderBy(F.col("cent_cos").desc(), F.col("cent_id").asc())
    # assign feeds three consumers (the output row, both sides of the
    # pair self-join) — truncate once so the broadcast-assign pass runs
    # once, not three times (engine-wide localCheckpoint policy: blocks
    # freed by the ContextCleaner when the py4j ref drops).
    # checkpoint=False keeps the full lineage visible for plan audits.
    assign = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__vid", "v", "vn", "cent_id", "cent_cos")
    )
    if checkpoint:
        assign = assign.localCheckpoint(eager=False)
    a, b = assign.alias("a"), assign.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.__vid") > F.col("b.__vid")),
        )
        .filter(
            # try_divide: a 0-norm member yields NULL cosine, and
            # NULL >= tau is NULL -> filtered out — a degenerate vector
            # is never marked duplicate instead of raising under ANSI
            F.round(
                F.try_divide(
                    dot_product("a.v", "b.v"), F.col("a.vn") * F.col("b.vn")
                ),
                round_to,
            )
            >= F.lit(tau)
        )
        .select(F.col("a.__vid").alias("__vid"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        assign.join(dups, "__vid", "left")
        .select(
            F.col("__vid").alias(id_col),
            "cent_id",
            "cent_cos",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
        )
    )


def sq8_reconstruct(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar 8-bit quantization (the IVF-SQ8 storage path): per
    dimension, map [min, max] linearly onto 0..255 codes, then
    reconstruct — searching the reconstructed vectors is exactly what an
    SQ8 index scores, at 4x less memory than float32 (16x vs float64).

    Fully distributed: the per-dimension ranges are one tiny aggregate
    (dim groups, partial-aggregated map-side), folded into ONE broadcast
    row of (lo[], hi[]) arrays — the quantize/reconstruct step is then a
    narrow per-row ``transform``, no second shuffle of the vectors.
    Codes use floor(y + 0.5), bit-stable across engines (round() ties
    diverge).  Returns (id_col, v: array<double> reconstructed).
    """
    d = df.select(F.col(id_col), _dvec(vec_col).alias("v"))
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
    rec = d.crossJoin(F.broadcast(ranges)).select(
        F.col(id_col),
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
    return rec


# --- Johnson-Lindenstrauss random projection ------------------------------


def jl_signs(in_dim: int, out_dim: int, salt: str = "jl") -> list[list[int]]:
    """Deterministic +-1 projection matrix (out_dim x in_dim), each sign
    the parity of md5(salt|j|i) — the Achlioptas (2001) database-friendly
    JL construction with sign entries.  Derived at PLAN BUILD time in
    plain Python (no Spark, no RNG state), so the Spark expression and
    the DuckDB oracle embed the identical literal matrix."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{salt}|{j}|{i}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    salt: str = "jl",
) -> DataFrame:
    """Project embeddings to ``out_dim`` dims: p_j = sum_i s_ji * u_i
    over integer MICRO-UNIT components (floor(x*1e6) — the engine's
    exact-arithmetic trick, cf. centroid_classifier_eval), so every
    projected coordinate is an exact integer, bit-identical across
    engines and summation orders.  Cosine is scale-invariant, so the
    unnormalized signed sum preserves JL geometry exactly as the
    1/sqrt(out_dim)-scaled version would.

    Why this shape at 100 TB: the projection is a NARROW per-row map
    (no shuffle, no state); downstream ANN then scores out_dim-wide
    vectors — a 4x FLOP/bandwidth cut at out_dim=16 over 64 — with
    recall governed by the JL lemma.  Returns (id_col, jl: array<long>).
    """
    signs = jl_signs(in_dim, out_dim, salt)
    u = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 1_000_000).cast("long")
    )
    out = vecs.withColumn("__u", u)
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__u"),
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda x, s: x * s.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for j in range(out_dim)
        ]
    )
    return out.select(id_col, proj.alias("jl"))


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 5,
    scale: int = 10**6,
) -> DataFrame:
    """Greedy Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR'98) — the diversified-retrieval step a RAG pipeline runs after
    ANN recall: pick k items maximizing relevance to the query while
    penalizing similarity to what is already selected.

    score(c) = 2*rel(c) - max_{s in S} sim(c, s)   (lambda = 0.5, scaled
    by 2 so the whole objective stays in integers.)

    Determinism at the engine level: vectors quantize to integer
    micro-units (floor(v*scale + 0.5) — float->double is exact, one
    IEEE multiply each), every dot product is an exact BIGINT
    array-fold, and the per-step argmax is a struct-max aggregate with
    min-id tiebreak — so the k-step greedy trajectory is bit-identical
    on any engine or partitioning and oracle-replayable as unrolled SQL
    (the BPE/PCA gating pattern applied to retrieval).

    Scale shape: k is FIXED and small, so the plan is k chained rounds;
    each round = one anti-join against the (<= k-row, broadcast)
    selected set, one crossJoin with those <= k broadcast vectors for
    the max-sim, and one 1-row struct-max — data-sized work is k linear
    passes, no pairwise blow-up.  Each winner row localCheckpoints so
    round r+1's plan starts from a flat 1-row scan.
    Output: (step, id, rel, score), step 1..k in selection order.
    """
    micro = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
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
