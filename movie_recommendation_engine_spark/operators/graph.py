"""Graph operators: connected components, PageRank, triangle count and
forest roots over DataFrame edge lists.

Why this lives in a data-pipeline engine: near-duplicate detection
(dedup.minhash_lsh_edges / simhash_edges /
similarity.embedding_neardup_pairs) emits PAIRS, but deduplication
needs CLUSTERS — "keep one doc per group of mutual near-dups" is
exactly connected components over the pair graph, with the min id as
the canonical representative.

Connected components: a driver-side union-find when the observed edge
count is small, else iterative min-label propagation expressed as
DataFrame joins — each round every node takes the minimum label among
itself and its neighbors; convergence when no label changes.  Rounds
are bounded by the graph diameter (near-dup graphs are shallow —
cliques and short chains — so a handful of rounds suffices).  Each
round is one shuffle join + one aggregation; lineage is truncated with
localCheckpoint every 5 rounds so the plan does not grow with the
iteration count (the reference hit exactly this class of failure with
long lineages, SURVEY §2.13.5).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

# Edge lists are the BIG frames iterative algorithms re-scan every
# round: checkpoint them DISK_ONLY, not the default deserialized
# memory level — the round-8 4 GiB soak showed on-heap edge blocks
# starving the per-iteration join/agg of execution memory (pagerank at
# sf1 OOM'd allocating its own spill writer), while sequential disk
# re-reads of a compact 2-3 column frame cost a fraction of the
# iteration itself.  Per-iteration rank/label frames stay on the
# default level: they are O(|V|) and re-read immediately.
_EDGE_LEVEL = StorageLevel.DISK_ONLY

# min-label propagation: round budget, and lineage truncation cadence
_MAX_ITER = 25
_CHECKPOINT_EVERY = 5


def connected_components(
    edges: DataFrame, small_graph_threshold: int = 1_000_000
) -> DataFrame:
    """(id, component) for every node of the (id_a, id_b) ``edges``;
    ``component`` is the smallest node id reachable from ``id``
    (undirected).

    Adaptive execution, same spirit as AQE's broadcast decision: the
    edge list is materialized (it is consumed every round anyway) and
    counted; below ``small_graph_threshold`` edges the component
    labeling runs as a driver-side union-find — one job end-to-end
    instead of 2-4 propagation rounds that each pay a full
    join+agg+action of scheduling overhead (measured ~3 s/round on a
    500-edge graph at local[32]).  Near-dup pair graphs are usually
    this shape: the corpus is huge, the surviving pair graph is not.
    Above the threshold — or with ``small_graph_threshold=0`` — the
    distributed min-label propagation below runs unchanged.

    Raises RuntimeError if propagation has not converged after
    ``_MAX_ITER`` rounds (diameter larger than that).
    """
    # Materialize the edge list ONCE before symmetrizing: the union
    # references it in both branches, and without this the upstream
    # pipeline that produced the pairs (e.g. the whole MinHash-LSH
    # candidate+verify cascade) executes twice inside a single job.
    # localCheckpoint (not cache) so lineage is truncated for the
    # propagation rounds AND the blocks are freed by the ContextCleaner
    # when the frame goes out of scope — no cross-query cache leak.
    e0 = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).localCheckpoint(
        eager=True
    )
    e = (
        e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if small_graph_threshold and e.count() <= small_graph_threshold:
        return _driver_union_find(edges.sparkSession, e)
    labels = (
        e.select(F.col("u").alias("id")).distinct().withColumn("comp", F.col("id")).cache()
    )
    for i in range(_MAX_ITER):
        nb_min = (
            e.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nb_comp"))
            .withColumnRenamed("u", "id")
        )
        # fold the convergence flag into the same pass: one join and one
        # action per round instead of a separate old-vs-new join
        new_comp = F.least(F.col("comp"), F.coalesce("nb_comp", "comp"))
        flagged = labels.join(nb_min, "id", "left").select(
            "id",
            new_comp.alias("comp"),
            (new_comp < F.col("comp")).alias("__changed"),
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            flagged = flagged.localCheckpoint(eager=False)
        flagged = flagged.cache()
        changed = flagged.filter("__changed").count()
        labels.unpersist()
        labels = flagged.drop("__changed")
        if changed == 0:
            # hand back a ContextCleaner-managed copy and release the
            # loop cache — returning the cached frame itself leaked one
            # storage entry per call into long-lived sessions (module
            # policy: localCheckpoint, freed when the py4j ref drops)
            out = labels.localCheckpoint(eager=True)
            flagged.unpersist()
            return out
    raise RuntimeError(f"connected_components did not converge in {_MAX_ITER} rounds")


def _driver_union_find(spark, e: DataFrame) -> DataFrame:
    """Exact union-find over a collected (small, count-verified) edge
    list; returns the same (id, comp) frame the propagation produces."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in e.collect():
        u, v = r.u, r.v
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the representative is the smallest id,
            # matching the propagation's min-label semantics
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    schema = e.select(F.col("u").alias("id"), F.col("u").alias("comp")).schema
    return spark.createDataFrame(rows, schema)


def dedup_canonical(
    all_ids: DataFrame, pair_edges: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse near-dup (id_a, id_b) PAIRS into canonical assignments
    for a whole corpus: every id maps to the min id of its near-dup
    component; ids with no near-dup map to themselves.  Output:
    (id_col, component, is_canonical)."""
    comps = connected_components(pair_edges).withColumnRenamed("id", id_col)
    out = (
        all_ids.select(id_col)
        .join(comps, id_col, "left")
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("component"),
        )
        .withColumn("is_canonical", (F.col(id_col) == F.col("component")))
    )
    return out


def _pr_broadcasts(nodes: DataFrame) -> bool:
    """Whether the pagerank rank and contribution sides enter their joins
    as broadcasts: when ``nodes.count()`` rows of 24 B (Spark's own
    per-row estimate for two longs: 8 B of row overhead plus 8 B each)
    fit the session's ``spark.sql.autoBroadcastJoinThreshold`` — 2.8M
    vertices at get_spark's 64 MiB.  The explicit hint is needed
    because the checkpointed inputs carry no size statistics, so Spark
    would otherwise sort-merge-join and re-shuffle the EDGE LIST every
    iteration.  Like every auto-broadcast in the session, the figure
    counts data bytes, not the hashed relation built from them.  A
    threshold of -1 (or 0) turns broadcasts off."""
    conf = nodes.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    return threshold > 0 and nodes.count() * 24 <= threshold


def _pr_small_side(df: DataFrame, small: bool) -> DataFrame:
    """Rank/contribution side of a pagerank-iteration join: broadcast
    when ``_pr_broadcasts`` says it fits, else shuffled-hash-hinted (the
    edge side is always the bigger stream; sorting it 2x/iteration is
    the SMJ cost the hint removes, guide §3.1 — results are
    join-strategy-independent integer sums)."""
    return F.broadcast(df) if small else df.hint("shuffle_hash")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "u",
    dst: str = "v",
    iterations: int = 3,
    damping: float = 0.85,
    weight: str | None = None,
) -> DataFrame:
    """Distributed PageRank with ENGINEERED determinism: ranks live in
    integer MICRO-UNITS (1e6 = rank 1.0) and every step is integer
    arithmetic — contribution = rank DIV out-degree, damping =
    (85 * sum) DIV 100 — so the result is bit-identical across engines,
    partitionings, and runs, and an ITERATIVE graph algorithm becomes
    fully value-hash-checkable against an unrolled-CTE SQL oracle.
    (A first cut rounded doubles to 6 dp instead; ~0.5% of vertices
    landed exactly on a .5 boundary where Java's BigDecimal HALF_UP and
    DuckDB's scaled-multiply rounding disagree — integer division has
    no such boundary.  Spark DIV and DuckDB // both truncate toward
    zero; every operand here is nonnegative, so truncation == floor.)

    Semantics are GraphX-style N-SCALED ranks (mean 1.0, reset mass
    0.15 per vertex, no 1/N normalization):
        pr'_i = 0.15 + 0.85 * sum_{j->i} pr_j / outdeg_j
    with each op truncated at 1e-6 resolution; divide by N for the
    probability-distribution form.  Dangling vertices leak their mass
    (identically on both sides); vertices without in-edges keep the
    reset floor via the left join.

    ``weight`` names an integer edge-weight column: a vertex then splits
    its rank in proportion to its out-edge weights, contribution along
    (j -> i) = ``(pru_j * w_ji) DIV W_j`` with ``W_j`` the vertex's
    total outgoing weight.  Overflow-safe for pru * w < 2^63 (micro-rank
    ~1e6 x weights up to ~1e12).  Weights must be positive integers
    (scale fractional weights up-front).

    Physically each iteration is the canonical scale shape: one join of
    the rank table with the (edge, out-degree) list on src — shuffle
    keyed by vertex — and one grouped integer sum keyed by dst, with
    localCheckpoint truncating lineage per iteration (without it the
    plan nests ``iterations`` deep).  ``damping`` must be a multiple of
    0.01 (it is applied as an exact integer percentage).

    ``nodes``: one row per vertex (id_col); ``edges``: directed (src,
    dst[, weight]) — pass both directions for an undirected graph.
    Returns (id_col, pagerank double = micro-rank / 1e6).
    """
    pct = int(round(damping * 100))
    if abs(pct - damping * 100) > 1e-9:
        raise ValueError("damping must be a multiple of 0.01")
    reset = 1_000_000 - pct * 10_000  # (1-d) in micro-units, exact
    # nodes feeds pr0 AND the broadcast decision's count — materialize once
    nodes = nodes.select(F.col(id_col)).localCheckpoint(eager=False)
    small = _pr_broadcasts(nodes)
    pr = nodes.select(F.col(id_col), F.lit(1_000_000).cast("long").alias("pru"))
    # the edge list feeds BOTH the degree aggregate and the contribution
    # join — truncate its (possibly expensive: pair-generation self-join
    # + distinct) lineage once instead of computing it twice
    edges = edges.localCheckpoint(eager=False, storageLevel=_EDGE_LEVEL)
    if weight is None:
        out_total, share = F.count("*"), "pru DIV __out"
    else:
        out_total, share = F.sum(weight).cast("long"), f"(pru * {weight}) DIV __out"
    deg = edges.groupBy(src).agg(out_total.alias("__out"))
    e = edges.join(deg, src).localCheckpoint(eager=False, storageLevel=_EDGE_LEVEL)
    for _ in range(iterations):
        contrib = (
            e.join(
                _pr_small_side(
                    pr.select(F.col(id_col).alias("__src"), "pru"), small
                ),
                e[src] == F.col("__src"),
            )
            .select(F.col(dst).alias("__dst"), F.expr(share).alias("__c"))
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__s"))
        )
        pr = (
            pr.join(_pr_small_side(contrib, small), pr[id_col] == F.col("__dst"), "left")
            .select(
                F.col(id_col),
                (
                    F.lit(reset).cast("long")
                    + F.expr(f"({pct} * coalesce(__s, 0L)) DIV 100")
                ).alias("pru"),
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(
        F.col(id_col), (F.col("pru").cast("double") / 1_000_000).alias("pagerank")
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count by degree-ordered edge orientation — the
    classic bound on the wedge blowup (Schank & Wagner 2005; the same
    orientation GraphX's TriangleCount uses).

    Input: undirected edges, one row per edge, either endpoint order,
    no self-loops required to be pre-removed.  Every edge is oriented
    from its (degree, id)-SMALLER endpoint to the larger, so wedges are
    only enumerated at each triangle's lowest-degree vertex: the join
    fan-out is sum(d_out^2) with d_out <= O(sqrt(m)) on any graph
    (arboricity bound) — the difference between a feasible 100-TB join
    and the sum(d^2) hub blowup of naive wedge counting.  Each triangle
    is counted EXACTLY once (orientation is acyclic and total).

    Plan: degree agg (one shuffle) -> broadcast-free orientation via two
    joins on the endpoint -> wedge self-join on the middle vertex ->
    semi-join against oriented edges to close wedges.  Returns a single
    row (n_vertices, n_edges, n_wedges, n_triangles) where n_wedges
    counts unordered open+closed two-paths from plain degrees.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)  # degrees + orientation + closure reuse it
    )
    deg = (
        e.select(F.col("a").alias("x"))
        .unionAll(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("x").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("x").alias("b"), F.col("d").alias("db"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
            )
            .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
        .localCheckpoint(eager=False)  # wedge join probes it twice + closure
    )
    w1 = oriented.select(F.col("s").alias("p"), F.col("t").alias("q1"))
    w2 = oriented.select(F.col("s").alias("p"), F.col("t").alias("q2"))
    wedges = w1.join(w2, "p").filter(F.col("q1") < F.col("q2"))
    closed = wedges.join(
        oriented.select(
            F.least("s", "t").alias("q1"), F.greatest("s", "t").alias("q2")
        ),
        ["q1", "q2"],
        "left_semi",
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    stats = e.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").alias("n_vertices"),
            # coalesce: SUM over an edgeless graph is NULL, the count is 0
            F.coalesce(
                F.sum(F.expr("d * (d - 1) DIV 2")), F.lit(0).cast("long")
            ).alias("n_wedges"),
        )
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_vertices", "n_edges", "n_wedges", "n_triangles"
    )


def ancestor_roots(
    parents: DataFrame,
    node_col: str = "v",
    parent_col: str = "p",
    rounds: int = 5,
) -> DataFrame:
    """Resolve every node's ROOT and DEPTH in a forest by pointer
    doubling (path doubling): each round, every unfinished node jumps
    to its current ancestor's ancestor, doubling the resolved distance
    — depth D resolves in ceil(log2 D) rounds, vs D rounds for naive
    parent-chasing.  This is the hierarchy/BOM/org-chart traversal that
    recursive CTEs do sequentially; here every round is ONE self-join
    of the (node, ancestor) state, so a depth-1e6 chain costs ~20
    shuffles instead of 1e6.

    ``parents`` is (node_col, parent_col) with parent NULL for roots;
    every parent value must itself appear as a node.  ``rounds`` must
    satisfy 2^rounds >= max depth (raise for deeper forests — the dial
    is logarithmic, so 40 covers depth 1e12).  A forest DEEPER than
    2^rounds raises RuntimeError instead of silently returning a
    non-root ancestor with a truncated depth (round-5 review; same
    contract as connected_components' non-convergence guard).

    Returns (node_col, root, depth) — exact integers, partitioning-
    independent.
    """
    state = parents.select(
        F.col(node_col).alias("v"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("r"),
        F.when(F.col(parent_col).isNull(), 0).otherwise(1).cast("long").alias("d"),
        F.col(parent_col).isNull().alias("done"),
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        b = state.select(
            F.col("v").alias("__bv"),
            F.col("r").alias("__br"),
            F.col("d").alias("__bd"),
            F.col("done").alias("__bdone"),
        )
        state = (
            state.join(b, state["r"] == b["__bv"], "left")
            .select(
                "v",
                F.when(F.col("done"), F.col("r")).otherwise(F.col("__br")).alias("r"),
                F.when(F.col("done"), F.col("d"))
                .otherwise(F.col("d") + F.col("__bd"))
                .alias("d"),
                F.when(F.col("done"), F.lit(True))
                .otherwise(F.col("__bdone"))
                .alias("done"),
            )
            .localCheckpoint(eager=False)
        )
    unresolved = state.filter(~F.col("done")).count()
    if unresolved:
        raise RuntimeError(
            f"ancestor_roots: {unresolved} node(s) unresolved after "
            f"{rounds} doubling rounds (forest deeper than 2^{rounds}); "
            "raise `rounds`"
        )
    return state.select(
        F.col("v").alias(node_col), F.col("r").alias("root"), F.col("d").alias("depth")
    )
