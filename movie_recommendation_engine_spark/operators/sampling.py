"""Sampling & split-assignment operators (SURVEY §2.8 R1-R2, §7.2 M1).

The reference's current splitter is single-machine pandas
(new_split_script.py:6-14): per user, sample 25% -> validation, 25% of
the remainder -> test, rest -> train.  The deprecated Spark version used
``sampleBy`` + ``exceptAll`` (split_script.py:43-46) and was seeded but
partition-dependent.

The engine's default is **content-hash sampling**: each row's draw is
``uniform_hash(key columns)`` — a pure function of the data, so the
sample is identical on any cluster size / partition count, is
reproducible forever, and is oracle-checkable in ANSI SQL
(functions.hashing explains the md5 construction).  ``F.rand(seed)``
variants are offered for API parity but hash is the default.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import uniform_hash


def _hash_ranked(
    df: DataFrame, group_col: str, key_cols: list[str], salt: str, order_cols: list[str]
) -> DataFrame:
    """``df`` plus ``__h`` (the content hash of ``key_cols``), ``__rn``
    (the row's 1-based rank in its group by ``__h``, then ``order_cols``)
    and ``__n`` (the group's size)."""
    w = Window.partitionBy(group_col)
    return (
        df.withColumn("__h", uniform_hash(*key_cols, salt=salt))
        .withColumn("__rn", F.row_number().over(w.orderBy("__h", *order_cols)))
        .withColumn("__n", F.count(F.lit(1)).over(w))
    )


def per_group_fraction(
    df: DataFrame,
    group_col: str,
    fraction: float,
    key_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Exactly ceil(fraction * n_g) rows from every group g (R2).

    The reference's pandas ``groupby(...).sample(frac=...)`` draws an
    exact per-group count; a plain Bernoulli filter would only hit the
    fraction in expectation and can miss small groups entirely.  We rank
    rows within each group by their content hash and keep the first
    ceil(frac*n): one shuffle on ``group_col``, deterministic, and every
    group is represented (the FinalReport p.1 §1 requirement that every
    user appears in every split).
    """
    ranked = _hash_ranked(df, group_col, key_cols, salt, key_cols)
    out = ranked.filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(fraction)))
    return out.drop("__h", "__rn", "__n")


def split_assign(
    df: DataFrame,
    group_col: str,
    key_cols: list[str],
    fractions: Mapping[str, float] = None,
    split_col: str = "split",
    salt: str = "split",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Label every row train/validation/test, per-group exact fractions.

    Reproduces new_split_script.py semantics (25% -> validation, 25% of
    remainder -> test, rest -> train == 25/18.75/56.25 of each user's
    rows... the reference's sequential sampling actually yields
    25% val, 18.75% test; most descriptions say 25/25/50, so the engine
    default is the *stated* 25/25/50) in ONE window pass instead of two
    sample+anti-join rounds: rank each group's rows by content hash, cut
    the ranking at the cumulative fraction boundaries.

    Splits are pairwise disjoint, exhaustive, and every group with >= 3
    rows appears in all three splits (boundaries use ceil, so tiny
    groups fill validation, then test, then train).

    ``order_cols`` (default: ``key_cols``) is the rank tiebreak after
    the content hash.  If ``key_cols`` is NOT a unique row key, pass
    enough extra columns here to make the order total — otherwise rows
    sharing a key tuple get an arbitrary rank order, and any payload
    column that rides along (a rating, a quantity) lands in a
    nondeterministic split even though the key->split mapping looks
    stable.
    """
    fractions = dict(fractions or {"validation": 0.25, "test": 0.25, "train": 0.50})
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")

    ranked = _hash_ranked(df, group_col, key_cols, salt, order_cols or key_cols)
    # cumulative ceil boundaries: label = first bucket whose boundary >= rn
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        cum += frac
        bound = F.ceil(F.col("__n") * F.lit(cum))
        cond = F.col("__rn") <= bound
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(items[-1][0]))
    return ranked.withColumn(split_col, expr).drop("__h", "__rn", "__n")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_cols: list[str],
    salt: str = "strat",
) -> DataFrame:
    """Deterministic ``sampleBy`` (R1, reference split_script.py:43).

    Bernoulli per row — keep the row when its content hash falls below
    its stratum's fraction.  Unlike ``DataFrame.sampleBy`` this is
    partition-count-independent and SQL-reproducible.
    """
    h = uniform_hash(*key_cols, salt=salt)
    frac = None
    for value, f_ in fractions.items():
        cond = F.col(strata_col) == F.lit(value)
        frac = F.when(cond, F.lit(f_)) if frac is None else frac.when(cond, F.lit(f_))
    frac = frac.otherwise(F.lit(0.0))
    return df.filter(h < frac)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_cols: list[str],
    salt: str = "ws",
) -> DataFrame:
    """k rows sampled WITHOUT replacement with probability proportional
    to ``weight_col`` (Efraimidis & Spirakis, "Weighted random sampling
    with a reservoir", IPL 2006: rank by u^(1/w), keep the top k —
    spelled as ln(u)/w, which orders identically and avoids overflow).

    The uniform draw is the content hash, so the sample is deterministic
    and partition-independent like every other engine sampler; and the
    top-k runs as TakeOrderedAndProject (per-partition k-heaps, no full
    sort).  The u=0 hash edge maps to -inf and simply sorts last.
    Adds ``sample_key`` (the ES key, rounded) to the output.
    """
    key = F.round(F.log(uniform_hash(*key_cols, salt=salt)) / F.col(weight_col), 6)
    return (
        df.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), *key_cols)
        .limit(k)
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    key_cols: list[str],
    per_class: int | None = None,
    salt: str = "bal",
) -> DataFrame:
    """Deterministic class balancing: downsample every label class to
    the same size — ``per_class`` rows if given, else the minority-class
    count — the standard rebalancing pass before training on skewed
    label distributions.

    Rows are ranked within their class by content hash (uniform,
    partitioning-independent) and the first k survive, so the selection
    is reproducible across cluster sizes and re-runs, and exact per
    class (a Bernoulli per-class fraction would only balance in
    expectation).  One shuffle on the label column; the minority count
    rides in as a broadcast one-row aggregate, never a driver collect.
    """
    h = uniform_hash(*key_cols, salt=salt)
    w = Window.partitionBy(label_col)
    ranked = df.withColumn(
        "__rn", F.row_number().over(w.orderBy(h, *key_cols))
    )
    if per_class is not None:
        out = ranked.filter(F.col("__rn") <= per_class)
    else:
        from .relational import with_scalars

        minority = (
            df.groupBy(label_col)
            .agg(F.count("*").alias("__n"))
            .agg(F.min("__n").alias("__k"))
        )
        out = with_scalars(ranked, minority).filter(F.col("__rn") <= F.col("__k"))
    return out.drop("__rn", "__k")


def mixture_sample(
    df: DataFrame,
    class_col: str,
    key_cols: list[str],
    weights: dict[str, int],
    salt: str = "mix",
) -> DataFrame:
    """Sample to a TARGET CLASS MIXTURE — the corpus-mixing pass of LLM
    data pipelines ("40% web, 30% code, ..." re-weighted from whatever
    the crawl delivered), generalizing ``balance_classes`` (the all-
    weights-equal special case).

    Proportions are integer WEIGHTS, not floats, so the allocation is
    exact in any engine: with m = min_c floor(n_c / w_c), each class
    keeps k_c = w_c * m rows — the largest sample achieving the exact
    w ratio without oversampling any class.  Within a class the k_c
    lowest-content-hash rows survive (uniform, partitioning-independent,
    reproducible across cluster sizes).  Classes not in ``weights`` are
    dropped.  One shuffle on the class column; class counts and m ride
    in via a broadcast one-row aggregate, never a driver collect.
    """
    from .relational import with_scalars

    keep = df.filter(
        F.col(class_col).isin(*weights.keys())
    )
    wmap = F.create_map(
        *[x for k, w in sorted(weights.items()) for x in (F.lit(k), F.lit(int(w)))]
    )
    h = uniform_hash(*key_cols, salt=salt)
    ranked = keep.withColumn("__w", wmap[F.col(class_col)]).withColumn(
        "__rn", F.row_number().over(Window.partitionBy(class_col).orderBy(h, *key_cols))
    )
    # m ranges over EVERY class in `weights`, not just classes present in
    # the data: a weighted class with zero rows drives m (hence the whole
    # output) to 0 — the documented exact-ratio contract — instead of
    # being silently ignored while other classes keep w_c*m rows.
    all_classes = keep.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in sorted(weights)])).alias(class_col)
    )
    m = (
        all_classes.join(
            keep.groupBy(class_col).agg(F.count("*").alias("__n")), class_col, "left"
        )
        .withColumn("__n", F.coalesce("__n", F.lit(0)))
        .withColumn("__w", wmap[F.col(class_col)])
        .agg(F.min(F.expr("__n DIV __w")).alias("__m"))
    )
    return (
        with_scalars(ranked, m)
        .filter(F.col("__rn") <= F.col("__w") * F.col("__m"))
        .drop("__rn", "__w", "__m")
    )
