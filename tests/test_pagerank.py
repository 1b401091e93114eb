"""operators.graph.pagerank: the weighted path replayed in integer Python,
and the rank-side join strategy following the session's broadcast
threshold."""

from __future__ import annotations

import random
from collections import defaultdict

from movie_recommendation_engine_spark.operators.graph import pagerank

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _graph(spark):
    """Seeded random directed graph on ids 0-39: 0-4 have no in-edges,
    35-39 no out-edges (dangling), weights 1-5."""
    rng = random.Random(1109)
    pairs = {(rng.randrange(0, 35), rng.randrange(5, 40)) for _ in range(150)}
    edges = sorted((u, v, rng.randint(1, 5)) for u, v in pairs if u != v)
    nodes = spark.createDataFrame([(i,) for i in range(40)], "id long")
    return nodes, edges


def _replay(n: int, edges: list, iterations: int) -> dict:
    """pru' = 150_000 + (85 * sum (pru_j * w) DIV W_j) DIV 100, in ints."""
    out_w = defaultdict(int)
    for u, _, w in edges:
        out_w[u] += w
    pru = [1_000_000] * n
    for _ in range(iterations):
        s = [0] * n
        for u, v, w in edges:
            s[v] += pru[u] * w // out_w[u]
        pru = [150_000 + 85 * x // 100 for x in s]
    return {i: p / 1_000_000 for i, p in enumerate(pru)}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_weighted_pagerank_matches_integer_replay(spark):
    nodes, edges = _graph(spark)
    assert {u for u, _, _ in edges}.isdisjoint(range(35, 40))
    assert {v for _, v, _ in edges}.isdisjoint(range(5))
    weighted = spark.createDataFrame(edges, "u long, v long, w long")
    ones = spark.createDataFrame([(u, v, 1) for u, v, _ in edges], "u long, v long, w long")

    plain = _rows(pagerank(nodes, weighted, iterations=3))
    assert plain == _rows(pagerank(nodes, ones, iterations=3, weight="w"))

    got = dict(_rows(pagerank(nodes, weighted, iterations=3, weight="w")))
    assert got == _replay(40, edges, iterations=3)
    assert got != dict(plain)  # the weights moved some rank
    assert got[0] == 0.15  # no in-edges: the reset floor


def _plans(spark, monkeypatch, weight) -> tuple[list, list]:
    """(rows, physical plan of every frame pagerank checkpoints)."""
    cls = type(spark.range(1))
    real = cls.localCheckpoint
    plans = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    nodes, edges = _graph(spark)
    edges = spark.createDataFrame(edges, "u long, v long, w long")
    with monkeypatch.context() as m:
        m.setattr(cls, "localCheckpoint", spy)
        rows = _rows(pagerank(nodes, edges, iterations=2, weight=weight))
    return rows, plans


def test_pagerank_join_strategy_follows_session_threshold(spark, monkeypatch):
    for weight in (None, "w"):
        rows, plans = _plans(spark, monkeypatch, weight)
        # the last two checkpoints are the two iterations' rank tables
        assert all("BroadcastHashJoin" in p for p in plans[-2:]), plans[-1]
        old = spark.conf.get(THRESHOLD)
        try:
            spark.conf.set(THRESHOLD, "-1")
            shuffled, plans = _plans(spark, monkeypatch, weight)
        finally:
            spark.conf.set(THRESHOLD, old)
        assert not any("BroadcastHashJoin" in p for p in plans), plans[-1]
        assert all("ShuffledHashJoin" in p for p in plans[-2:]), plans[-1]
        assert shuffled == rows
