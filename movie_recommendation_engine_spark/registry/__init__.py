"""Query registry: every implemented operator from SURVEY §2 as a
(spark_query, duckdb_oracle_sql) pair over the driver testdata star
schema (TESTDATA.md).

Conventions that make the driver's order-insensitive value-hash robust:
- every computed double is rounded to 6 decimals on BOTH sides (float
  sums accumulate in different orders across engines; 6 decimals absorbs
  the ulp noise while keeping full semantic precision); money sums go
  through DECIMAL(38,2) first so the sum itself is exact;
- INTEGER RATIOS (jaccard, token fractions, rates) round via
  ``functions.rounding.det_round`` / ``duck_det_round6`` — floor-based,
  bit-identical cross-engine — because engine round() diverges on the
  half-ties that binary-exact ratios (odd/2^k) hit systematically;
  iterative algorithms (pagerank, rank-1 ALS) avoid float rounding
  entirely via integer micro-units or DECIMAL accumulation;
- every aggregate/computed column is aliased identically on both sides;
- arrays in outputs are sorted (sort_array / list_sort) so content is
  order-canonical;
- timestamps in outputs are rendered 'yyyy-MM-dd HH:mm:ss' strings on
  both sides;
- sampling/split queries share the md5 content-hash construction
  (functions.hashing) which is bit-identical in DuckDB SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import read_testdata

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame query; optionally its
    DuckDB oracle SQL (omitted => driver runs the weaker rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_testdata(spark, sf_dir, name)


import threading  # noqa: E402

_STAGING_DIRS: list[str] = []
# (name, sf_dir) -> live dirs, newest last.  Bounded at _STAGING_KEEP
# per key: a long-lived session (the six-sweep soak runs ~8 sink
# queries per registry sweep) would otherwise accumulate one
# data-bearing temp dir per invocation until atexit.
# Keeping the newest TWO — not just the current one — stays safe under
# the concurrency probe, where a second thread may still be lazily
# reading the PREVIOUS invocation's staged parquet when this one runs.
_STAGING_BY_KEY: dict[tuple[str, str], list[str]] = {}
_STAGING_KEEP = 2
# dirs pruned out of the keep window but NOT yet deleted: removal is
# deferred to the same key's NEXT invocation, so a slow concurrent
# consumer gets keep-window laps PLUS one full extra lap before its
# staged parquet can disappear.
_STAGING_RETIRED: dict[tuple[str, str], list[str]] = {}
# registry mutations happen under one lock: the concurrency probe can
# interleave staging_dir calls, and unlocked append/pop pairs could
# transiently over-prune below _STAGING_KEEP.
_STAGING_LOCK = threading.Lock()


def staging_dir(name: str, sf_dir: str) -> str:
    """Unique per-invocation scratch dir for the sink round-trip queries.

    uuid-suffixed, so two processes or two threads running the same
    query never share a path.  Every dir is registered for atexit
    removal; dirs beyond the newest _STAGING_KEEP per (name, sf_dir) are
    RETIRED at the next invocation and deleted one invocation later
    still (their results are long materialized by then), so a
    long-lived session's temp footprint stays bounded while a consumer
    lagging a full extra lap behind the prune cycle still finds its
    staged parquet on disk.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(
        tempfile.gettempdir(),
        f"mres_{name}_{tag}_{os.getpid()}_{uuid.uuid4().hex[:12]}",
    )
    key = (name, sf_dir)
    with _STAGING_LOCK:
        # delete what the PREVIOUS invocation retired (deferred one full
        # lap), then retire — don't delete — anything now past the keep
        # window; atexit still covers retired dirs via _STAGING_DIRS
        doomed = _STAGING_RETIRED.pop(key, [])
        live = _STAGING_BY_KEY.setdefault(key, [])
        live.append(d)
        retired = _STAGING_RETIRED.setdefault(key, [])
        while len(live) > _STAGING_KEEP:
            retired.append(live.pop(0))
        _STAGING_DIRS.append(d)
    for old in doomed:
        shutil.rmtree(old, ignore_errors=True)
        with _STAGING_LOCK:
            if old in _STAGING_DIRS:
                _STAGING_DIRS.remove(old)
    return d


def _cleanup_staging_dirs() -> None:
    import shutil

    with _STAGING_LOCK:
        doomed = list(_STAGING_DIRS)
        _STAGING_DIRS.clear()
        _STAGING_BY_KEY.clear()
        _STAGING_RETIRED.clear()
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_staging_dirs)


def duck_det_round6(expr: str) -> str:
    """DuckDB mirror of functions.rounding.det_round(col, 6): floor-based
    rounding in pure double ops, tie-stable cross-engine (engine round()
    diverges on binary-exact integer ratios like odd/128)."""
    return f"(floor(({expr}) * 1000000 + 0.5) / 1000000)"


def duck_hash_sql(salt: str, *cols: str) -> str:
    """DuckDB expression bit-identical to functions.hashing.uniform_hash."""
    parts = ", ".join(cols)
    prefix = f"'{salt}', " if salt else ""
    return (
        "(CAST(('0x' || substr(md5(concat_ws(chr(1), "
        f"{prefix}{parts})), 1, 8)) AS BIGINT) / 4294967296.0)"
    )


# Import query groups for their registration side effects; QUERIES keeps
# this order, each module's queries together.
from . import core  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import ml  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import streaming  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import breadth  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import e2e  # noqa: E402,F401
from . import featurize  # noqa: E402,F401
from . import analytics  # noqa: E402,F401

from .core import flagship  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "register", "flagship", "duck_hash_sql"]
