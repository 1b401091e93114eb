"""Deterministic, engine-portable hashing primitives.

Why md5 and not ``F.rand`` / ``F.xxhash64``:

- ``F.rand(seed)`` is *partition-dependent* — the same row gets a
  different draw if the partitioning changes (SURVEY §7.3), which makes
  samples non-reproducible across cluster sizes.  A content hash of the
  row key is partitioning-independent: the split a row lands in is a pure
  function of its key, at 4 cores or 4000.
- md5 is implemented identically everywhere (Spark, DuckDB, Python), so
  every sampling/split operator built on it is oracle-checkable with
  plain ANSI SQL.  xxhash64/murmur3 seeds differ across engines.

``uniform_hash`` maps arbitrary key columns to a double in [0, 1):
the first 8 hex digits of md5(concat_ws(...)) as an unsigned 32-bit int,
divided by 2^32.  Uniformity is inherited from md5; 2^32 buckets is
plenty for fraction comparisons.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Separator for multi-column keys — MUST equal the oracle SQL's chr(1).
# Written as the escape "\x01" (not a raw control byte) so editors/diff
# tooling can't silently strip it and break hash parity everywhere.
_SEP = "\x01"
_TWO_32 = float(2**32)


def md5_long(*cols: Column | str, salt: str = "") -> Column:
    """First 32 bits of md5 over the concatenated key, as a long.

    Equivalent DuckDB SQL (salt prepended as the first concat_ws arg;
    the separator is chr(1) so it cannot collide with real data):
        CAST(('0x' || substr(md5(concat_ws(chr(1), cols...)), 1, 8)) AS BIGINT)

    Key columns should be string/integer typed — float/timestamp
    renderings differ across engines.

    NULL hazard (pinned in tests/test_null_semantics.py): concat_ws
    SKIPS NULL arguments, so ('x', NULL), (NULL, 'x') and the
    single-column key ('x',) all produce the SAME hash, and an
    all-NULL key hashes as the empty string.  Coalesce nullable key
    columns before hashing; every registry key is non-null by
    construction.
    """
    key = F.concat_ws(_SEP, *[F.col(c) if isinstance(c, str) else c for c in cols])
    if salt:
        key = F.concat_ws(_SEP, F.lit(salt), key)
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


def md5_long60(*cols: Column | str, salt: str = "") -> Column:
    """First 60 bits of md5 over the concatenated key, as a long — the
    WIDE variant of ``md5_long`` for fingerprints whose collision
    statistics must survive large corpora (a 32-bit SimHash produces
    chance Hamming-<=k collisions quadratically in corpus size; 60 bits
    pushes that below one expected pair at any realistic n).  60 and
    not 64 because both engines parse the hex prefix into a SIGNED
    64-bit integer: 15 hex chars is the widest prefix that can never
    overflow it.

    Equivalent DuckDB SQL:
        CAST(('0x' || substr(md5(concat_ws(chr(1), cols...)), 1, 15)) AS BIGINT)

    Same NULL-skipping concat_ws hazard as ``md5_long``.
    """
    key = F.concat_ws(_SEP, *[F.col(c) if isinstance(c, str) else c for c in cols])
    if salt:
        key = F.concat_ws(_SEP, F.lit(salt), key)
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def uniform_hash(*cols: Column | str, salt: str = "") -> Column:
    """Deterministic pseudo-uniform double in [0,1) from key columns."""
    return (md5_long(*cols, salt=salt) / F.lit(_TWO_32)).cast("double")


def hash_bucket(n_buckets: int, *cols: Column | str, salt: str = "") -> Column:
    """Deterministic bucket id in [0, n_buckets)."""
    return (md5_long(*cols, salt=salt) % F.lit(n_buckets)).cast("int")
