"""Explicit StructType schemas for every table the engine touches.

The reference reads CSV **without** a schema and casts columns afterwards
(reference als.py:24-26, popularity_model.py:43-45) — an extra pass of
string shuffling that Catalyst cannot prune.  The engine declares schemas
at read time (SURVEY §1.4): types reach the scan, casts disappear from the
plan, and Parquet readers get exact column pruning.  The driver testdata
tables are declared here too (``TESTDATA_SCHEMAS``), so resolving one
needs no schema inference from its parquet footer.
"""

from __future__ import annotations

from pyspark.sql import types as T

# MovieLens interaction table (reference ml-latest-small_readme:74-85).
# `timestamp` is epoch seconds; the reference never parses it — we type it
# long and expose ts_to_timestamp() for callers who want a real timestamp.
RATINGS_SCHEMA = T.StructType(
    [
        T.StructField("userId", T.IntegerType(), False),
        T.StructField("movieId", T.IntegerType(), False),
        T.StructField("rating", T.FloatType(), False),
        T.StructField("timestamp", T.LongType(), True),
    ]
)

# movies.csv (reference ml-latest-small_readme:102-131); genres stays a
# pipe-string at read, split to array<string> by functions.arrays.split_genres.
MOVIES_SCHEMA = T.StructType(
    [
        T.StructField("movieId", T.IntegerType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("genres", T.StringType(), True),
    ]
)

TAGS_SCHEMA = T.StructType(
    [
        T.StructField("userId", T.IntegerType(), False),
        T.StructField("movieId", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), True),
    ]
)

LINKS_SCHEMA = T.StructType(
    [
        T.StructField("movieId", T.IntegerType(), False),
        T.StructField("imdbId", T.StringType(), True),
        T.StructField("tmdbId", T.IntegerType(), True),
    ]
)

# Legacy 5-column split layout written by the deprecated splitter
# (reference popularity_model.py:44: userId, movieId, rating, unknown, split).
SPLIT_5COL_SCHEMA = T.StructType(
    [
        T.StructField("userId", T.IntegerType(), False),
        T.StructField("movieId", T.IntegerType(), False),
        T.StructField("rating", T.FloatType(), False),
        T.StructField("unknown", T.StringType(), True),
        T.StructField("split", T.StringType(), True),
    ]
)

# Driver-provided star schema (TESTDATA.md).  The types are exactly what
# Spark infers from the parquet footers (timestamps are TIMESTAMP_NTZ:
# the files carry no zone).  ``read_testdata`` checks each footer against
# these and reads with them, so resolving a table launches no Spark
# schema-inference job; the DuckDB oracles assume the same types.
_I32, _I64, _F64, _STR, _NTZ = (
    T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType(), T.TimestampNTZType()
)


def _struct(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in cols])


TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": _struct(("r_regionkey", _I32), ("r_name", _STR)),
    "nation": _struct(("n_nationkey", _I32), ("n_name", _STR), ("n_regionkey", _I32)),
    "customer": _struct(
        ("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", _I32), ("c_acctbal", _F64),
        ("c_mktsegment", _STR),
    ),
    "supplier": _struct(
        ("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32), ("s_acctbal", _F64)
    ),
    "part": _struct(
        ("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR),
        ("p_size", _I32), ("p_retailprice", _F64),
    ),
    "orders": _struct(
        ("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
        ("o_totalprice", _F64), ("o_orderdate", _NTZ), ("o_orderpriority", _STR),
    ),
    "lineitem": _struct(
        ("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64), ("l_linenumber", _I32),
        ("l_quantity", _F64), ("l_extendedprice", _F64), ("l_discount", _F64), ("l_tax", _F64),
        ("l_returnflag", _STR), ("l_linestatus", _STR), ("l_shipdate", _NTZ),
    ),
    "events": _struct(
        ("event_id", _I64), ("ts", _NTZ), ("user_id", _I64), ("event_type", _STR),
        ("value", _F64), ("props", _STR),
    ),
    "documents": _struct(
        ("doc_id", _I64), ("text", _STR), ("lang", _STR), ("source", _STR), ("n_chars", _I64)
    ),
    "embeddings": _struct(
        ("vec_id", _I64), ("embedding", T.ArrayType(T.FloatType())), ("label", _I32)
    ),
}
# the canonical table inventory, in dependency order
TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
