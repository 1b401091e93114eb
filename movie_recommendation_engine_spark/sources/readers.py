"""Schema'd sources (SURVEY §2.1 S1-S6).

Reference behavior reproduced, Spark-first:
- S1/S2 header & headerless CSV scans (reference als.py:24,
  popularity_model.py:43) -> ``read_csv`` with an explicit StructType so
  types land at the scan instead of post-hoc casts.
- S3 positional naming (``toDF(...)``) is subsumed by schema-at-read.
- S6 Parquet-first storage (the reference only ever *intended* this —
  split_script.py:16-17 comment).
- Driver testdata (``read_testdata``) is schema-at-read as well: the
  declared ``TESTDATA_SCHEMAS`` are checked against each parquet footer,
  then handed to the scan, so no relation resolution infers a schema.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from .schemas import RATINGS_SCHEMA, TESTDATA_SCHEMAS, TESTDATA_TABLES


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with a declared schema (no inferSchema pass)."""
    return spark.read.options(header=str(header).lower(), **options).schema(schema).csv(path)


def read_ratings_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """The reference's core source: ratings CSV (als.py:24-26)."""
    return read_csv(spark, path, RATINGS_SCHEMA, header=header)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — vectorized, with predicate pushdown into stripe/row-
    group indexes (same scan-pruning contract as parquet)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str, wholetext: bool = False) -> DataFrame:
    """Raw-text scan: one row per line (column ``value``), the source
    for log-parsing pipelines — parse structure out with
    regexp_extract/split downstream, keep the scan itself schema-free.
    ``wholetext=True`` reads each file as ONE row instead (small-doc
    corpora where file boundary == document boundary)."""
    return spark.read.option("wholetext", str(wholetext).lower()).text(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines scan.  Malformed-row policy via ``mode``:
    PERMISSIVE (default) nulls bad rows — add a ``_corrupt_record``
    string field to the schema to quarantine the raw text;
    DROPMALFORMED silently drops; FAILFAST aborts the job.  At scale,
    quarantine-and-count beats failing a 100 TB job on row 3."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def _footer_schema(path: str):
    """Arrow schema from the parquet footer at ``path``: the file itself,
    or the first ``*.parquet`` part file of a Spark-written directory."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no *.parquet part file under {path}")
        path = parts[0]
    return pq.read_schema(path)


def _ddl(schema: T.StructType) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}{'' if f.nullable else ' not null'}"
        for f in schema
    )


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with its declared
    schema (``TESTDATA_SCHEMAS``), so resolving it launches no Spark job.

    The parquet footer is read locally with pyarrow first: it
    must convert to exactly the declared schema (names, order, types,
    nullability), else ``ValueError`` names the table and both schemas.

    ``events.ts`` has been written two ways across driver testdata
    generations: TIMESTAMP(MICROS), which reads natively, and
    TIMESTAMP(NANOS), which Spark cannot read as a timestamp.  The
    footer's unit decides: nanos are read as the raw long (a declared
    long needs no session conf) and converted to the declared
    TIMESTAMP_NTZ by ``ts DIV 1000`` microseconds.  The ns->µs step MUST
    be integer division: dividing the int64 nanosecond value as a double
    loses precision past the 53-bit mantissa (ulp ≈ 256 ns at 2024
    epochs), landing ~12% of rows on the wrong microsecond vs DuckDB's
    exact integer truncation.
    """
    if table not in TESTDATA_SCHEMAS:
        raise ValueError(f"unknown testdata table {table!r}; know {TESTDATA_TABLES}")
    path = f"{sf_dir}/{table}.parquet"
    schema = TESTDATA_SCHEMAS[table]
    footer = _footer_schema(path)
    found = from_arrow_schema(footer, prefer_timestamp_ntz=True)
    if found != schema:
        raise ValueError(
            f"testdata table {table!r} ({path}) does not match its declared schema: "
            f"footer has [{_ddl(found)}], declared [{_ddl(schema)}]"
        )
    if table == "events" and footer.field("ts").type.unit == "ns":
        raw = T.StructType([T.StructField(f.name, T.LongType()) if f.name == "ts" else f
                            for f in schema])
        return spark.read.schema(raw).parquet(path).withColumn(
            "ts", F.expr("TIMESTAMP_NTZ'1970-01-01' + (ts DIV 1000) * INTERVAL '0.000001' SECOND")
        )
    return spark.read.schema(schema).parquet(path)


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a dict and register temp views."""
    out: dict[str, DataFrame] = {}
    for t in TESTDATA_TABLES:
        df = read_testdata(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
