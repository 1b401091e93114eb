"""The all-208 correctness check every change runs: every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compared by row
count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    """Render a cell the way the driver's pandas canon does: plain str()
    on whatever dtype pandas materialized.  NO float prettifying — a
    DuckDB HUGEINT that pandas coerces to float64 must render '17171.0'
    and MISMATCH Spark's int64 '17171', exactly as it does at the
    driver.  Raw list/array cells must raise, exactly as the driver's
    sort_values does (TypeError: unhashable type)."""
    import numpy as np

    if isinstance(v, (list, tuple, np.ndarray)):
        raise TypeError(
            f"unhashable type: {type(v).__name__!r} — raw array column in output; "
            "serialize it (array_join / array_to_string) on both sides"
        )
    return str(v)


def canon_hash(pdf) -> str:
    """Order-insensitive value hash over a pandas frame, mimicking the
    driver: columns sorted by name, rows sorted by all columns (this is
    where raw lists crash at the driver too), cells via str()."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as e
    from harness import env_int
    from movie_recommendation_engine_spark.session import get_spark

    # SPARK_GRAFT_CHECK_CPUS lets a robustness sweep re-run the check at a
    # different parallelism: partition-count changes summation order and
    # AQE decisions, which is exactly what shakes out latent
    # order-sensitivity
    cpus = env_int("SPARK_GRAFT_CHECK_CPUS", 8)
    if os.environ.get("SPARK_GRAFT_CHECK_VANILLA"):
        # the driver's environment: a plain SparkSession, default confs
        # (200 shuffle partitions, default tz, no engine tuning) — the
        # strictest mirror of how queries() actually gets evaluated
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master(f"local[{cpus}]").getOrCreate()
    else:
        spark = get_spark("oracle-check", master=f"local[{cpus}]", shuffle_partitions=cpus)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = e.queries()
    oracles = e.oracle_sql()
    names = sys.argv[1:] or list(qs)
    failures = 0

    def _release(i: int) -> None:
        """Drop this query's JVM state before the next one — bench.py's
        per-query hygiene (its comment block documents the measured
        pile-up), which the check loop also needs: a full-registry sweep
        in the 1 GiB VANILLA session accumulated enough checkpoint/
        broadcast blocks across ~200 queries that part_pagerank's
        broadcast build OOMed at sf0.1 while passing standalone — the
        failure depended on the query's position in the sweep."""
        import gc

        gc.collect()
        if (i + 1) % 20 == 0:
            spark.sparkContext._jvm.java.lang.System.gc()

    for i, name in enumerate(names):
        try:
            sdf = qs[name](spark, SF_DIR)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            sdf = None
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        finally:
            _release(i)
        if name not in oracles:
            # the driver still runs its canon on rows-only queries (a raw
            # array column crashes it even without an oracle) — so do we.
            try:
                canon_hash(spdf)
            except Exception as ex:
                print(f"FAIL  {name}: rows-only but canon crashed: {ex}")
                failures += 1
                continue
            print(f"rows-only  {name}: {len(spdf)} rows, cols={scols}")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        ok_n = len(spdf) == len(dpdf)
        ok_c = sorted(scols) == sorted(dcols)
        try:
            ok_h = ok_n and ok_c and canon_hash(spdf) == canon_hash(dpdf)
            canon_err = None
        except Exception as ex:
            ok_h, canon_err = False, ex
        status = "OK   " if (ok_n and ok_c and ok_h) else "FAIL "
        if status.startswith("FAIL"):
            failures += 1
        print(
            f"{status} {name}: rows {len(spdf)}/{len(dpdf)} "
            f"cols={'ok' if ok_c else (scols, dcols)} "
            f"hash={'ok' if ok_h else ('CANON-CRASH: ' + str(canon_err) if canon_err else 'MISMATCH')}"
        )
        if not ok_h and ok_n and ok_c and canon_err is None:
            a = spdf[sorted(scols)].sort_values(sorted(scols)).reset_index(drop=True)
            b = dpdf[sorted(dcols)].sort_values(sorted(dcols)).reset_index(drop=True)
            for i in range(len(a)):
                ra = "|".join(norm_cell(v) for v in a.iloc[i])
                rb = "|".join(norm_cell(v) for v in b.iloc[i])
                if ra != rb:
                    print(f"   spark: {ra}\n   duck : {rb}")
                    break
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'} ({len(names)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
