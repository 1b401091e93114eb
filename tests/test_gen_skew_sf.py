"""tools/gen_skew_sf.py — the Zipf-skewed variant behind the round-8
skew probe.  The probe's validity rests on the generated data really
being 'the same rows, one hot key per axis': row counts identical,
~20% of each skewed column on ONE existing key, FKs orphan-free, and
untouched tables byte-identical."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.001"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.fixture(scope="module")
def skew_dir(spark):
    import sys

    sys.path.insert(0, TOOLS)
    import gen_skew_sf

    d = tempfile.mkdtemp(prefix="gen_skew_")
    gen_skew_sf.main(["--src", SRC, "--out", d, "--pct", "20"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_row_counts_preserved(spark, skew_dir):
    import gen_skew_sf

    for t in gen_skew_sf.TABLES:
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        out = spark.read.parquet(f"{skew_dir}/{t}.parquet")
        assert out.count() == src.count(), t
        assert out.schema == src.schema, t


def test_hot_key_share_and_existence(spark, skew_dir):
    """Each skewed column concentrates a large share on one key, and
    that key existed in the source domain.  The mask selects ~20% of
    DISTINCT keys, so the ROW share is 20% only in expectation — at
    sf0.001 the domains are tiny (tens of distinct users) and binomial
    noise over keys dominates (events measured 44% here), so the bound
    is wide; the probe header records the real sf0.1 shares (~20-21%)."""
    import gen_skew_sf

    for t, specs in gen_skew_sf.SKEW.items():
        out = spark.read.parquet(f"{skew_dir}/{t}.parquet")
        n = out.count()
        for col, (hot_t, hot_c) in specs:
            top = out.groupBy(col).count().orderBy(F.desc("count")).first()
            share = top["count"] / n
            assert 0.08 <= share <= 0.60, (t, col, share)
            domain = spark.read.parquet(f"{SRC}/{hot_t}.parquet").select(
                F.col(hot_c).alias("k")
            )
            assert domain.filter(F.col("k") == top[0]).count() > 0, (t, col)


def test_foreign_keys_stay_orphan_free(spark, skew_dir):
    li = spark.read.parquet(f"{skew_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{skew_dir}/orders.parquet")
    part = spark.read.parquet(f"{skew_dir}/part.parquet")
    customer = spark.read.parquet(f"{skew_dir}/customer.parquet")
    assert (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").count() == 0
    )
    assert li.join(part, li.l_partkey == part.p_partkey, "left_anti").count() == 0
    assert (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).count()
        == 0
    )


def test_untouched_tables_byte_identical(skew_dir):
    import filecmp

    for t in ("region", "nation", "customer", "documents"):
        assert filecmp.cmp(
            f"{SRC}/{t}.parquet", os.path.join(skew_dir, f"{t}.parquet"),
            shallow=False,
        ), t


def test_pct_out_of_bounds_rejected():
    import sys

    sys.path.insert(0, TOOLS)
    import gen_skew_sf

    for bad in (0, 101):
        with pytest.raises(SystemExit):
            gen_skew_sf.main(
                ["--src", "/nonexistent", "--out", "/nonexistent", "--pct", str(bad)]
            )
