"""tools/gen_scale_sf.py — the derived-SF generator behind the second
probe decade.  The probe's validity rests on the generated data really
being 'the same distributions, K times': keys stay unique, foreign keys
stay orphan-free, per-replica structure (duplicate profile, text
lengths) is preserved exactly."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.001"
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.fixture(scope="module")
def gen_dir(spark):
    import sys

    sys.path.insert(0, TOOLS)
    import gen_scale_sf

    d = tempfile.mkdtemp(prefix="gen_sf_")
    # k=3 on the smallest SF: fast, and 3 replicas exercise every code
    # path (identity replica 0 + two shifted/rotated ones)
    gen_scale_sf.main(["--src", SRC, "--out", d, "--k", "3"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_row_counts_and_key_uniqueness(spark, gen_dir):
    for table, key in [
        ("customer", "c_custkey"),
        ("orders", "o_orderkey"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        src_n = spark.read.parquet(f"{SRC}/{table}.parquet").count()
        out = spark.read.parquet(f"{gen_dir}/{table}.parquet")
        n, dk = out.agg(
            F.count("*"), F.countDistinct(key)
        ).collect()[0]
        assert n == 3 * src_n, table
        assert dk == n, f"{table}: shifted keys must stay unique"
    # fixed dims copied once
    assert spark.read.parquet(f"{gen_dir}/nation.parquet").count() == 25
    assert spark.read.parquet(f"{gen_dir}/region.parquet").count() == 5


def test_foreign_keys_stay_orphan_free(spark, gen_dir):
    li = spark.read.parquet(f"{gen_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{gen_dir}/orders.parquet")
    c = spark.read.parquet(f"{gen_dir}/customer.parquet")
    assert li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count() == 0
    assert o.join(c, o.o_custkey == c.c_custkey, "left_anti").count() == 0
    p = spark.read.parquet(f"{gen_dir}/part.parquet")
    assert li.join(p, li.l_partkey == p.p_partkey, "left_anti").count() == 0


def test_document_rotation_preserves_structure(spark, gen_dir):
    """Per-replica Caesar rotation is a bijection: lengths/token counts
    identical per replica, exact-duplicate groups scale EXACTLY k-fold
    (no cross-replica duplicate cliques), and replica texts differ."""
    src = spark.read.parquet(f"{SRC}/documents.parquet")
    out = spark.read.parquet(f"{gen_dir}/documents.parquet")
    # n_chars stays truthful under rotation
    assert out.filter(F.col("n_chars") != F.length("text")).count() == 0
    # duplicate-profile scales exactly 3x: group sizes unchanged, group
    # counts tripled
    def profile(df):
        return {
            r["sz"]: r["cnt"]
            for r in df.groupBy(F.md5("text").alias("h"))
            .agg(F.count("*").alias("sz"))
            .groupBy("sz")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }

    src_p, out_p = profile(src), profile(out)
    assert out_p == {sz: 3 * cnt for sz, cnt in src_p.items()}
    # replica 1 of doc 0 is a DIFFERENT text of the SAME length
    n_docs = src.count()
    t0, t1 = (
        out.filter(F.col("doc_id").isin(0, n_docs))
        .orderBy("doc_id")
        .select("text")
        .collect()
    )
    assert t0.text != t1.text and len(t0.text) == len(t1.text)


@pytest.mark.parametrize("bad_k", [0, -1, 27])
def test_k_out_of_bounds_is_rejected(bad_k):
    """--k outside [1, 26] must die at argument validation (ap.error ->
    SystemExit), BEFORE any Spark work: shift 26 is the identity
    rotation, so k > 26 would silently reintroduce cross-replica
    exact-duplicate cliques and corrupt the dedup scale probe."""
    import sys

    sys.path.insert(0, TOOLS)
    import gen_scale_sf

    with pytest.raises(SystemExit):
        gen_scale_sf.main(
            ["--src", "/nonexistent", "--out", "/nonexistent", "--k", str(bad_k)]
        )


def test_k_26_passes_argument_validation():
    """k=26 is the exact maximum (25 non-identity shifts + identity
    replica 0).  It must clear the bound check — the failure we then
    expect is the nonexistent --src path, NOT SystemExit from ap.error."""
    import sys

    sys.path.insert(0, TOOLS)
    import gen_scale_sf

    with pytest.raises(Exception) as exc_info:
        gen_scale_sf.main(
            ["--src", "/nonexistent-gen-sf-src", "--out",
             tempfile.mkdtemp(prefix="gen_sf_k26_"), "--k", "26"]
        )
    assert not isinstance(exc_info.value, SystemExit)
