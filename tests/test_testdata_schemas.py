"""Testdata relations resolve with their declared schemas.

``read_testdata`` checks the parquet footer against ``TESTDATA_SCHEMAS``
and hands the declared schema to the scan, so resolving a table must
(a) give exactly the schema Spark would infer, (b) submit no Spark job,
and (c) refuse a footer that drifted from the declaration.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from movie_recommendation_engine_spark.sources.readers import read_testdata
from movie_recommendation_engine_spark.sources.schemas import (
    TESTDATA_SCHEMAS,
    TESTDATA_TABLES,
)

SF = "/root/testdata/sf0.001"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture(scope="module")
def spark_dir_copy(spark, tmp_path_factory):
    """The ten tables rewritten by Spark: ``<table>.parquet`` is a
    directory of part files (the layout of tools/gen_scale_sf.py)."""
    dst = str(tmp_path_factory.mktemp("sparkdir"))
    for t in TESTDATA_TABLES:
        spark.read.parquet(f"{SF}/{t}.parquet").write.parquet(f"{dst}/{t}.parquet")
    return dst


def _jobs_during(spark, fn):
    """(result of fn(), ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"read-testdata-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_inventory_is_the_declared_schemas():
    assert TESTDATA_TABLES == tuple(TESTDATA_SCHEMAS)
    assert len(TESTDATA_TABLES) == 10


@pytest.mark.parametrize("layout", ["file", "spark_dir"])
def test_resolution_is_exact_and_launches_no_job(spark, spark_dir_copy, layout):
    sf_dir = SF if layout == "file" else spark_dir_copy
    for t in TESTDATA_TABLES:
        df, jobs = _jobs_during(spark, lambda t=t: read_testdata(spark, sf_dir, t))
        assert jobs == [], (t, jobs)
        assert df.schema == spark.read.parquet(f"{sf_dir}/{t}.parquet").schema, t
        assert df.schema == TESTDATA_SCHEMAS[t], t


def _tiny_events(ts_type: pa.DataType) -> pa.Table:
    # nanosecond values whose microsecond truncation a double division
    # would get wrong (ulp ~256 ns at 2024 epochs)
    ns = [1_704_067_200_123_456_789, 1_704_067_201_999_999_999, 1_717_171_717_000_000_999]
    if ts_type.unit == "us":
        ts = pa.array([v // 1000 for v in ns], pa.int64()).cast(ts_type)
    else:
        ts = pa.array(ns, pa.int64()).cast(ts_type)
    return pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": ts,
            "user_id": pa.array([7, 7, 9], pa.int64()),
            "event_type": ["view", "click", "purchase"],
            "value": [1.5, 2.25, 3.0],
            "props": ['{"k": 1}', '{"k": 2}', '{"k": 3}'],
        }
    )


def test_events_nanos_and_micros_layouts_read_identically(spark, tmp_path):
    spark.conf.unset(NANOS_AS_LONG)
    rows = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(_tiny_events(pa.timestamp(unit)), str(d / "events.parquet"))
        df = read_testdata(spark, str(d), "events")
        assert df.schema == TESTDATA_SCHEMAS["events"], unit
        rows[unit] = sorted(df.collect())
        # neither layout leaves a session-wide conf behind
        assert spark.conf.get(NANOS_AS_LONG) == "false", unit
    assert rows["ns"] == rows["us"]
    assert [r.ts.microsecond for r in rows["us"]] == [123456, 999999, 0]


def _region_drifted(kind: str) -> pa.Table:
    t = pq.read_table(f"{SF}/region.parquet")
    if kind == "renamed":
        return t.rename_columns(["r_regionkey", "r_title"])
    if kind == "dropped":
        return t.drop_columns(["r_name"])
    return t.set_column(0, "r_regionkey", t["r_regionkey"].cast(pa.int64()))


@pytest.mark.parametrize("kind", ["renamed", "dropped", "retyped"])
def test_footer_drift_raises_naming_the_table(spark, tmp_path, kind):
    pq.write_table(_region_drifted(kind), str(tmp_path / "region.parquet"))
    with pytest.raises(ValueError, match="'region'.*footer has .*declared"):
        read_testdata(spark, str(tmp_path), "region")


def test_registry_resolves_through_its_module_read_testdata(spark, monkeypatch):
    """The benchmark's read counter patches ``registry.read_testdata``;
    ``_t`` must look the name up there at call time."""
    from movie_recommendation_engine_spark import registry

    calls = []
    inner = registry.read_testdata

    def counted(*a, **kw):
        calls.append(a[2])
        return inner(*a, **kw)

    monkeypatch.setattr(registry, "read_testdata", counted)
    registry.QUERIES["tpch_q6_forecast_revenue"](spark, SF)
    assert calls == ["lineitem"]
