"""The driver runs queries on ITS OWN SparkSession whose timezone we do
not control — every gated output must therefore be independent of
spark.sql.session.timeZone.  The design rule making that true: events
timestamps stay TIMESTAMP_NTZ end-to-end (parquet µs -> NTZ -> tz-free
date_format/window/comparisons), and the few epoch extractions
(unix_micros after an NTZ->TZ cast) feed only orderings and differences,
where the session-offset shift cancels."""

from __future__ import annotations

import duckdb
import pytest

from movie_recommendation_engine_spark.registry import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

TS_QUERIES = [
    "events_tumbling_10m",
    "events_sessionized",
    "events_ohlc_15m",
    "events_seq_pattern",
    "events_trailing_30m_avg",
]


@pytest.mark.parametrize("name", TS_QUERIES)
def test_gated_output_is_session_tz_independent(spark, name):
    from tools.check_oracle import canon_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spdf = QUERIES[name](spark, SF).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    dpdf = con.execute(ORACLES[name]).df()
    assert len(spdf) == len(dpdf)
    assert canon_hash(spdf) == canon_hash(dpdf)
