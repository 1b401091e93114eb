"""session.get_spark on a live session: a library call (a CLI verb, a
generator driven as a library) returns the caller's session as it is,
without re-applying its own confs or log level."""

from __future__ import annotations


def _log_level(spark) -> str:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.logging.log4j.LogManager.getRootLogger().getLevel().toString()


def test_get_spark_leaves_a_live_session_alone(spark):
    from movie_recommendation_engine_spark.__main__ import _spark
    from movie_recommendation_engine_spark.session import get_spark

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    level = _log_level(spark)
    got = get_spark(
        "x",
        shuffle_partitions=16,
        extra_conf={"spark.sql.shuffle.partitions": "7", "spark.graft.probe": "1"},
    )
    assert _spark("evaluate") is got is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions == "4"
    assert spark.conf.get("spark.graft.probe", None) is None
    assert _log_level(spark) == level
