"""session.get_spark on a live session: a library call (a CLI verb, a
generator driven as a library) returns the caller's session as it is,
without re-applying its own confs or log level.  $SPARK_GRAFT_CPUS is
read only when a call starts the context."""

from __future__ import annotations

import pytest


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


def test_bad_cpus_env_fails_only_when_a_session_starts():
    """A malformed $SPARK_GRAFT_CPUS no longer breaks importing the
    package: it is read when get_spark starts a context, and rejected
    there naming the variable, before any JVM starts."""
    import os
    import subprocess
    import sys

    script = (
        "import movie_recommendation_engine_spark.registry\n"
        "from movie_recommendation_engine_spark.session import get_spark\n"
        "try:\n"
        "    get_spark()\n"
        "except ValueError as ex:\n"
        "    print(ex)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        env={**os.environ, "SPARK_GRAFT_CPUS": "abc"},
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr
    assert "SPARK_GRAFT_CPUS must be a positive integer, got 'abc'" in out.stdout


@pytest.mark.parametrize("raw", ["abc", "0", "-2"])
def test_env_positive_int_rejects_bad_values(monkeypatch, raw):
    from movie_recommendation_engine_spark.session import env_positive_int

    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        env_positive_int("SPARK_GRAFT_CPUS")


def test_env_positive_int_reads_valid_and_unset(monkeypatch):
    from movie_recommendation_engine_spark.session import env_positive_int

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert env_positive_int("SPARK_GRAFT_CPUS", 32) == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert env_positive_int("SPARK_GRAFT_CPUS", 32) == 32
    assert env_positive_int("SPARK_GRAFT_CPUS") is None


def test_only_session_reads_the_environment():
    """The package reads environment variables in session.py alone, and
    every integer one through env_positive_int: outside that parser a
    read is a string knob, ``os.environ.get(NAME, "default")``, never
    fed to int() or float().  A knob parsed anywhere else would skip the
    validation that names a malformed value."""
    import ast
    from pathlib import Path

    import movie_recommendation_engine_spark as pkg

    def env_nodes(tree):
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name)
                and n.value.id == "os"
                and n.attr in ("environ", "getenv")
            ) or (
                isinstance(n, ast.ImportFrom)
                and n.module == "os"
                and any(a.name in ("environ", "getenv") for a in n.names)
            ):
                yield n

    root = Path(pkg.__file__).parent
    trees = {p.relative_to(root).as_posix(): ast.parse(p.read_text()) for p in root.rglob("*.py")}
    session = trees.pop("session.py")
    assert [f"{name}:{n.lineno}" for name, t in trees.items() for n in env_nodes(t)] == []

    parser = next(
        n for n in session.body if isinstance(n, ast.FunctionDef) and n.name == "env_positive_int"
    )
    allowed = {id(n) for n in ast.walk(parser)}
    for call in ast.walk(session):
        if not isinstance(call, ast.Call) or id(call) in allowed:
            continue
        f, args = call.func, call.args
        if isinstance(f, ast.Name) and f.id in ("int", "float"):
            assert list(env_nodes(call)) == [], call.lineno
        elif (
            isinstance(f, ast.Attribute)
            and f.attr == "get"
            and len(args) == 2
            and isinstance(args[1], (ast.Constant, ast.JoinedStr))
            and isinstance(getattr(args[1], "value", ""), str)
        ):
            allowed.add(id(f.value))
    assert [n.lineno for n in env_nodes(session) if id(n) not in allowed] == []
