"""Tier-1 tests for tools/harness.py, the timing core of bench.py and
the probes.  No Spark: every check runs on fakes or before a JVM would
start."""

from __future__ import annotations

import os

import pytest

import harness

DOC = (
    "# BENCH_SCALE — title\n\nleading table\n\n"
    "## Skew probe (round 8)\n\nold skew\n\n"
    "## Memory soak (round 8)\n\nsoak body\n### sub\n\nsub body\n"
)


def _splice(tmp_path, doc, heading, lines):
    path = tmp_path / "BENCH_SCALE.md"
    if doc is not None:
        path.write_text(doc)
    harness.splice_section(str(path), heading, lines)
    return path.read_text()


def test_splice_replaces_only_its_section_in_place(tmp_path):
    out = _splice(tmp_path, DOC, "## Skew probe", ["## Skew probe (round 9)", "", "new"])
    assert out == DOC.replace("## Skew probe (round 8)\n\nold skew", "## Skew probe (round 9)\n\nnew")


def test_splice_last_section_keeps_everything_before(tmp_path):
    # a ### subsection belongs to its ## section and goes with it
    out = _splice(tmp_path, DOC, "## Memory soak", ["", "## Memory soak (r9)", "", "m", ""])
    assert out == DOC[: DOC.index("## Memory soak")] + "## Memory soak (r9)\n\nm\n"


def test_splice_appends_absent_section(tmp_path):
    out = _splice(tmp_path, DOC, "## Session soak", ["## Session soak (round 10)", "", "s"])
    assert out == DOC + "\n## Session soak (round 10)\n\ns\n"


def test_splice_creates_missing_file(tmp_path):
    assert _splice(tmp_path, None, "## X", ["## X", "", "x"]) == "## X\n\nx\n"


def test_splice_leading_table(tmp_path):
    # scale_probe owns the title section: everything up to the first ##
    out = _splice(
        tmp_path, DOC, "# BENCH_SCALE — title", ["# BENCH_SCALE — title", "", "t2", ""]
    )
    assert out == "# BENCH_SCALE — title\n\nt2\n\n" + DOC[DOC.index("## Skew probe"):]


def test_best_of_returns_min_of_n(monkeypatch):
    clock = iter([0.0, 5.0, 10.0, 12.0, 20.0, 27.0])  # runs of 5, 2, 7 s
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))
    calls = []
    assert harness.best_of(lambda: calls.append(1), 3) == 2.0
    assert len(calls) == 3


def test_host_window_stamp_contract(monkeypatch):
    samples = iter([
        {"total": 1000, "idle": 500, "iowait": 10, "steal": 5},
        {"total": 2000, "idle": 900, "iowait": 30, "steal": 25},
    ])
    monkeypatch.setattr(harness, "_cpu_stat", lambda: next(samples))
    with harness.host_window() as load:
        assert load == {}  # filled when the block exits
    assert load["steal_pct"] == 2.0
    assert load["iowait_pct"] == 2.0
    assert load["cpu_busy_pct"] == 60.0
    assert "available" not in load and "wall_sec" in load


def test_host_window_unreadable_is_unavailable(monkeypatch):
    monkeypatch.setattr(harness, "_cpu_stat", lambda: None)
    with harness.host_window() as load:
        pass
    assert load["available"] is False
    assert not {"steal_pct", "iowait_pct", "cpu_busy_pct"} & set(load)


@pytest.fixture
def no_spark(monkeypatch, tmp_path):
    """A valid SF dir, and a get_spark that fails the test if reached."""
    import movie_recommendation_engine_spark.session as session_mod

    def boom(*a, **k):
        raise AssertionError("a JVM was started before the env was validated")

    monkeypatch.setattr(session_mod, "get_spark", boom)
    (tmp_path / "lineitem.parquet").mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    return tmp_path


@pytest.mark.parametrize("cpus", ["0", "-2", "four", "2.5", ""])
def test_session_rejects_bad_cpus(no_spark, monkeypatch, cpus):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    with pytest.raises(SystemExit, match="SPARK_GRAFT_CPUS"):
        harness.session("t")


def test_session_rejects_sf_dir_without_lineitem(no_spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", os.path.join(str(no_spark), "nope"))
    with pytest.raises(SystemExit, match="SPARK_GRAFT_SF_DIR"):
        harness.session("t")


def test_env_accepts_valid_values(no_spark):
    assert harness._env() == (str(no_spark), 4)
