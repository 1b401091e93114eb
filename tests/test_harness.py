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


def _report(tmp_path, probe, results, note=""):
    path = tmp_path / "BENCH_SCALE.md"
    path.unlink(missing_ok=True)
    flagged = probe.report(results, "intro", note=note, path=str(path))
    return flagged, path.read_text().splitlines()


def _fake(s, ratios, rows=(7, 7, 7)):
    return {"s": list(s), "rows": list(rows[: len(s)]), "ratios": list(ratios)}


def test_two_sided_probe_sections_keep_their_headings_and_verdicts(tmp_path):
    """Each probe's section has the heading, header row, verdict words
    and Flagged line it had before the probes shared one writer."""
    import dup_clique_probe
    import fragmentation_probe
    import skew_probe

    results = {"calm": _fake([1.0, 1.5], [1.5]), "hot": _fake([1.0, 9.0], [9.0])}
    flagged, lines = _report(tmp_path, skew_probe.PROBE, results)
    assert flagged == ["hot"]
    assert lines[:6] == [
        "## Skew probe (round 8)", "", "intro", "",
        "| query | uniform (s) | skew (s) | ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    assert lines[6:] == [
        "| hot | 1.0 | 9.0 | 9.0 | FLAG |", "| calm | 1.0 | 1.5 | 1.5 | ok |",
        "", "Flagged (> 3.0x): hot.",
    ]

    flagged, lines = _report(
        tmp_path, fragmentation_probe.PROBE, {"calm": _fake([2.0, 3.0], [1.5])},
        note="  ROW-COUNT MISMATCHES: calm: 7 vs 8 rows",
    )
    assert flagged == []
    assert lines[0] == "## Fragmentation probe (round 9)"
    assert lines[4] == "| query | uniform (s) | fragmented (s) | ratio | verdict |"
    assert lines[6:] == [
        "| calm | 2.0 | 3.0 | 1.5 | ok |", "",
        "Flagged (> 2.0x): none.  ROW-COUNT MISMATCHES: calm: 7 vs 8 rows",
    ]

    results = {
        "dedup_simhash": _fake([1.0, 50.0], [50.0], rows=(10, 900)),
        "dedup_exact": _fake([1.0, 4.0], [4.0], rows=(10, 10)),
    }
    flagged, lines = _report(tmp_path, dup_clique_probe.PROBE, results)
    assert flagged == ["dedup_exact"]
    assert lines[0] == "## Duplicate-clique probe (round 9)"
    assert lines[4] == "| query | uniform (s) / rows | dup (s) / rows | ratio | verdict |"
    assert lines[6:] == [
        "| dedup_simhash | 1.0 / 10 | 50.0 / 900 | 50.0 | inherent-k^2-output |",
        "| dedup_exact | 1.0 / 10 | 4.0 / 10 | 4.0 | FLAG |",
        "", "Flagged bounded queries (> 3.0x): dedup_exact.",
    ]


def test_scale_probe_section_keeps_its_table(tmp_path):
    from dataclasses import replace

    import scale_probe

    probe = scale_probe.PROBE
    results = {"a": _fake([0.5, 1.0, 12.0], [2.0, 12.0]), "b": _fake([1.0, 2.0, 16.0], [2.0, 8.0])}
    flagged, lines = _report(tmp_path, probe, results, note="Worst: 12.0.")
    assert flagged == []
    assert lines[0] == "# BENCH_SCALE — cross-SF scaling probe"
    assert lines[4:] == [
        "| query | sf0.01 (s) | sf0.1 (s) | ratio1 | sf1 (s) | ratio2 | grade |",
        "|---|---|---|---|---|---|---|",
        "| a | 0.5 | 1.0 | 2.0 | 12.0 | 12.0 | SUPER-LINEAR |",
        "| b | 1.0 | 2.0 | 2.0 | 16.0 | 8.0 | linear |",
        "", "Worst: 12.0.",
    ]
    one_decade = replace(probe, labels=probe.labels[:2])
    _, lines = _report(tmp_path, one_decade, {"a": _fake([0.5, 1.0], [2.0])})
    assert lines[4:7] == [
        "| query | sf0.01 (s) | sf0.1 (s) | ratio1 | grade |",
        "|---|---|---|---|---|",
        "| a | 0.5 | 1.0 | 2.0 | sub-linear |",
    ]
