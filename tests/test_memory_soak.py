"""tools/memory_soak.py soaks only a finished sf1 derive of sf0.1.  No JVM:
the check runs before any child process starts, and the child is faked."""

from __future__ import annotations

import json
import subprocess

import pytest

import harness
import memory_soak

SCALE = {"variant": "scale", "k": 10}


@pytest.fixture
def children(monkeypatch):
    """The names of the child runs main starts; each child reports ok."""
    names = []

    def run(cmd, **_):
        names.append(cmd[-1])
        row = {"name": cmd[-1], "wall": 1.0, "status": "ok"}
        row.update(spill_mem=0, spill_disk=0, peak_exec=0)
        return subprocess.CompletedProcess(cmd, 0, json.dumps(row) + "\n", "")

    monkeypatch.setattr(memory_soak.subprocess, "run", run)
    monkeypatch.setattr(memory_soak, "splice_section", lambda *_: None)
    return names


def _sf1(tmp_path, monkeypatch, marker: dict | None):
    sf1 = tmp_path / "sf1"
    (sf1 / "lineitem.parquet").mkdir(parents=True)
    if marker is not None:
        (sf1 / harness.MARKER).write_text(json.dumps(marker))
    monkeypatch.setattr(memory_soak, "SF1", str(sf1))
    return str(sf1)


@pytest.mark.parametrize(
    "marker",
    [None, harness._marker(memory_soak.SF_BIG, {"variant": "scale", "k": 2}, None)],
    ids=["half-written", "other-derive"],
)
def test_soak_refuses_an_unfinished_or_foreign_sf1(
    tmp_path, monkeypatch, capsys, children, marker
):
    sf1 = _sf1(tmp_path, monkeypatch, marker)
    assert memory_soak.main(["pricing_summary"]) == 2
    assert sf1 in capsys.readouterr().err
    assert children == []


def test_soak_runs_on_a_finished_sf1(tmp_path, monkeypatch, children):
    _sf1(tmp_path, monkeypatch, harness._marker(memory_soak.SF_BIG, SCALE, None))
    assert memory_soak.main(["pricing_summary"]) == 0
    assert children == ["pricing_summary"]


def test_soak_child_runs_at_the_configured_cpus(tmp_path, monkeypatch):
    """A soak child's session is local[$SPARK_GRAFT_CPUS] with as many
    shuffle partitions, as every other probe's is."""
    from movie_recommendation_engine_spark import session

    calls = []

    class Started(Exception):
        pass

    def get_spark(app, **kwargs):
        calls.append(kwargs)
        raise Started

    monkeypatch.setattr(session, "get_spark", get_spark)
    monkeypatch.setattr(memory_soak.tempfile, "mkdtemp", lambda **_: str(tmp_path))
    # run_one sets it for its child JVM; setenv restores it afterwards
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    with pytest.raises(Started):
        memory_soak.run_one("pricing_summary")
    (kw,) = calls
    assert (kw["master"], kw["shuffle_partitions"]) == ("local[3]", 3)
    assert kw["extra_conf"]["spark.eventLog.dir"] == str(tmp_path)
