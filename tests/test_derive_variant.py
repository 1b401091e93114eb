"""harness.derive_variant, the one writer of the probes' variant SF dirs:
a variant is reused only when its marker says a derive of the same
source under the same params finished, and a directory it cannot
recognize as its own is never deleted."""

from __future__ import annotations

import filecmp
import os

import pytest

import harness

SRC = "/root/testdata/sf0.001"
OTHER_SRC = "/root/testdata/sf0.01"
PARAMS = {"variant": "test", "n": 1}


class Trim:
    """Keeps one row of nation, copies every other table; counts calls."""

    def __init__(self, fail_on: str | None = None):
        self.calls, self.fail_on = [], fail_on

    def __call__(self, table, df):
        self.calls.append(table)
        if table == self.fail_on:
            raise RuntimeError(f"crash while deriving {table}")
        return df.limit(1) if table == "nation" else None


def test_partial_derive_is_not_reused(spark, tmp_path):
    out = str(tmp_path / "v")
    with pytest.raises(RuntimeError, match="crash"):
        harness.derive_variant(spark, SRC, out, PARAMS, Trim(fail_on="part"))
    assert os.path.exists(os.path.join(out, "nation.parquet"))  # half written
    assert not harness.derived(out, SRC, PARAMS)
    trim = Trim()
    with pytest.raises(SystemExit, match=out):
        harness.derive_variant(spark, SRC, out, PARAMS, trim)
    assert trim.calls == []


def test_marker_names_source_and_params(spark, tmp_path):
    out = str(tmp_path / "v")
    harness.derive_variant(spark, SRC, out, PARAMS, Trim())
    assert harness.derived(out, SRC, PARAMS)
    assert spark.read.parquet(f"{out}/nation.parquet").count() == 1
    assert filecmp.cmp(f"{SRC}/customer.parquet", f"{out}/customer.parquet", shallow=False)

    again = Trim()  # same source, same params: reused as it is
    harness.derive_variant(spark, SRC, out, PARAMS, again)
    assert again.calls == []

    assert not harness.derived(out, SRC, {**PARAMS, "n": 2})
    fresh = Trim()  # another source: derived afresh
    harness.derive_variant(spark, OTHER_SRC, out, PARAMS, fresh)
    assert len(fresh.calls) == 10
    assert harness.derived(out, OTHER_SRC, PARAMS)
    assert not harness.derived(out, SRC, PARAMS)
    assert filecmp.cmp(
        f"{OTHER_SRC}/customer.parquet", f"{out}/customer.parquet", shallow=False
    )


def test_unmarked_directory_is_refused_and_kept(spark, tmp_path):
    out = tmp_path / "mine"
    out.mkdir()
    (out / "notes.txt").write_text("not a variant")
    (out / "lineitem.parquet").write_text("not a derive either")
    trim = Trim()
    with pytest.raises(SystemExit, match=str(out)):
        harness.derive_variant(spark, SRC, str(out), PARAMS, trim)
    assert trim.calls == []
    assert sorted(os.listdir(out)) == ["lineitem.parquet", "notes.txt"]
    assert (out / "notes.txt").read_text() == "not a variant"


def test_one_table_derive_is_marked_with_its_source_and_rate(spark, tmp_path, capsys):
    """streaming_probe's hot-events variant: one table, reused only for
    the same ``--events`` source at the same rate."""
    import streaming_probe
    from pyspark.sql import functions as F

    def marked(events, pct=20, tables=("events",)):
        params = {"variant": "hot-events", "events": events, "pct": pct}
        return harness.derived(out, os.path.dirname(events), params, tables)

    out, sources = str(tmp_path / "hot"), []
    for name in ("a", "b"):
        sources.append(str(tmp_path / name / "events.parquet"))
        spark.read.parquet(f"{SRC}/events.parquet").repartition(4).write.parquet(sources[-1])
    for events in sources:
        path = streaming_probe._derive_hot_events(spark, events, out)
        assert sorted(os.listdir(out)) == [harness.MARKER, "events.parquet"]
        assert path == os.path.join(out, "events.parquet")
        assert marked(events)
        assert not marked(events, tables=None)  # not a whole-SF variant
        assert not marked(events, pct=10)
        assert sum(f.endswith(".parquet") for f in os.listdir(path)) == 4
        hot = spark.read.parquet(path)
        top = hot.groupBy("event_id").count().agg(F.max("count")).first()[0]
        assert hot.count() == 1000 and 150 <= top <= 250  # ~20% on one id
    assert not marked(sources[0])  # replaced by the derive of the second source
    streaming_probe._derive_hot_events(spark, sources[1], out)
    assert "reusing" in capsys.readouterr().err
