"""Unit tests for bench.py's single-attempt contract: one process runs
one sweep; a sweep whose own /proc/stat window shows noisy-neighbor
steal above 1.0% is stamped ``{"contended": true}`` and is never re-run
in-process (a warm retry would flatter the figure).  Pure-logic tests —
the sweep, retime and host window are faked, no Spark session.
"""

from __future__ import annotations

import importlib.util
import os
from contextlib import contextmanager

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _measure(monkeypatch, stamp: dict, timings=None, steady=None):
    """bench.measure over a faked sweep/retime/window; returns the full
    map and how many sweeps ran."""
    bench = _load_bench()
    calls = []

    def sweep(spark, sf_dir):
        calls.append(sf_dir)
        return dict(timings or {"q": 1.0})

    @contextmanager
    def window():
        out: dict = {}
        yield out
        out.update(stamp)

    monkeypatch.setattr(bench, "_sweep", sweep)
    monkeypatch.setattr(bench, "_retime", lambda *a: dict(steady or {}))
    monkeypatch.setattr(bench, "host_window", window)
    return bench.measure(None, "/data/sf0.1"), len(calls)


def test_last_attempt_marks_contended_without_retry(monkeypatch):
    # the one sweep is the last: a contended window is marked, not re-run,
    # and the removed retry knob must not bring retries back
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "3")
    full, sweeps = _measure(monkeypatch, {"steal_pct": 4.17, "wall_sec": 1.0})
    assert sweeps == 1
    assert full["contended"] is True
    assert "attempts" not in full["host_load"]


def test_max_attempts_zero_runs_exactly_one_attempt(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "0")
    full, sweeps = _measure(monkeypatch, {"steal_pct": 4.17})
    assert sweeps == 1 and full["queries"] == {"q": 1.0}


def test_quiet_window_no_retry_no_mark(monkeypatch):
    full, sweeps = _measure(monkeypatch, {"steal_pct": 0.3})
    assert sweeps == 1 and full["contended"] is False


def test_threshold_is_exclusive(monkeypatch):
    # exactly at the threshold counts as quiet (the stamp note says ">~1-2")
    assert _measure(monkeypatch, {"steal_pct": 1.0})[0]["contended"] is False
    assert _measure(monkeypatch, {"steal_pct": 1.01})[0]["contended"] is True


def test_unreadable_steal_is_treated_as_quiet(monkeypatch):
    # no /proc/stat (or clock skew): nothing to judge, the stamp already
    # carries "available": false
    full, _ = _measure(monkeypatch, {"available": False, "wall_sec": 1.0})
    assert full["contended"] is False
    assert full["host_load"]["available"] is False


def test_full_map_keeps_raw_sweep_and_steady_split(monkeypatch):
    full, _ = _measure(
        monkeypatch,
        {"steal_pct": 0.1},
        timings={"a": 3.0, "b": 1.0, "broken": -1.0},
        steady={"a": 2.5},
    )
    assert full["value"] == full["sweep_total_sec"] == 4.0  # raw sweep
    assert full["queries"] == {"a": 2.5, "b": 1.0, "broken": -1.0}
    assert full["sweep_queries"] == {"a": 3.0}
    assert full["best_observed"] == {"a": 2.5}
    assert full["sf"] == 0.1
    assert {"metric", "unit", "host_load", "sweep_queries_note"} <= set(full)


def test_out_without_value_is_a_usage_error(capsys):
    with pytest.raises(SystemExit) as exc:
        _load_bench().main(["--out"])
    assert exc.value.code == 2
    assert "--out" in capsys.readouterr().err
