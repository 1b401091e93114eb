"""Unit tests for bench.py's contention self-defense (round-13 verdict
task 1): a sweep whose own /proc/stat window shows noisy-neighbor steal
above the threshold must be retried (bounded), the artifact must keep
the least-contended attempt, and an all-contended run must self-mark
``{"contended": true}``.  Pure-logic tests — no Spark session.
"""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    """A fresh bench.py module: its settings are read from the
    environment at import."""
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_ROOT, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def test_quiet_window_no_retry_no_mark():
    retry, contended = bench._contention_verdict({"steal_pct": 0.3}, 1, 3)
    assert not retry and not contended


def test_threshold_is_exclusive():
    # exactly at the threshold counts as quiet (the stamp note says ">~1-2")
    retry, contended = bench._contention_verdict({"steal_pct": 1.0}, 1, 3)
    assert not retry and not contended


def test_contended_window_retries_while_attempts_remain():
    retry, contended = bench._contention_verdict({"steal_pct": 4.17}, 1, 3)
    assert retry and contended
    retry, contended = bench._contention_verdict({"steal_pct": 4.17}, 2, 3)
    assert retry and contended


def test_last_attempt_marks_contended_without_retry():
    retry, contended = bench._contention_verdict({"steal_pct": 4.17}, 3, 3)
    assert not retry and contended


def test_unreadable_steal_is_treated_as_quiet():
    # no /proc/stat (or clock skew): nothing to judge, stamp already
    # carries "available": false
    retry, contended = bench._contention_verdict({"available": False}, 1, 3)
    assert not retry and not contended


def _attempt(steal, total=100.0):
    return {
        "host_load": {"steal_pct": steal, "wall_sec": 1.0},
        "timings": {"q": total},
        "steady": {},
    }


def test_pick_best_attempt_lowest_steal():
    attempts = [_attempt(4.2), _attempt(0.4), _attempt(2.0)]
    assert bench._pick_best_attempt(attempts) == 1


def test_pick_best_attempt_tie_prefers_earliest():
    # later same-session attempts are warmer; repetition must not be a
    # way to lower the figure when contention is equal
    attempts = [_attempt(0.5), _attempt(0.5)]
    assert bench._pick_best_attempt(attempts) == 0


def test_pick_best_attempt_unreadable_sorts_last():
    attempts = [_attempt(None), _attempt(3.0)]
    attempts[0]["host_load"] = {"wall_sec": 1.0}  # no steal reading at all
    assert bench._pick_best_attempt(attempts) == 1


def test_chosen_quiet_attempt_unmarks_contended():
    # end-to-end of the marking rule: first attempt contended -> retry;
    # second attempt quiet -> chosen, and the final verdict on the chosen
    # window must be quiet even though a retry happened
    attempts = [_attempt(4.0), _attempt(0.2)]
    best = bench._pick_best_attempt(attempts)
    assert best == 1
    _, contended = bench._contention_verdict(
        attempts[best]["host_load"], bench.MAX_ATTEMPTS, bench.MAX_ATTEMPTS
    )
    assert not contended


def test_max_attempts_zero_runs_exactly_one_attempt(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_ATTEMPTS", "0")
    b = _load_bench()
    assert b.MAX_ATTEMPTS == 1
    calls = []

    def sweep():
        calls.append(1)
        return _attempt(4.17)  # contended: retried while attempts remain

    attempts = b._run_attempts(sweep, b.MAX_ATTEMPTS)
    assert len(calls) == 1 and len(attempts) == 1
    assert b._pick_best_attempt(attempts) == 0
