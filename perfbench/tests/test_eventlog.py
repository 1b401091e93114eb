import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read_event_log(FIXTURE)


def test_parses_jobs_stages_and_tasks(log):
    assert sorted(log.jobs) == [7, 74]
    assert log.jobs[7].stage_ids == [9, 10, 11, 12]  # stage 9 was skipped: no tasks
    assert log.jobs[7].end_ms - log.jobs[7].submit_ms == 771
    assert len(log.tasks) == 15
    assert sum(t.run_ms for t in log.tasks) == 711 + 339


def test_stage_call_sites_name_modules(log):
    assert eventlog.stage_module(log.call_sites[193]) == "plans.movielens"
    assert eventlog.stage_module(log.call_sites[10]) == "mllib"
    assert eventlog.stage_module("parquet at NativeMethodAccessorImpl.java:0") is None


def test_window_stats_over_one_job(log):
    job = log.jobs[7]
    s = eventlog.window_stats(log, [(job.submit_ms - 10, job.end_ms + 10)], cores=4)
    assert (s["jobs"], s["stages"], s["tasks"], s["failed_tasks"]) == (1, 3, 12, 0)
    assert s["task_run_s"] == pytest.approx(0.711)
    assert s["gc_s"] == pytest.approx(0.041)
    assert s["shuffle_read_mb"] == pytest.approx(179094 / 2**20)
    assert s["exec_s"] == pytest.approx(0.771)
    assert s["driver_gap_s"] == pytest.approx(0.020)
    assert 0 < s["core_busy_frac"] < 1


def test_window_excludes_jobs_submitted_outside_it(log):
    job = log.jobs[74]
    s = eventlog.window_stats(log, [(job.submit_ms, job.end_ms)], cores=4)
    assert (s["jobs"], s["tasks"]) == (1, 3)
    assert eventlog.window_stats(log, [(0.0, 1.0)], cores=4)["jobs"] == 0


def test_task_time_by_module(log):
    by = eventlog.task_run_by_module(log, [7, 74], ["plans.recommender", "mllib"])
    assert by == pytest.approx({"plans.recommender": 0.0, "mllib": 0.711, "unattributed": 0.339})
    assert eventlog.task_run_by_module(log, [74], ["plans"])["plans"] == pytest.approx(0.339)
