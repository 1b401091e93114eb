"""session.run_concurrently, the package's one fan-out of Spark work.

Its threads inherit the caller's job group, its first failure cancels
the sibling jobs by tag, and no other module starts threads of its own.
"""

from __future__ import annotations

import csv
import random
import re
import time
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.session import run_concurrently

PKG = Path(__file__).resolve().parent.parent / "movie_recommendation_engine_spark"


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _settle(sc) -> None:
    """Return once the status tracker reflects every job submitted so far.

    The tracker is fed by an asynchronous listener.  A sentinel job is
    submitted after every earlier job has started or ended, so once the
    tracker shows the sentinel finished, it shows the earlier jobs too.
    """
    group = f"settle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        _clear_group(sc)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        ids = tracker.getJobIdsForGroup(group)
        if ids and tracker.getJobInfo(ids[0]).status == "SUCCEEDED":
            return
        time.sleep(0.05)
    raise AssertionError("the status tracker never showed the sentinel job")


def _sleep(ms: int):
    return F.expr(f"java_method('java.lang.Thread', 'sleep', {ms}L)")


def _slow_sibling(spark):
    # 400 one-row partitions sleeping 50 ms each, all in the JVM: a
    # cancel takes effect at the next task boundary
    return spark.range(0, 400, 1, 400).select(_sleep(50)).collect()


def test_first_failure_cancels_sibling_jobs(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    t0 = time.perf_counter()
    _slow_sibling(spark)
    solo = time.perf_counter() - t0

    group = f"fanout-{uuid.uuid4().hex}"

    def sibling():
        # start after the failing job: under FIFO scheduling a job
        # submitted later gets a task slot only once all 400 of the
        # sibling's tasks have started
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
            time.sleep(0.01)
        return _slow_sibling(spark)

    def fail():
        # one task that raises after 0.5 s, while the sibling's job runs
        return spark.range(0, 1, 1, 1).select(
            F.when(_sleep(500).isNotNull(), F.raise_error(F.lit("fanout-boom")))
        ).collect()

    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        with pytest.raises(Exception) as err:
            run_concurrently(spark, "fanout-test", sibling, fail)
        elapsed = time.perf_counter() - t0
    finally:
        _clear_group(sc)
    # the sibling's job ends within a third of its solo time as well
    deadline = time.perf_counter() + solo / 3
    while tracker.getActiveJobsIds() and time.perf_counter() < deadline:
        time.sleep(0.02)
    still_active = list(tracker.getActiveJobsIds())
    _settle(sc)

    assert "fanout-boom" in str(err.value), err.value
    assert elapsed < solo / 3, (elapsed, solo)
    # the failing job and the sibling's
    statuses = [tracker.getJobInfo(j).status for j in tracker.getJobIdsForGroup(group)]
    assert statuses == ["FAILED", "FAILED"], statuses
    assert still_active == []
    assert "fanout-test" in err.value.__notes__


def test_evaluate_jobs_inherit_the_callers_job_group(spark, tmp_path, capsys):
    from movie_recommendation_engine_spark.__main__ import main

    rng = random.Random(11)
    ratings = tmp_path / "ratings.csv"
    with open(ratings, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["userId", "movieId", "rating", "timestamp"])
        for u in range(1, 41):
            for m in rng.sample(range(1, 60), 15):
                w.writerow([u, m, rng.choice([1.0, 2.0, 3.0, 4.0, 5.0]), 1700000000])
    splits, top, model = (str(tmp_path / d) for d in ("splits", "top", "model"))
    assert main(["split", "--ratings", str(ratings), "--out", splits]) == 0
    assert main(["popularity", "--splits", splits, "--k", "5", "--out", top]) == 0
    assert main(["als", "--splits", splits, "--rank", "4", "--max-iter", "2", "--k", "5",
                 "--save-model", model, "--out", str(tmp_path / "recs")]) == 0

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _settle(sc)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"evaluate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        assert main(["evaluate", "--splits", splits, "--popularity", top,
                     "--model-dir", model, "--k", "5"]) == 0
    finally:
        _clear_group(sc)
    _settle(sc)
    assert "rmse" in capsys.readouterr().out
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_package_fans_out_only_through_run_concurrently():
    # a thread started any other way loses the caller's job group and
    # escapes the fail-fast cancel; cancel_futures cancels no running job
    threads = re.compile(r"ThreadPoolExecutor|\bThread\b")
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        assert "cancel_futures" not in src, rel
        if rel != "session.py":
            assert not threads.search(src), rel
