"""SparkSession factory with scale-first defaults.

The reference relies on whatever the NYU Peel cluster's spark-submit
provided (reference shell_setup.sh:1-7).  Here every knob that matters at
100 TB is set explicitly and is overridable via env or kwargs:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast) — SURVEY §4.2.
- shuffle partitions sized from the env (local test: #cores; cluster:
  2-3x total executor cores).
- Arrow enabled so any unavoidable pandas UDF is batch-transferred.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark import SparkContext, inheritable_thread_target
from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int | None = None) -> int | None:
    """``$name`` as an int of at least 1, or ``default`` when it is unset;
    any other value raises a ValueError naming the variable."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(
    app_name: str = "movie-recommendation-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    log_level: str = "WARN",
) -> SparkSession:
    """Build a SparkSession with scale-aware defaults, or return the
    live one untouched.

    The arguments apply only when this call starts the SparkContext: a
    library call (a CLI verb, a generator driven from a test) must not
    re-apply confs or the log level to its caller's session.  Only
    then is ``$SPARK_GRAFT_CPUS`` read: it sets the default master
    (``local[*]`` when unset) and shuffle partitions (32 when unset).
    """
    if SparkContext._active_spark_context is not None:
        return SparkSession.builder.getOrCreate()
    cpus = env_positive_int("SPARK_GRAFT_CPUS")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus or '*'}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode: driver JVM hosts the executors; the 1g default OOMs
        # on sf0.1 joins (only effective when this call creates the JVM)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus or 32),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(log_level)
    return spark


def run_concurrently(spark: SparkSession, label: str, *fns: Callable[[], object]) -> list:
    """Run each fn on its own thread; return their results in argument order.

    PySpark's pinned-thread mode starts a plain thread with no local
    properties, so each fn is wrapped to inherit the caller's job group,
    description and tags, plus one tag unique to this call.  On the
    first failure that tag is cancelled again and again until every
    sibling has finished: a cancel reaches only the jobs running at that
    moment, and a sibling between two jobs (AQE runs a map-stage job,
    then the result job) would start the next one after it.  The failing
    fn's own exception is raised, noted with ``label``.
    """
    sc = spark.sparkContext
    tag = f"{label}-{uuid.uuid4().hex}"

    def tagged(fn):
        def run():
            sc.addJobTag(tag)
            return fn()

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futures = [pool.submit(tagged(fn)) for fn in fns]
        done, pending = wait(futures, return_when=FIRST_EXCEPTION)
        while pending:  # a fn raised: stop its siblings' jobs
            sc.cancelJobsWithTag(tag)
            pending = wait(pending, timeout=0.05).not_done
    for f in futures:
        if f in done and f.exception() is not None:
            f.exception().add_note(label)
            raise f.exception()
    return [f.result() for f in futures]
