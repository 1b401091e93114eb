"""warm_all runs its classes concurrently; none may fail silently.

A process's first import of ``pyspark.ml`` is not thread-safe, so the
helpers' imports must all happen before warm_all starts its threads.
The race shows only on a process's FIRST import, which this test
session has long since made, so warm_all runs in a fresh interpreter.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json, sys
from movie_recommendation_engine_spark.session import get_spark
from movie_recommendation_engine_spark.warmups import warm_all

# the race is timing-dependent; the import rule it needs is not
needed = [
    "pyspark.ml.recommendation", "pyspark.ml.evaluation", "pyspark.ml.clustering",
    "pyspark.ml.feature", "movie_recommendation_engine_spark.operators.similarity",
    "movie_recommendation_engine_spark.operators.graph",
]
late = [m for m in needed if m not in sys.modules]
spark = get_spark("warmups_test", master="local[2]", shuffle_partitions=2)
msgs = []
warm_all(spark, sys.argv[1], msgs.append)
spark.stop()
print(json.dumps({"late_imports": late, "log": msgs}))
"""


def test_warm_all_fresh_interpreter_logs_no_failure():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_SMALL],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"late_imports": [], "log": []}, out
