"""One benchmark run, in a fresh process started by ``run.py``.

Generates the workload's inputs from the seed, sets up the session
(``session.get_spark`` + ``warmups.warm_all``), runs the workload as a
closed loop (one client, one operation at a time) for about
``--seconds``, checks every output, and prints the result JSON as its
last stdout line.  With ``--trace 1`` the session also writes a local
Spark event log, and the run reports per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import io
import json
import math
import os
import resource
import sys
import time
from dataclasses import dataclass

import eventlog
import gen
import stats
from run import CORES, WORKLOADS

SWEEP_SF = 0.01
# MovieLens-shaped ratings: every user >= 20 ratings plus a geometric
# tail, Zipf(1.0) movie popularity
ML_SHAPE = {"n_users": 400, "n_movies": 1000, "tail_mean": 80}
ML_K = 100
VERBS = ("split", "popularity", "als", "evaluate")
# passes per second of --seconds: at 10 s, one movielens_cli pass (~12 s
# on an idle 4-core host) and three query_sweep passes (~8 s, then ~6 s)
PASSES_PER_S = {"movielens_cli": 0.1, "query_sweep": 0.3}
# one pass of query_sweep: a fixed list of oracle-checked registered
# queries, one per registry module, run in this order (the first Python
# UDF of a session pays the worker start; a fixed order puts it on the
# same query in every run).  The e2e and ml modules' queries (5-21 s
# each at sf0.01) do not fit the per-run budget; movielens_cli measures
# the recommender layers they exercise.
SWEEP_QUERIES = (
    "ab_test_urgent_orders",  # analytics
    "acctbal_peer_density",  # breadth
    "popularity_top100",  # core
    "dedup_exact",  # dedup
    "part_feature_hashing",  # featurize
    "multimodal_frame_sample",  # multimodal
    "brand_dense_ids",  # relational
    "stratified_sample_returnflag",  # sampling
    "knn_arrow_top5",  # similarity
    "events_time_features",  # streaming
    "doc_chunks",  # text
    "tpch_q6_forecast_revenue",  # tpch
)
REGISTRY_MODULES = (
    "analytics", "breadth", "core", "dedup", "e2e", "featurize", "ml",
    "multimodal", "relational", "sampling", "similarity", "streaming", "text", "tpch",
)
# package modules that task time is attributed to by stage call site;
# "mllib" takes stages whose call site is inside Spark's ML library (the
# ALS fit, model save and load), which record no package file
STAGE_MODULES = ["plans.recommender", "operators.similarity", "plans.metrics",
                 "plans.splitter", "plans.movielens", "sources", "mllib"]
WINDOW_KEYS = ("jobs", "stages", "tasks", "task_run_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "failed_tasks", "driver_gap_s")
SPARK_KEYS = WINDOW_KEYS + ("core_busy_frac",)
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    def unit(key: str) -> str:
        if key.endswith(("_s", ".s")):
            return "s"
        if key.endswith("_mb"):
            return "MB"
        return "fraction" if key.endswith("_frac") else "count"

    keys = ["session.get_spark_s", "warmups.warm_all_s", "process.peak_rss_mb"]
    keys += [f"cli.{v}.{k}" for v in VERBS for k in ("s",) + WINDOW_KEYS]
    keys += [f"{m}.task_run_s" for m in STAGE_MODULES + ["unattributed"]]
    keys += ["registry.build_s", "registry.build_jobs"]
    keys += [f"registry.{m}.{k}" for m in REGISTRY_MODULES for k in ("s", "task_run_s")]
    keys += ["sources.read_testdata_calls", "sources.read_testdata_s"]
    keys += [f"spark.catalyst.{p}_s" for p in ("analysis", "optimization", "planning")]
    keys += ["spark.exec_s"] + [f"spark.{k}" for k in SPARK_KEYS]
    keys += ["trace.wall_s", "trace.overhead_s"]
    return {k: unit(k) for k in keys}


@dataclass
class Op:
    """One closed-loop operation: a CLI verb or a registry query."""

    name: str
    group: str  # verb name or registry module
    start_ms: float
    end_ms: float = 0.0
    build_end_ms: float = 0.0
    ok: bool = False

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


def now_ms() -> float:
    return time.time() * 1000.0


def cpu_stat() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_stamp(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "iowait_frac": round(d[4] / total, 4),
        "steal_frac": round(d[7] / total, 4) if len(d) > 7 else 0.0,
        "host_cores": os.cpu_count(),
        "spark_cores": CORES,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
        "host_ram_gb": round(mem_kb / 1024 / 1024, 1),
    }


# ---- movielens_cli ----------------------------------------------------------


class MovieLensRun:
    """The four CLI verbs in sequence, as a reference user runs them."""

    def __init__(self, work: str, seed: int, state: dict):
        import duckdb

        from movie_recommendation_engine_spark.registry.e2e import _E2E_ORACLE

        self.work, self.seed, self.state = work, seed, state
        self.csv = os.path.join(work, "in", "ratings.csv")
        os.makedirs(os.path.dirname(self.csv), exist_ok=True)
        gen.movielens_csv(self.csv, seed, **ML_SHAPE)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT userId AS l_orderkey, movieId AS l_partkey, "
            f"rating AS l_quantity FROM read_csv('{self.csv}', header=true)"
        )
        # the registered flagship's oracle, replayed over this CSV: split
        # counts, popularity checksums, hit ratio and served users
        self.expected = con.execute(_E2E_ORACLE).df().iloc[0].to_dict()
        con.close()
        self.rmse: list[float] = []
        self.failures: list[str] = []

    def run_pass(self, i: int, ops: list[Op]) -> None:
        from movie_recommendation_engine_spark.__main__ import main as cli

        d = os.path.join(self.work, f"pass{i}")
        split, pop, recs, model = (os.path.join(d, x) for x in ("splits", "pop", "recs", "model"))
        argv = {
            "split": ["split", "--ratings", self.csv, "--out", split],
            "popularity": ["popularity", "--splits", split, "--k", str(ML_K), "--out", pop],
            "als": ["als", "--splits", split, "--rank", "100", "--max-iter", "3", "--reg", "0.15",
                    "--k", str(ML_K), "--save-model", model, "--out", recs],
            "evaluate": ["evaluate", "--splits", split, "--model-dir", model,
                         "--popularity", pop, "--k", str(ML_K)],
        }
        out = io.StringIO()
        for verb in VERBS:
            op = Op(verb, verb, now_ms())
            ops.append(op)
            try:
                # evaluate prints its metrics JSON to stdout
                with contextlib.redirect_stdout(out if verb == "evaluate" else sys.stdout):
                    cli(argv[verb])
                op.ok = True
            except Exception as ex:  # a failed verb is counted, the run goes on
                self.failures.append(f"{verb}: {type(ex).__name__}: {ex}")
                op.end_ms = now_ms()
                return
            finally:
                op.end_ms = op.end_ms or now_ms()
        try:
            metrics = json.loads(out.getvalue().strip().splitlines()[-1])
            problems = self.check(split, pop, recs, metrics)
        except Exception as ex:  # unreadable output fails every verb of the pass
            problems = dict.fromkeys(VERBS, f"output check failed: {type(ex).__name__}: {ex}")
        for verb, problem in problems.items():
            if problem:
                next(o for o in ops[-4:] if o.name == verb).ok = False
                self.failures.append(f"pass {i} {verb}: {problem}")

    def check(self, split: str, pop: str, recs: str, metrics: dict) -> dict[str, str]:
        import duckdb

        e = self.expected
        con = duckdb.connect()
        con.execute(f"CREATE VIEW labeled AS SELECT * FROM read_parquet('{split}/**/*.parquet', "
                    "hive_partitioning=true)")
        counts = dict(con.execute("SELECT split, count(*) FROM labeled GROUP BY 1").fetchall())
        pk, psum, pscore = con.execute(
            f"SELECT count(*), CAST(sum(movieId) AS BIGINT), CAST(sum(CAST(score AS "
            f"DECIMAL(18,6))) AS DOUBLE) FROM read_parquet('{pop}/*.parquet')").fetchone()
        users, min_k, max_k = con.execute(
            f"SELECT count(*), min(n), max(n) FROM (SELECT userId, count(*) AS n FROM "
            f"read_parquet('{recs}/*.parquet') GROUP BY 1)").fetchone()
        base = con.execute(
            "WITH train AS (SELECT * FROM labeled WHERE split = 'train'), "
            "val AS (SELECT * FROM labeled WHERE split = 'validation'), "
            "mu AS (SELECT avg(rating) AS mu FROM train) "
            "SELECT sqrt(avg((rating - mu) * (rating - mu))) FROM val, mu "
            "WHERE userId IN (SELECT userId FROM train) AND movieId IN (SELECT movieId FROM train)"
        ).fetchone()[0]
        con.close()
        rmse, map_k = float(metrics["rmse"]), float(metrics["map_at_k"])
        got_counts = (counts.get("train"), counts.get("validation"), counts.get("test"))
        want_counts = (e["n_train"], e["n_validation"], e["n_test"])
        self.rmse.append(rmse)
        key = f"{self.seed}:" + ",".join(f"{k}={v}" for k, v in sorted(ML_SHAPE.items()))
        seen = self.state.setdefault("rmse", {}).setdefault(key, rmse)
        problems = {
            "split": (
                f"split counts {got_counts} != {want_counts}" if got_counts != want_counts else ""
            ),
            "popularity": (
                f"popularity {(pk, psum, pscore)} != "
                f"{(e['pop_k'], e['pop_items_sum'], e['pop_score_sum'])}"
                if (pk, psum, pscore) != (e["pop_k"], e["pop_items_sum"], e["pop_score_sum"])
                else ""
            ),
            "als": (
                f"recs for {users} users with {min_k}..{max_k} rows, want "
                f"{e['rec_users']} x {ML_K}"
                if (users, min_k, max_k) != (e["rec_users"], ML_K, ML_K) else ""
            ),
            "evaluate": "",
        }
        bad = []
        if not (math.isfinite(rmse) and 0 < rmse <= 2.0 * base):
            bad.append(f"rmse {rmse} vs train-mean baseline {base}")
        if not 0.0 <= map_k <= 1.0:
            bad.append(f"map@k {map_k} outside [0, 1]")
        if metrics["popularity_hit_ratio"] != e["pop_hit_ratio"]:
            bad.append(f"hit ratio {metrics['popularity_hit_ratio']} != {e['pop_hit_ratio']}")
        if rmse != self.rmse[0] or rmse != seen:
            bad.append(f"rmse {rmse!r} differs from earlier runs of seed {self.seed} ({seen!r})")
        problems["evaluate"] = "; ".join(bad)
        return problems


# ---- query_sweep ------------------------------------------------------------


class SweepRun:
    """Registered queries, each materialized with ``toPandas`` (the rows
    the oracle check hashes) and checked against its DuckDB oracle."""

    def __init__(self, sf_dir: str, trace: bool):
        import duckdb

        from movie_recommendation_engine_spark import registry

        self.sf_dir, self.trace = sf_dir, trace
        self.registry = registry
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        self.canon_hash = import_canon_hash()
        self.expected = {}
        for name in SWEEP_QUERIES:
            pdf = con.execute(registry.ORACLES[name]).df()
            self.expected[name] = (len(pdf), sorted(pdf.columns), self.canon_hash(pdf))
        con.close()
        self.failures: list[str] = []
        self.phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}

    def run_pass(self, ops: list[Op], spark) -> None:
        results = []
        for name in SWEEP_QUERIES:
            fn = self.registry.QUERIES[name]
            op = Op(name, fn.__module__.rsplit(".", 1)[-1], now_ms())
            ops.append(op)
            try:
                df = fn(spark, self.sf_dir)
                op.build_end_ms = now_ms()
                pdf = df.toPandas()
                op.end_ms = now_ms()
                if self.trace:
                    self.add_phases(df)
                results.append((op, pdf))
            except Exception as ex:  # a failed query is counted, the run goes on
                op.end_ms = op.end_ms or now_ms()
                self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            df = pdf = None
            gc.collect()
        for op, pdf in results:
            want = self.expected[op.name]
            got = (len(pdf), sorted(pdf.columns))
            if got != want[:2]:
                self.failures.append(f"{op.name}: rows/columns {got} != {want[:2]}")
            elif self.canon_hash(pdf) != want[2]:
                self.failures.append(f"{op.name}: value hash differs from its oracle")
            else:
                op.ok = True

    def add_phases(self, df) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in self.phases:
                self.phases[kv._1()] += kv._2().durationMs() / 1000.0


def import_canon_hash():
    """``tools/check_oracle.canon_hash``: the repository's own row hash."""
    import importlib.util

    path = os.path.join(os.environ["PERFBENCH_ROOT"], "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # the tool prepends a fixed checkout path on import
    return mod.canon_hash


# ---- traced-run helpers -----------------------------------------------------


class ReadCounter:
    """Counts and times ``read_testdata`` calls made through the registry."""

    def __init__(self, registry):
        self.calls, self.seconds = 0, 0.0
        self.registry, self.inner = registry, registry.read_testdata

        def counted(*a, **kw):
            t0 = time.perf_counter()
            try:
                return self.inner(*a, **kw)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        registry.read_testdata = counted

    def close(self) -> None:
        self.registry.read_testdata = self.inner


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def layer_metrics(log_path, ops, setup, rss, sweep, reads) -> dict[str, float]:
    log = eventlog.read_event_log(log_path)
    m: dict[str, float] = dict.fromkeys(per_layer_units(), 0.0)
    m["session.get_spark_s"], m["warmups.warm_all_s"] = setup
    m["process.peak_rss_mb"] = rss
    win = [(o.start_ms, o.end_ms) for o in ops]
    for verb in VERBS:
        vops = [o for o in ops if o.group == verb]
        if vops:
            s = eventlog.window_stats(log, [(o.start_ms, o.end_ms) for o in vops], CORES)
            m[f"cli.{verb}.s"] = sum(o.seconds for o in vops)
            m.update({f"cli.{verb}.{k}": s[k] for k in WINDOW_KEYS})
    all_jobs = sorted({j for lo, hi in win for j in eventlog.job_ids_in(log, lo, hi)})
    for mod, sec in eventlog.task_run_by_module(log, all_jobs, STAGE_MODULES).items():
        m[f"{mod}.task_run_s"] = sec
    if sweep is not None:
        m["registry.build_s"] = sum((o.build_end_ms - o.start_ms) / 1000.0 for o in ops
                                    if o.build_end_ms)
        m["registry.build_jobs"] = sum(len(eventlog.job_ids_in(log, o.start_ms, o.build_end_ms))
                                       for o in ops if o.build_end_ms)
        for mod in REGISTRY_MODULES:
            mops = [o for o in ops if o.group == mod]
            jobs = [j for o in mops for j in eventlog.job_ids_in(log, o.start_ms, o.end_ms)]
            m[f"registry.{mod}.s"] = sum(o.seconds for o in mops)
            tasks = eventlog.tasks_of(log, jobs)
            m[f"registry.{mod}.task_run_s"] = sum(t.run_ms for t in tasks) / 1000.0
        for p, sec in sweep.phases.items():
            m[f"spark.catalyst.{p}_s"] = sec
        m["sources.read_testdata_calls"] = reads.calls
        m["sources.read_testdata_s"] = reads.seconds
    s = eventlog.window_stats(log, win, CORES)
    m["spark.exec_s"] = s["exec_s"]
    m.update({f"spark.{k}": s[k] for k in SPARK_KEYS})
    return m


# ---- the run ----------------------------------------------------------------


def result(metrics: dict, units: dict, attempted: int, failed: int, checks_ok: bool) -> dict:
    """The run's last stdout line: exactly the metrics named in ``units``."""
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(set(metrics) ^ set(units))} do not match the contract")
    return {
        "correct": failed == 0 and checks_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def load_state(path: str) -> dict:
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def save_state(path: str, state: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--state", required=True)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    cpu0 = cpu_stat()

    state = load_state(args.state)
    sf_dir = os.path.join(args.work, "in", "sf")
    gen.star_schema(sf_dir, args.seed, SWEEP_SF)
    if args.workload == "movielens_cli":
        run, sweep = MovieLensRun(args.work, args.seed, state), None
    else:
        run = sweep = SweepRun(sf_dir, trace)

    from movie_recommendation_engine_spark import registry, warmups
    from movie_recommendation_engine_spark.session import get_spark

    extra = {}
    if trace:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=extra)
    t1 = time.perf_counter()
    warmups.warm_all(spark, sf_dir, lambda msg: print(msg, file=sys.stderr))
    t2 = time.perf_counter()
    reads = ReadCounter(registry) if trace else None

    ops: list[Op] = []
    passes: list[list[Op]] = []
    # a fixed number of passes for the given --seconds, so that every run
    # of a workload does the same work whatever the host's speed
    for i in range(max(1, round(args.seconds * PASSES_PER_S[args.workload]))):
        first = len(ops)
        if sweep is not None:
            sweep.run_pass(ops, spark)
        else:
            run.run_pass(i, ops)
        passes.append(ops[first:])
        if run.failures:
            break
    rss = peak_rss_mb(spark)
    if reads is not None:
        reads.close()
    spark.stop()
    stamp = host_stamp(cpu0, cpu_stat())

    # wall_s and op_p50_s leave out the first pass when there is another:
    # it pays the fresh session's first-execution costs, which vary most
    # with host load.  Every pass counts in the per-layer metrics.
    timed = passes[1:] or passes
    lat = [o.seconds for p in timed for o in p]
    wall = stats.median([sum(o.seconds for o in p) for p in timed])
    failed = sum(not o.ok for o in ops)
    key = f"{args.workload}:{args.seed}"
    if trace:
        (log_path,) = glob.glob(os.path.join(args.work, "eventlog", "*"))
        metrics = layer_metrics(log_path, ops, (t1 - t0, t2 - t1), rss, sweep, reads)
        metrics["trace.wall_s"] = wall
        # the untraced wall_s of this seed, else the median over this
        # workload's recorded seeds
        recorded = state.get("wall_s", {})
        same = [v for k, v in recorded.items() if k.startswith(args.workload + ":")]
        untraced = recorded.get(key, stats.median(same) if same else None)
        metrics["trace.overhead_s"] = wall - untraced if untraced is not None else 0.0
        units = per_layer_units()
    else:
        metrics = {"setup_s": t2 - t0, "wall_s": wall, "op_p50_s": stats.median(lat)}
        units = END_TO_END
        state.setdefault("wall_s", {})[key] = wall
    save_state(args.state, state)

    tail = stats.tail_percentile(len(lat))
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(passes)} pass(es), {len(ops)} operations, {failed} failed; "
          f"wall_s and op_p50_s from the last {len(timed)}")
    print(f"# op latency over n={len(lat)}: p50 {stats.median(lat):.4f} s" + (
        f", p{tail} {stats.percentile(lat, tail):.4f} s (highest percentile with >= 10 beyond)"
        if tail and tail > 50 else ", no percentile above p50 has >= 10 samples beyond it"))
    print(f"# setup get_spark {t1 - t0:.3f} s, warm_all {t2 - t1:.3f} s; host {json.dumps(stamp)}")
    print(f"# peak RSS {rss:.0f} MB (JVM VmHWM + driver Python ru_maxrss)")
    if trace and untraced is None:
        print(f"# no untraced {args.workload} run recorded yet: trace.overhead_s reads 0")
    for o in ops:
        print(f"# op {o.name} ({o.group}) {o.seconds:.3f} s{'' if o.ok else ' FAILED'}")
    for msg in run.failures:
        print(f"# FAILED {msg}")
    print(json.dumps(result(metrics, units, len(ops), failed, not run.failures)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
