"""The measurement core shared by bench.py and the tools/ probes, one
implementation of each primitive:

- ``env_int`` / ``env_cpus``: a validated positive-int variable, and
  ``$SPARK_GRAFT_CPUS``;
- ``local_spark`` / ``session``: a ``local[$SPARK_GRAFT_CPUS]`` session
  (``session`` also validates ``$SPARK_GRAFT_SF_DIR`` and can warm it);
- ``best_of``: the min-of-N timer;
- ``host_window``: the /proc/stat host-noise stamp;
- ``splice_section``: the BENCH_SCALE.md section writer;
- ``warm_scan``: the per-SF scan and shuffle warm-up;
- ``derive_variant`` / ``derived``: write a variant of an SF dir (or of
  some of its tables) table by table, and tell whether a finished one
  is already there;
- ``Probe``: the ratio core of the variant probes (the same queries on
  each side, min of N, ratio between consecutive sides, one table).

Only the session helpers start a JVM, so the rest runs (and is tested)
without one.
"""

from __future__ import annotations

import gc
import glob
import json
import math
import os
import shutil
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
BENCH_SCALE = os.path.join(ROOT, "BENCH_SCALE.md")
MARKER = "_DERIVE_COMPLETE.json"


def env_int(name: str, default: int) -> int:
    """``$name`` (``default`` when unset) through ``session.env_positive_int``;
    a bad value exits naming the variable before any JVM starts."""
    from movie_recommendation_engine_spark.session import env_positive_int

    try:
        return env_positive_int(name, default)
    except ValueError as ex:
        raise SystemExit(str(ex)) from None


def env_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` (default 32), rejected unless a positive int."""
    return env_int("SPARK_GRAFT_CPUS", 32)


def _env() -> tuple[str, int]:
    """(sf_dir, cpus) from the environment, rejected before any JVM
    starts: a typo here used to surface minutes later as a Spark error
    (or as a silently different parallelism)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = env_cpus()
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR={sf_dir!r} has no lineitem.parquet")
    return sf_dir, cpus


def local_spark(app: str, extra_conf: dict[str, str] | None = None):
    """A ``local[$SPARK_GRAFT_CPUS]`` session at ERROR log level; a live
    session is returned as it is (see ``get_spark``)."""
    cpus = env_cpus()
    from movie_recommendation_engine_spark.session import get_spark

    return get_spark(
        app,
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra_conf,
        log_level="ERROR",
    )


def session(app: str, warm: bool = False):
    """``(spark, sf_dir)`` for one measurement process.

    ``warm=True`` runs ``warm_all`` on ``sf_dir`` first, so per-query
    figures measure plans, not whichever query first pays a cost
    class's JIT/worker start-up (see warmups.py).  bench.py, the
    bench_check retime and rebaseline_probe all warm here, so budgets,
    sweep figures and adjudication retimes share one execution context.
    """
    sf_dir, _ = _env()
    spark = local_spark(app)
    if warm:
        from movie_recommendation_engine_spark.warmups import warm_all

        warm_all(spark, sf_dir, log=lambda m: print(m, file=sys.stderr))
    return spark, sf_dir


def best_of(fn: Callable[[], object], runs: int, stop_after: float = math.inf) -> float:
    """Min wall seconds of ``runs`` calls of ``fn``; a call slower than
    ``stop_after`` seconds ends the loop early.  A python gc after each
    call drops the run's DataFrame refs, so localCheckpoint RDDs and
    broadcasts are released before the next measurement."""
    best = math.inf
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        t = time.perf_counter() - t0
        best = min(best, t)
        gc.collect()
        if t > stop_after:
            break
    return best


def _cpu_stat() -> dict | None:
    """One /proc/stat aggregate-cpu sample (jiffies since boot)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return {
            "total": sum(vals),
            "idle": vals[3],
            "iowait": vals[4] if len(vals) > 4 else 0,
            "steal": vals[7] if len(vals) > 7 else 0,
        }
    except Exception:
        return None


@contextmanager
def host_window() -> Iterator[dict]:
    """Yield a dict that is filled, when the block exits, with the host
    noise over the block: the artifact then carries its own
    exculpatory/incriminating evidence (round-5 verdict: five
    identical-code sweeps spanned 362-700 s on noisy-neighbor bursts,
    and every round paid to re-prove it).  steal_pct is the cleanest
    noisy-neighbor signal on a VM; iowait_pct flags disk contention;
    cpu_busy_pct includes this process's own work, so it is context,
    not a noise verdict by itself."""
    out: dict = {}
    a, t0 = _cpu_stat(), time.perf_counter()
    try:
        yield out
    finally:
        b = _cpu_stat()
        out["wall_sec"] = round(time.perf_counter() - t0, 2)
        try:
            out["loadavg_1m_end"] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        if not a or not b or b["total"] <= a["total"]:
            out["available"] = False
        else:
            dt = b["total"] - a["total"]
            out["steal_pct"] = round(100.0 * (b["steal"] - a["steal"]) / dt, 2)
            out["iowait_pct"] = round(100.0 * (b["iowait"] - a["iowait"]) / dt, 2)
            out["cpu_busy_pct"] = round(
                100.0 * (1.0 - (b["idle"] - a["idle"]) / dt), 2
            )
            out["note"] = (
                "steal_pct/iowait_pct >~1-2 mean the host was contended and "
                "sweep wall times are not a code signal; see README bench section"
            )


def splice_section(path: str, heading: str, lines: list[str]) -> None:
    """Write ``lines`` into the markdown file ``path`` as the section
    whose heading line starts with ``heading``.

    The old section runs from that heading to the next ``## `` heading
    (or the end of the file) and is replaced in place; every other
    section is kept as it was.  A section not yet in the file is
    appended.  A ``# `` title works the same way: scale_probe's leading
    table is the section from the title to the first ``## `` heading.
    """
    try:
        with open(path) as fh:
            doc = fh.read()
    except FileNotFoundError:
        doc = ""
    section = "\n".join(lines).strip("\n") + "\n"
    if doc.startswith(heading):
        start = 0
    else:
        start = doc.find("\n" + heading) + 1  # 0: absent
        if not start:
            doc = doc.rstrip("\n") + "\n\n" if doc.strip() else ""
            start = len(doc)
    end = doc.find("\n## ", start)
    after = doc[end + 1 :] if end != -1 else ""
    with open(path, "w") as fh:
        fh.write(doc[:start] + section + ("\n" + after if after else ""))


def warm_scan(spark, sf_dirs: list[str]) -> None:
    """Warm parquet footers AND the shuffle machinery at each SF: the
    first real shuffle at a new data scale pays one-time JVM costs
    (codegen, exec-memory pool growth) that otherwise bill to whichever
    query the ordering puts first — measured round 6: the first
    pagerank-family query at sf1 read x14.7-x20.9 while the same query
    warm read x5."""
    from pyspark.sql import functions as F

    for sf_dir in sf_dirs:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
            "l_orderkey"
        ).agg(F.count("*").alias("n")).agg(F.sum("n")).collect()


def _marker(src: str, params: dict, tables: tuple[str, ...] | None) -> dict:
    from movie_recommendation_engine_spark.sources.schemas import TESTDATA_TABLES

    tables = list(tables or TESTDATA_TABLES)
    return {"src": os.path.abspath(src), "params": params, "tables": tables}


def derived(out: str, src: str, params: dict, tables: tuple[str, ...] | None = None) -> bool:
    """True iff ``out`` holds a finished derive of ``src`` under ``params``
    (of ``tables``, default every testdata table)."""
    try:
        with open(os.path.join(out, MARKER)) as fh:
            return json.load(fh) == _marker(src, params, tables)
    except FileNotFoundError:
        return False


def variant_dir(env_var: str, sf_dir: str, kind: str) -> str:
    """``$env_var``, else ``.scale/<SF name>-<kind>``: one variant per source SF."""
    name = os.path.basename(os.path.normpath(sf_dir))
    return os.environ.get(env_var) or os.path.join(ROOT, ".scale", f"{name}-{kind}")


def derive_variant(
    spark,
    src: str,
    out: str,
    params: dict,
    transform: Callable,
    single_file: bool = False,
    tables: tuple[str, ...] | None = None,
) -> None:
    """Write ``out`` as a variant of the SF dir ``src``, table by table:
    ``transform(table, df)`` returns the new DataFrame, or None to keep
    the table (byte-identical if one file).  ``single_file`` writes one
    file per table, like the testdata; else one per partition.
    ``tables`` (default every testdata table) names the tables derived,
    each read from ``src/<table>.parquet``.

    The marker (src, params, tables) is written after the last table; a
    finished derive of the same ``src`` and ``params`` is reused, one
    marked otherwise is replaced.  A non-empty directory without the
    marker (a crashed derive, or anything else) is never deleted: the
    call exits naming it.
    """
    if derived(out, src, params, tables):
        print(f"# reusing the finished derive in {out}", file=sys.stderr)
        return
    if os.path.isdir(out) and os.listdir(out):
        if not os.path.exists(os.path.join(out, MARKER)):
            raise SystemExit(
                f"{out} is not empty and has no {MARKER}; remove it or derive elsewhere"
            )
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    marker = _marker(src, params, tables)
    for t in marker["tables"]:
        src_path, out_path = (os.path.join(d, f"{t}.parquet") for d in (src, out))
        df = spark.read.parquet(src_path)
        new = transform(t, df)
        if new is None and os.path.isfile(src_path):
            shutil.copyfile(src_path, out_path)
            continue
        df = df if new is None else new
        if single_file:
            df.coalesce(1).write.parquet(out_path + ".tmp")
            shutil.move(glob.glob(f"{out_path}.tmp/*.parquet")[0], out_path)
            shutil.rmtree(out_path + ".tmp")
        else:
            df.write.parquet(out_path)
    with open(os.path.join(out, MARKER), "w") as fh:
        json.dump(marker, fh)


@dataclass(frozen=True)
class Probe:
    """A variant probe as a spec.  ``time`` runs each query on every SF
    dir, one per label: min of ``runs`` (a run past ``slow_skip_s`` ends
    them: past it the magnitude is the finding), the last run's row
    count, and each dir's ratio to the one before.  ``report`` writes
    the table, a ``ratio_cols`` column after each label but the first:
    ``verdict(query, worst ratio)`` names each row (default FLAG above
    ``threshold``, else ok), and FLAG rows are listed on the
    ``flag_label`` line.  The BENCH_SCALE.md section it replaces is the
    one whose heading starts with ``heading`` up to " (".
    """

    heading: str
    labels: tuple[str, ...]
    runs: int
    threshold: float
    verdict: Callable[[str, float], str] | None = None
    flag_label: str | None = "Flagged"
    ratio_cols: tuple[str, ...] = ("ratio",)
    verdict_col: str = "verdict"
    rows_in_cells: bool = False
    slow_skip_s: float = math.inf

    def time(self, spark, names: list[str], dirs: list[str], results=None) -> dict:
        """query -> {"s", "rows", "ratios"}; a query already in
        ``results`` (a retime) keeps the lower of its two times."""
        from movie_recommendation_engine_spark.registry import QUERIES

        results = {} if results is None else results
        n = len(dirs)
        for name in names:
            if name not in QUERIES:
                print(f"# unknown query {name}, skipping", file=sys.stderr)
                continue
            row = results.setdefault(name, {"s": [math.inf] * n, "rows": [0] * n})
            for i, sf_dir in enumerate(dirs):

                def run():
                    row["rows"][i] = QUERIES[name](spark, sf_dir).count()

                t = round(best_of(run, self.runs, self.slow_skip_s), 3)
                row["s"][i] = min(row["s"][i], t)
            row["ratios"] = [round(b / a, 2) for a, b in zip(row["s"], row["s"][1:])]
            print(f"# {name}: {row}", file=sys.stderr)
        return results

    def report(
        self, results: dict, intro: str, note: str = "", path: str = BENCH_SCALE
    ) -> list[str]:
        """Splice the section into ``path`` and print it; return the
        FLAG rows, worst first."""
        suffix = " (s) / rows" if self.rows_in_cells else " (s)"
        cols = _interleave([label + suffix for label in self.labels], self.ratio_cols)
        lines = [self.heading, "", intro, "", _row(["query", *cols, self.verdict_col])]
        lines.append("|" + "---|" * (len(cols) + 2))
        judge = self.verdict or (lambda _, r: "FLAG" if r > self.threshold else "ok")
        flagged = []
        for name, row in sorted(results.items(), key=lambda kv: -max(kv[1]["ratios"])):
            verdict = judge(name, max(row["ratios"]))
            if verdict == "FLAG":
                flagged.append(name)
            sides = row["s"]
            if self.rows_in_cells:
                sides = [f"{t} / {rows}" for t, rows in zip(row["s"], row["rows"])]
            lines.append(_row([name, *_interleave(sides, row["ratios"]), verdict]))
        footer = f"{self.flag_label} (> {self.threshold}x): {', '.join(flagged) or 'none'}."
        lines += ["", (footer if self.flag_label else "") + note, ""]
        splice_section(path, self.heading.split(" (")[0], lines)
        print("\n".join(lines))
        return flagged


def _interleave(sides: list, ratios: list) -> list:
    """[side0, side1, ratio1, side2, ratio2, ...]"""
    out = sides[:1]
    for side, ratio in zip(sides[1:], ratios):
        out += [side, ratio]
    return out


def _row(cells: list) -> str:
    return "| " + " | ".join(map(str, cells)) + " |"
