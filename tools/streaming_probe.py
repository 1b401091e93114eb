"""Streaming throughput probe: sustained rows/sec through each stateful
streaming operator, measured on a real micro-batched replay.

The streaming suite proves CORRECTNESS (batch-twin convergence, crash
recovery from checkpoint); nothing yet measures RATE — the number a
capacity plan actually needs.  This probe replays the events table
through the file source in many micro-batches (the fragmented sf0.1
copy: 200 x ~500-row files, `maxFilesPerTrigger` controls batch size)
with `trigger(availableNow=True)`, a foreachBatch counting sink, and a
fresh checkpoint per operator, and reports per-operator sustained
input throughput (total input rows / wall from start to drain),
micro-batch count, and output rows.

Operators probed — the state-store spectrum:

- tumbling_counts     (windowed agg: JVM state, update mode)
- sliding_value_stats (overlapping windows: N state rows per event)
- sessionize          (session_window merge state)
- dedup_events_within_watermark (keyed dedup state, append mode)
- running_user_totals (applyInPandasWithState, python state fold)
- running_user_ewma   (applyInPandasWithState, order-sensitive fold)
- running_user_ewma_reordered (reorder-buffer state: arrays per key)

Python-state operators are expected an order of magnitude below the
JVM-state ones (Arrow transfer per key-batch) — the probe records the
gap instead of guessing it.  Throughput here is single-host local[32];
on a cluster the file source shards by file and the state store by
key, so rows/sec scales with executors until a single hot key
serializes a python fold.

Usage:
    python tools/streaming_probe.py [--events DIR] [--files-per-trigger N]
Writes a "## Streaming throughput probe" section into BENCH_SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from harness import ROOT, session, splice_section

DEFAULT_EVENTS = os.path.join(ROOT, ".scale", "sf0.1-frag", "events.parquet")


def probe_ops():
    from movie_recommendation_engine_spark.streaming import events as ev
    from movie_recommendation_engine_spark.streaming import stateful as st

    return [
        ("tumbling_counts", lambda s: ev.tumbling_counts(s), "update"),
        ("sliding_value_stats", lambda s: ev.sliding_value_stats(s), "update"),
        # session windows reject update mode (merging state): append —
        # only watermark-finalized sessions emit, which is the real
        # serving contract anyway
        ("sessionize", lambda s: ev.sessionize(s), "append"),
        (
            "dedup_events_within_watermark",
            lambda s: ev.dedup_events_within_watermark(s),
            "append",
        ),
        ("running_user_totals", lambda s: st.running_user_totals(s), "update"),
        ("running_user_ewma", lambda s: st.running_user_ewma(s), "update"),
        (
            "running_user_ewma_reordered",
            lambda s: st.running_user_ewma_reordered(s),
            "update",
        ),
    ]


def _state_stamps(q) -> dict:
    """Peak state-store footprint across the run's micro-batches, from
    the query's progress telemetry: total state rows and memory at the
    worst batch.  This is the number a capacity plan needs — watermark
    eviction bounds it; a stream whose peak tracks input volume (not
    the watermark window) is leaking state."""
    rows = mem = 0
    for pr in q.recentProgress:
        ops = pr.get("stateOperators") or []
        rows = max(rows, sum(int(o.get("numRowsTotal") or 0) for o in ops))
        mem = max(
            mem, sum(int(o.get("memoryUsedBytes") or 0) for o in ops)
        )
    return {"state_rows_peak": rows, "state_mb_peak": round(mem / 1e6, 2)}


def _replay(spark, build, mode: str, events: str, fpt: int, ckpt: str) -> dict:
    """Drain ``events`` once through ``build``: ``fpt`` files per
    micro-batch, ``trigger(availableNow)``, a counting foreachBatch
    sink and a fresh checkpoint at ``ckpt``."""
    from movie_recommendation_engine_spark.streaming.events import (
        read_events_stream,
    )

    counts = {"batches": 0, "out_rows": 0}

    def sink(df, epoch):
        counts["batches"] += 1
        counts["out_rows"] += df.count()

    stream = read_events_stream(spark, events, max_files_per_trigger=fpt)
    t0 = time.perf_counter()
    q = (
        build(stream)
        .writeStream.outputMode(mode)
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"wall_s": round(time.perf_counter() - t0, 2), **counts, **_state_stamps(q)}


HOT_EVENTS = os.path.join(ROOT, ".scale", "sf0.1-hot-events", "events.parquet")
HOT_MARKER = os.path.join(ROOT, ".scale", "sf0.1-hot-events", "_DERIVE_COMPLETE")


def _derive_hot_events(spark, src: str) -> None:
    """Hot-key events variant for the skew leg: ~20% of event_id rows
    remapped onto ONE id (an at-least-once retry storm — the dedup
    operator's adversarial input) and ~20% of user_id rows onto ONE
    user (one mega-session / one serialized python fold).  Same
    md5-mask recipe as gen_skew_sf.py; written as many small files so
    maxFilesPerTrigger yields real micro-batches."""
    from pyspark.sql import functions as F

    shutil.rmtree(os.path.dirname(HOT_EVENTS), ignore_errors=True)
    df = spark.read.parquet(src)
    n_files = max(
        1, sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    ) if os.path.isdir(src) else 200
    for col in ("event_id", "user_id"):
        hot = df.agg(F.min(col)).collect()[0][0]
        mask = (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
            .cast("long") % 5 == 0
        )
        df = df.withColumn(col, F.when(mask, F.lit(hot)).otherwise(F.col(col)))
    df.repartition(n_files).write.mode("overwrite").parquet(HOT_EVENTS)
    with open(HOT_MARKER, "w") as fh:
        fh.write("ok")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", default=DEFAULT_EVENTS)
    ap.add_argument("--files-per-trigger", type=int, default=10)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()

    if not os.path.exists(args.events):
        print(
            f"# {args.events} missing — run: python tools/fragmentation_probe.py",
            file=sys.stderr,
        )
        return 2

    spark, _ = session("streaming_probe")
    master = spark.sparkContext.master

    n_input = spark.read.parquet(args.events).count()
    n_files = sum(
        1 for f in os.listdir(args.events) if f.endswith(".parquet")
    )

    # warm the python-worker pool + state store machinery so the first
    # probed operator doesn't bill one-time startup to its rate
    scratch = tempfile.mkdtemp(prefix="mres_stream_probe_")
    from movie_recommendation_engine_spark.streaming.stateful import (
        running_user_totals,
    )

    _replay(spark, running_user_totals, "update", args.events, 100,
            os.path.join(scratch, "warm"))

    ops = probe_ops()
    if args.names:
        ops = [o for o in ops if o[0] in set(args.names)]

    # two batch sizes per operator: micro-batch COMMIT overhead (plan +
    # state checkpoint per trigger) is a fixed ~second, so small batches
    # measure the overhead floor and large batches the processing rate —
    # the gap IS the latency/throughput dial a deployment tunes
    fpt_small = args.files_per_trigger
    fpt_large = max(fpt_small * 5, fpt_small + 1)
    results: dict[str, dict] = {}
    for name, build, mode in ops:
        row: dict = {}
        for tag, fpt in (("small", fpt_small), ("large", fpt_large)):
            r = _replay(spark, build, mode, args.events, fpt,
                        os.path.join(scratch, f"{name}_{tag}"))
            row[tag] = {**r, "rows_per_s": int(n_input / r["wall_s"])}
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)

    # ---- hot-key (skew) leg: state boundedness under concentration ----
    # dedup under a retry storm (20% of events share ONE event_id),
    # sessionize/EWMA under one mega-user.  The claim probed: state
    # peaks track the WATERMARK WINDOW, not input volume, and a hot key
    # collapses into one state row instead of multiplying them.
    if not os.path.exists(HOT_MARKER):
        _derive_hot_events(spark, args.events)
    skew_ops = [
        ("dedup_events_within_watermark", "append"),
        ("sessionize", "append"),
        ("running_user_ewma", "update"),
    ]
    by_name = {n: (b, m) for n, b, m in probe_ops()}
    skew_results: dict[str, dict] = {}
    for name, mode in skew_ops:
        if name not in by_name:
            continue
        build = by_name[name][0]
        srow: dict = {}
        for tag, events_dir in (("uniform", args.events), ("hot", HOT_EVENTS)):
            srow[tag] = _replay(spark, build, mode, events_dir, fpt_large,
                                os.path.join(scratch, f"skew_{name}_{tag}"))
        srow["state_ratio"] = round(
            srow["hot"]["state_rows_peak"]
            / max(1, srow["uniform"]["state_rows_peak"]),
            2,
        )
        skew_results[name] = srow
        print(f"# skew {name}: {srow}", file=sys.stderr)

    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)

    lines = [
        "## Streaming throughput probe (round 9)",
        "",
        f"The events table ({n_input} rows as {n_files} files) replayed "
        "through the file source with `trigger(availableNow)`, a "
        "foreachBatch counting sink, and a fresh checkpoint per run "
        "(one warm-up stream absorbs python-worker startup).  Each "
        f"operator runs at TWO batch sizes — {fpt_small} and "
        f"{fpt_large} files per micro-batch — because per-trigger "
        "commit overhead (plan + state checkpoint) is a fixed cost: "
        "small batches measure the overhead floor, large ones the "
        "processing rate, and the gap is the latency/throughput dial.  "
        f"`rows/s` = input rows / wall to drain, single-host {master}; "
        "on a cluster the file source shards by file and the state "
        "store by key.  Python-state operators "
        "(applyInPandasWithState) pay Arrow transfer per key-batch — "
        "measured below, not assumed:",
        "",
        "| operator | state | small: batches / rows/s | large: batches / rows/s | output rows (large) |",
        "|---|---|---|---|---|",
    ]
    state_kind = {
        "tumbling_counts": "JVM window agg",
        "sliding_value_stats": "JVM window agg (overlapping)",
        "sessionize": "JVM session merge",
        "dedup_events_within_watermark": "JVM keyed dedup",
        "running_user_totals": "python fold",
        "running_user_ewma": "python ordered fold",
        "running_user_ewma_reordered": "python reorder buffer",
    }
    for name, r in results.items():
        lines.append(
            f"| {name} | {state_kind.get(name, '-')} | "
            f"{r['small']['batches']} / {r['small']['rows_per_s']} | "
            f"{r['large']['batches']} / {r['large']['rows_per_s']} | "
            f"{r['large']['out_rows']} |"
        )
    lines.append("")

    lines += [
        "### Hot-key state boundedness (round 9)",
        "",
        "The same stateful operators replayed against a hot-key events "
        "variant (20% of event_id onto ONE id — an at-least-once retry "
        "storm — and 20% of user_id onto ONE user).  `state rows/MB "
        "peak` is the worst micro-batch's state-store total from the "
        "query's own progress telemetry.  A bounded operator's hot-key "
        "state must stay at or BELOW uniform (duplicate keys collapse "
        "into one state row; watermark eviction caps the horizon):",
        "",
        "| operator | uniform: out rows / state rows / MB peak "
        "| hot: out rows / state rows / MB peak | hot/uniform state |",
        "|---|---|---|---|",
    ]
    for name, r in skew_results.items():
        u, h = r["uniform"], r["hot"]
        lines.append(
            f"| {name} | {u['out_rows']} / {u['state_rows_peak']} / "
            f"{u['state_mb_peak']} | {h['out_rows']} / "
            f"{h['state_rows_peak']} / {h['state_mb_peak']} "
            f"| {r['state_ratio']} |"
        )
    lines.append("")

    splice_section(
        os.path.join(ROOT, "BENCH_SCALE.md"), "## Streaming throughput probe", lines
    )
    print("\n".join(lines))
    print(json.dumps({"probe": "streaming_throughput", "results": results,
                      "skew": skew_results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
