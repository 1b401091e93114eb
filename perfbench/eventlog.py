"""Read a local Spark event log (JSON lines) and sum its job, stage and
task records over time windows.

Only the standard library is used.  Times in the log are epoch
milliseconds; windows passed in must use the same clock
(``time.time() * 1000``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
PACKAGE = "movie_recommendation_engine_spark"
_PKG_FILE = re.compile(PACKAGE + r"/([\w/]+)\.py")
_MLLIB = re.compile(r"org\.apache\.spark\.ml(lib)?\.")


@dataclass
class Task:
    stage: int
    launch_ms: float
    finish_ms: float
    failed: bool
    run_ms: float
    gc_ms: float
    read_bytes: float
    write_bytes: float
    spill_bytes: float


@dataclass
class Job:
    job_id: int
    submit_ms: float
    end_ms: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    call_sites: dict[int, str] = field(default_factory=dict)  # stage -> call site
    tasks: list[Task] = field(default_factory=list)


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], float(ev["Submission Time"]), stage_ids=list(ev.get("Stage IDs", []))
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = float(ev["Completion Time"])
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            name, details = info.get("Stage Name", ""), info.get("Details", "")
            log.call_sites[info["Stage ID"]] = f"{name}\n{details}"
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd, wr = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch_ms=float(info["Launch Time"]),
                    finish_ms=float(info["Finish Time"]),
                    failed=bool(info.get("Failed") or info.get("Killed")),
                    run_ms=float(m.get("Executor Run Time", 0)),
                    gc_ms=float(m.get("JVM GC Time", 0)),
                    read_bytes=float(
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    ),
                    write_bytes=float(wr.get("Shuffle Bytes Written", 0)),
                    spill_bytes=float(m.get("Disk Bytes Spilled", 0)),
                )
            )
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def stage_module(call_site: str) -> str | None:
    """Dotted package module named by a stage's call site, e.g.
    ``plans.recommender``; ``mllib`` for a call site inside Spark's ML
    library; None when neither is recorded."""
    m = _PKG_FILE.search(call_site)
    if m:
        return m.group(1).replace("/", ".")
    return "mllib" if _MLLIB.search(call_site) else None


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_ids_in(log: EventLog, lo_ms: float, hi_ms: float) -> list[int]:
    """Jobs submitted inside the window [lo_ms, hi_ms]."""
    return sorted(j.job_id for j in log.jobs.values() if lo_ms <= j.submit_ms <= hi_ms)


def tasks_of(log: EventLog, job_ids) -> list[Task]:
    stages = {s for j in job_ids for s in log.jobs[j].stage_ids}
    return [t for t in log.tasks if t.stage in stages]


def window_stats(log: EventLog, windows: list[tuple[float, float]], cores: int) -> dict:
    """Jobs, stages, tasks and task metrics of every job submitted in one
    of ``windows``, plus the windows' time with no job running."""
    job_ids = sorted({j for lo, hi in windows for j in job_ids_in(log, lo, hi)})
    tasks = tasks_of(log, job_ids)
    wall_ms = sum(hi - lo for lo, hi in windows)
    spans = [(log.jobs[j].submit_ms, log.jobs[j].end_ms or log.jobs[j].submit_ms) for j in job_ids]
    busy_ms = sum(_covered_ms(spans, lo, hi) for lo, hi in windows)
    task_ms = sum(
        _covered_ms([(t.launch_ms, t.finish_ms)], lo, hi) for t in tasks for lo, hi in windows
    )
    return {
        "jobs": len(job_ids),
        "stages": len({t.stage for t in tasks}),
        "tasks": len(tasks),
        "task_run_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_read_mb": sum(t.read_bytes for t in tasks) / MB,
        "shuffle_write_mb": sum(t.write_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "failed_tasks": sum(t.failed for t in tasks),
        "exec_s": busy_ms / 1000.0,
        "driver_gap_s": (wall_ms - busy_ms) / 1000.0,
        "core_busy_frac": task_ms / (cores * wall_ms) if wall_ms > 0 else 0.0,
    }


def task_run_by_module(log: EventLog, job_ids, modules: list[str]) -> dict[str, float]:
    """Task run seconds of the given jobs, keyed by the package module
    recorded as each stage's call site.  A stage counts toward the first
    of ``modules`` that is its module or a parent package of it;
    everything else goes to ``unattributed``."""
    out = dict.fromkeys([*modules, "unattributed"], 0.0)
    for t in tasks_of(log, job_ids):
        mod = stage_module(log.call_sites.get(t.stage, "")) or ""
        key = next((m for m in modules if mod == m or mod.startswith(m + ".")), "unattributed")
        out[key] += t.run_ms / 1000.0
    return out
