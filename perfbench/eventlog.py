"""Offline parser for Spark's JSON event log: per-span layer counters.

The traced run starts its session with `spark.eventLog.enabled=true` and
`spark.eventLog.compress=false` (Spark 4 compresses with zstd by default,
and no zstd reader is installed for Python). After the session stops, the
log holds one JSON event per line, either as one flat file or as a
rolling `eventlog_v2_<app>/events_<n>_<app>` directory.

Jobs are attributed to a span by their submission time, not by job group:
some callers submit jobs from their own worker threads (the kraken scale
sinks run in a thread pool), and those jobs carry no group the caller set.
A stage belongs to the first job that lists it (a later job lists an
already-computed stage as skipped); a task belongs to its stage.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

#: the counters `span_counters` returns, in report order
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_records", "slot_idle_ratio", "driver_s",
)

#: the RDD every DataFrame file source (csv, text, parquet) scans through
_SCAN_RDD = "FileScanRDD"


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    attempts: set = field(default_factory=set)
    reads_files: bool = False


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None = None
    stage_ids: tuple[int, ...] = ()


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, StageTotals]
    stage_job: dict[int, int]


def log_files(log_dir: Path) -> list[Path]:
    """Every event file under `log_dir`, oldest application first and, in a
    rolling directory, in index order."""
    def index(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else 0

    files: list[Path] = []
    for entry in sorted(Path(log_dir).iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            files += sorted(entry.glob("events_*"), key=index)
        elif entry.is_file() and not entry.name.startswith("."):
            files.append(entry)
    return files


def parse(log_dir: Path) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for path in log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                _apply(json.loads(line), jobs, stages)
    stage_job: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: (j.submit_ms, j.job_id)):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.job_id)
    return EventLog(jobs, stages, stage_job)


def _apply(ev: dict, jobs: dict[int, Job], stages: dict[int, StageTotals]) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        jobs[ev["Job ID"]] = Job(
            ev["Job ID"], ev["Submission Time"], stage_ids=tuple(ev["Stage IDs"])
        )
    elif kind == "SparkListenerJobEnd":
        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        st = stages.setdefault(info["Stage ID"], StageTotals())
        st.attempts.add(info["Stage Attempt ID"])
        st.reads_files |= any(r["Name"] == _SCAN_RDD for r in info["RDD Info"])
    elif kind == "SparkListenerTaskEnd":
        st = stages.setdefault(ev["Stage ID"], StageTotals())
        st.tasks += 1
        info = ev["Task Info"]
        if ev["Task End Reason"]["Reason"] != "Success" or info["Failed"] or info["Killed"]:
            st.failed_tasks += 1
        m = ev.get("Task Metrics")
        if not m:
            return
        st.run_ms += m["Executor Run Time"]
        st.cpu_ns += m["Executor CPU Time"]
        st.gc_ms += m["JVM GC Time"]
        st.spill_bytes += m["Disk Bytes Spilled"]
        st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        rd = m["Shuffle Read Metrics"]
        st.shuffle_read_bytes += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        st.input_records += m["Input Metrics"]["Records Read"]


def _covered_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_counters(log: EventLog, start_ms: float, end_ms: float, cores: int) -> dict:
    """Counters for the jobs submitted in [start_ms, end_ms), plus
    `scan_executor_run_s` (run time of stages that read input files) and
    `driver_s`, the span's wall time not covered by any running job.
    `slot_idle_ratio` is 1 - executor run time / (job wall time x cores),
    where job wall time (`job_wall_s`) is the union of the jobs' lifetimes."""
    job_ids = {j.job_id for j in log.jobs.values() if start_ms <= j.submit_ms < end_ms}
    walls = [
        (j.submit_ms, min(j.end_ms if j.end_ms is not None else end_ms, end_ms))
        for j in log.jobs.values() if j.job_id in job_ids
    ]
    job_wall_s = _covered_ms(walls) / 1000.0
    mine = [st for sid, st in log.stages.items() if log.stage_job.get(sid) in job_ids]
    run_s = sum(st.run_ms for st in mine) / 1000.0
    return {
        "jobs": len(job_ids),
        "stages": sum(len(st.attempts) for st in mine),
        "tasks": sum(st.tasks for st in mine),
        "failed_tasks": sum(st.failed_tasks for st in mine),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(st.cpu_ns for st in mine) / 1e9,
        "gc_s": sum(st.gc_ms for st in mine) / 1000.0,
        "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in mine),
        "shuffle_read_bytes": sum(st.shuffle_read_bytes for st in mine),
        "spill_bytes": sum(st.spill_bytes for st in mine),
        "input_records": sum(st.input_records for st in mine),
        "slot_idle_ratio": 1.0 - run_s / (job_wall_s * cores) if job_wall_s > 0 else 0.0,
        "driver_s": max((end_ms - start_ms) / 1000.0 - job_wall_s, 0.0),
        "job_wall_s": job_wall_s,
        "scan_executor_run_s": sum(st.run_ms for st in mine if st.reads_files) / 1000.0,
    }
