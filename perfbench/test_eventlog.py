"""Tests for the event-log parser, on a small recorded log.

    python3 -m pytest perfbench/test_eventlog.py -q

The log under testdata/eventlog_small was recorded by
testdata/record_eventlog.py: a CSV scan span, a span whose two jobs were
submitted from worker threads without a job group, and an idle span.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402

DATA = HERE / "testdata"
META = json.loads((DATA / "eventlog_small_spans.json").read_text())
SPANS = {s["name"]: s for s in META["spans"]}


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(DATA / "eventlog_small")


def counters(log, name):
    s = SPANS[name]
    return eventlog.span_counters(log, s["start_ms"], s["end_ms"], META["cores"])


def test_rolling_directory_is_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    (tmp_path / "flat-app").write_text("")
    names = [p.name for p in eventlog.log_files(tmp_path)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1", "flat-app"]


def test_every_task_and_job_is_parsed(log):
    assert log.jobs and all(j.end_ms is not None for j in log.jobs.values())
    assert all(sid in log.stage_job for sid in log.stages)
    whole = eventlog.span_counters(log, 0, 2**62, META["cores"])
    assert whole["jobs"] == len(log.jobs)
    assert whole["tasks"] == sum(st.tasks for st in log.stages.values())
    assert whole["failed_tasks"] == 0


def test_scan_span_counts_the_file_scan(log):
    c = counters(log, "scan")
    assert c["jobs"] >= 1 and c["stages"] >= 2  # scan stage + aggregation stage
    assert c["input_records"] >= META["rows"]
    assert 0 < c["scan_executor_run_s"] <= c["executor_run_s"]
    assert c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0
    assert 0.0 <= c["slot_idle_ratio"] < 1.0


def test_jobs_from_worker_threads_are_attributed_by_submission_time(log):
    c = counters(log, "threaded")
    assert c["jobs"] == 2
    assert c["tasks"] == 4  # two jobs x two partitions
    assert counters(log, "scan")["jobs"] + c["jobs"] == len(log.jobs)


def test_idle_span_is_all_driver_time(log):
    c = counters(log, "idle")
    s = SPANS["idle"]
    assert c["jobs"] == 0 and c["tasks"] == 0 and c["slot_idle_ratio"] == 0.0
    assert c["driver_s"] == pytest.approx((s["end_ms"] - s["start_ms"]) / 1000.0)


def test_driver_time_excludes_job_time(log):
    s = SPANS["scan"]
    c = counters(log, "scan")
    wall = (s["end_ms"] - s["start_ms"]) / 1000.0
    assert c["driver_s"] + c["job_wall_s"] == pytest.approx(wall)
    assert 0 < c["job_wall_s"] <= wall


def test_overlapping_jobs_are_counted_once():
    assert eventlog._covered_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog._covered_ms([(0, 10), (2, 3)]) == 10
    assert eventlog._covered_ms([]) == 0
