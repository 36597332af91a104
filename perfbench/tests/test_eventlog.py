"""Unit tests of the event-log reducer.

``fixtures/eventlog_small.json`` is a Spark 4.1.2 event log of three
actions (one without a job group, then groups ``q_a`` and ``q_b``),
trimmed to the events and fields the reducer reads.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import eventlog  # noqa: E402

FIXTURE = Path(__file__).resolve().parent / "fixtures" / "eventlog_small.json"


def test_groups_and_counts():
    recs = eventlog.reduce_log(str(FIXTURE))
    assert sorted(recs) == ["q_a", "q_b", "setup"]
    for group in recs.values():
        assert (group["jobs"], group["stages"], group["tasks"]) == (2, 2, 3)
    assert recs["q_a"]["executor_run_s"] == pytest.approx(0.419)
    assert recs["q_a"]["gc_s"] == pytest.approx(0.05)
    assert recs["q_b"]["shuffle_write_bytes"] == 118


def test_non_jvm_is_run_minus_cpu_minus_gc():
    for rec in eventlog.reduce_log(str(FIXTURE)).values():
        assert rec["non_jvm_s"] == pytest.approx(
            rec["executor_run_s"] - rec["jvm_cpu_s"] - rec["gc_s"]
        )


def test_ungrouped_jobs_after_since_ms():
    first_grouped = min(
        ev["Submission Time"]
        for ev in eventlog.events(str(FIXTURE))
        if ev["Event"] == "SparkListenerJobStart" and ev["Properties"]
    )
    assert "ungrouped" not in eventlog.reduce_log(str(FIXTURE), since_ms=first_grouped)
    recs = eventlog.reduce_log(str(FIXTURE), since_ms=0)
    assert "setup" not in recs and recs["ungrouped"]["jobs"] == 2


def test_total_skips_setup():
    recs = eventlog.reduce_log(str(FIXTURE))
    tot = eventlog.total(recs)
    assert tot["jobs"] == 4 and tot["tasks"] == 6
    assert tot["executor_run_s"] == pytest.approx(0.419 + 0.086)


def test_rolling_directory_in_order(tmp_path):
    """A rolling log is read file by file in index order, so a job that
    starts in one file has its tasks attributed in the next."""
    log = tmp_path / "eventlog_v2_app-1"
    log.mkdir()
    start = {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5,
             "Stage IDs": [7], "Properties": {"spark.jobGroup.id": "g"}}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 5e8,
                             "JVM GC Time": 100, "Memory Bytes Spilled": 3,
                             "Disk Bytes Spilled": 4,
                             "Input Metrics": {"Bytes Read": 11}}}
    (log / "events_2_app-1").write_text(json.dumps(task) + "\n")
    (log / "events_1_app-1").write_text(json.dumps(start) + "\n")
    (log / "appstatus_app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(log)
    rec = eventlog.reduce_log(str(log))["g"]
    assert rec["tasks"] == 1 and rec["input_bytes"] == 11 and rec["spill_bytes"] == 7
    assert rec["non_jvm_s"] == pytest.approx(2.0 - 0.5 - 0.1)
