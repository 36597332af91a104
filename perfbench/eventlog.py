"""Reduce a Spark event log to one record per job group.

Standard library only.  Reads an uncompressed event log (a single file,
or a rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files),
maps every job to the ``spark.jobGroup.id`` of its ``JobStart``
properties and every task to its job through the stage ids, and sums
task metrics per group.  Jobs without a group are filed under
``setup``; with ``since_ms`` only those submitted before that epoch
time are, and later ones go under ``ungrouped`` (jobs that worker
threads submit do not inherit the caller's group).

Usage: python3 eventlog.py <event log file or directory>
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

SETUP = "setup"
UNGROUPED = "ungrouped"
FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "jvm_cpu_s", "gc_s",
    "non_jvm_s", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def log_files(path: str) -> list[str]:
    """The files of one event log, in write order."""
    if not os.path.isdir(path):
        return [path]
    found = []
    for name in os.listdir(path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            found.append((int(m.group(1)), os.path.join(path, name)))
    return [p for _, p in sorted(found)]


def find_log(log_dir: str) -> str:
    """The one application log under a ``spark.eventLog.dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise ValueError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def reduce_log(path: str, since_ms: int | None = None) -> dict[str, dict]:
    """{group: {field: value}} over every job in the log."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stages: dict[str, set] = defaultdict(set)
    for ev in events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                late = since_ms is not None and ev.get("Submission Time", 0) >= since_ms
                group = UNGROUPED if late else SETUP
            job_group[ev["Job ID"]] = group
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            group = job_group.get(job, SETUP)
            rec = out[group]
            m = ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            stages[group].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for group, ids in stages.items():
        out[group]["stages"] = len(ids)
    for rec in out.values():
        _non_jvm(rec)
    return dict(out)


def _non_jvm(rec: dict) -> None:
    """Task time outside the JVM (Python workers, I/O wait):
    run - CPU - GC."""
    rec["non_jvm_s"] = max(0.0, rec["executor_run_s"] - rec["jvm_cpu_s"] - rec["gc_s"])


def total(records: dict[str, dict], skip=(SETUP,)) -> dict:
    """Field-wise sum over every group not in ``skip``."""
    acc = dict.fromkeys(FIELDS, 0)
    for group, rec in records.items():
        if group not in skip:
            for k in FIELDS:
                acc[k] += rec[k]
    _non_jvm(acc)
    return acc


if __name__ == "__main__":
    json.dump(reduce_log(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    print()
