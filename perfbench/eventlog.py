"""Task metrics from Spark's JSON event log, attributed by job group.

Lazy layers (sources, operators, functions) only build plans; their work
runs inside whichever action forces the plan. From outside the program
they are visible only as the bytes and task time of the jobs that action
submits, which is what this module sums, per job group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

UNGROUPED = "(none)"


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict], windows=None) -> dict[str, dict]:
    """Per job group: jobs, task run/GC time (ms), input and shuffle-write
    bytes. A stage belongs to the first job that lists it; a job belongs to
    the group set on its submitting thread. ``windows`` — [(lo_ms, hi_ms)]
    in epoch milliseconds — keeps only jobs submitted inside them."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") != "SparkListenerJobStart":
            continue
        t = e.get("Submission Time", 0)
        if windows is not None and not any(lo <= t <= hi for lo, hi in windows):
            continue
        jid = e["Job ID"]
        job_group[jid] = (e.get("Properties") or {}).get(
            "spark.jobGroup.id"
        ) or UNGROUPED
        for sid in e.get("Stage IDs", []):
            stage_job.setdefault(sid, jid)

    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
        "input_bytes": 0, "input_records": 0, "shuffle_write_bytes": 0,
    })
    for g in job_group.values():
        out[g]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(e.get("Stage ID"))
        if jid is None:
            continue
        m = e.get("Task Metrics") or {}
        acc = out[job_group[jid]]
        acc["tasks"] += 1
        acc["run_ms"] += m.get("Executor Run Time", 0)
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        inp = m.get("Input Metrics") or {}
        acc["input_bytes"] += inp.get("Bytes Read", 0)
        acc["input_records"] += inp.get("Records Read", 0)
        acc["shuffle_write_bytes"] += (
            m.get("Shuffle Write Metrics") or {}
        ).get("Shuffle Bytes Written", 0)
    return dict(out)


def totals(by_group: dict[str, dict]) -> dict[str, int]:
    keys = ("jobs", "tasks", "run_ms", "gc_ms", "input_bytes", "input_records",
            "shuffle_write_bytes")
    return {k: sum(g[k] for g in by_group.values()) for k in keys}
