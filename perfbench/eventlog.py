"""Spark event-log parsing: attribute jobs, stages and task metrics to the
job group and job description that were set when they ran.

The log is the uncompressed JSON-lines file Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(single file, or the ``eventlog_v2_*/events_*`` rolling layout). Only the
stdlib JSON parser is used.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

GROUP = "spark.jobGroup.id"
DESC = "spark.job.description"
MB = 1024.0 * 1024.0


@dataclass
class Usage:
    """Work attributed to one (job group, job description) key."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_disk_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    # (submission ms, completion ms) of every stage that ran
    stage_spans: list = field(default_factory=list)

    def add(self, other: "Usage") -> None:
        for k, v in vars(other).items():
            if k == "stage_spans":
                self.stage_spans.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, rolling parts in order."""
    out = []
    for base, _, names in os.walk(log_dir):
        out += [os.path.join(base, n) for n in names if not n.startswith(".")]
    return sorted(out)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict]) -> dict[tuple[str, str], Usage]:
    """Sum work per (job group, job description).

    A stage is keyed by the properties of its StageSubmitted event (the
    submitting job's local properties); tasks follow their stage. Stages
    that were skipped never submit and so count nowhere.
    """
    usage: dict[tuple[str, str], Usage] = defaultdict(Usage)
    stage_key: dict[int, tuple[str, str]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            usage[(props.get(GROUP, ""), props.get(DESC, ""))].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            stage_key[sid] = (props.get(GROUP, ""), props.get(DESC, ""))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            u = usage[stage_key.get(info["Stage ID"], ("", ""))]
            u.stages += 1
            if "Submission Time" in info and "Completion Time" in info:
                u.stage_spans.append((info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            u = usage[stage_key.get(ev["Stage ID"], ("", ""))]
            u.tasks += 1
            m = ev.get("Task Metrics") or {}
            u.exec_run_ms += m.get("Executor Run Time", 0)
            u.exec_cpu_ns += m.get("Executor CPU Time", 0)
            u.gc_ms += m.get("JVM GC Time", 0)
            u.spill_disk_bytes += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            u.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            u.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
            u.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            im = m.get("Input Metrics") or {}
            u.input_bytes += im.get("Bytes Read", 0)
            u.input_records += im.get("Records Read", 0)
    return dict(usage)


def covered_ms(spans: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
