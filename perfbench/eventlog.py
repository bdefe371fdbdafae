"""Per-job-group totals from Spark's native (uncompressed) event log.

Spark writes one JSON object per line, either into a single file or,
with rolling logs, into ``events_<n>_<app>`` files inside an
``eventlog_v2_<app>`` directory. Stages are attributed to the job group
set when they were submitted (``spark.jobGroup.id`` in the stage's
properties), tasks to their stage.
"""

from __future__ import annotations

import dataclasses
import json
import os
import re
from collections.abc import Iterator


@dataclasses.dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # spilled to disk
    job_wall_ms: int = 0  # union of the group's job intervals
    intervals: list = dataclasses.field(default_factory=list, repr=False)


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = [
        os.path.join(base, n)
        for base, _, names in os.walk(path)
        for n in names
        if not n.startswith(("appstatus", "."))
    ]

    def order(p: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    return sorted(found, key=order)


def read_events(path: str) -> Iterator[dict]:
    """Every event in the log at ``path`` (a file or a log directory)."""
    for f in _files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def group_stats(events) -> dict[str, GroupStats]:
    """Totals per job group; jobs, stages and tasks outside any group are
    dropped."""
    out: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"]
                out.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]].intervals.append(
                    (job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g:
                out.setdefault(g, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not g or not m:
                continue
            s = out.setdefault(g, GroupStats())
            s.tasks += 1
            s.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            s.gc_ms += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for s in out.values():
        s.job_wall_ms = _union_ms(s.intervals)
    return out
