"""The event-log parser, pinned on a small log recorded from a real
session: two tagged job groups, one untagged job before them and one
after."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from perfbench.eventlog import _union_ms, group_stats, read_events

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_group_totals_are_pinned():
    stats = group_stats(read_events(LOG))
    assert set(stats) == {"eventlog_fixture/q#1", "eventlog_fixture/q#2"}
    q1, q2 = stats["eventlog_fixture/q#1"], stats["eventlog_fixture/q#2"]
    assert (q1.jobs, q1.stages, q1.tasks) == (2, 2, 5)
    assert (q2.jobs, q2.stages, q2.tasks) == (2, 2, 3)
    assert (q1.gc_ms, q1.job_wall_ms, q1.shuffle_read_bytes) == (0, 372, 1544)
    assert (q2.gc_ms, q2.job_wall_ms, q2.shuffle_read_bytes) == (15, 92, 118)
    assert (q1.shuffle_write_bytes, q2.shuffle_write_bytes) == (1544, 118)
    assert q1.spill_bytes == q2.spill_bytes == 0
    assert q1.executor_cpu_ms == pytest.approx(304.391871)
    assert q2.executor_cpu_ms == pytest.approx(30.007353)


def test_rolling_directory_reads_files_in_index_order(tmp_path):
    lines = Path(LOG).read_text(encoding="utf-8").splitlines(keepends=True)
    log_dir = tmp_path / "eventlog_v2_local-1"
    log_dir.mkdir()
    half = len(lines) // 2
    # index 10 sorts before 2 as text; the parser must order numerically
    (log_dir / "events_2_local-1").write_text("".join(lines[:half]))
    (log_dir / "events_10_local-1").write_text("".join(lines[half:]))
    (log_dir / "appstatus_local-1").write_text("")
    assert list(read_events(str(log_dir))) == list(read_events(LOG))


def test_union_of_overlapping_job_intervals():
    assert _union_ms([]) == 0
    assert _union_ms([(0, 10), (5, 20), (30, 40), (35, 36)]) == 30
