"""Tests for the event-log parser over a hand-written fixture.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
WINDOWS = {"lsh": [(900.0, 1600.0)], "verify": [(2400.0, 3000.0)]}


def test_tagged_job_metrics():
    s = eventlog.layer_stats(eventlog.read_events(FIXTURE), WINDOWS)["lsh"]
    assert (s.jobs, s.untagged_jobs, s.tasks) == (1, 0, 2)
    assert s.task_s == pytest.approx(0.5)
    assert s.gc_s == pytest.approx(0.01)
    assert s.shuffle_mb == pytest.approx(3.0)
    assert s.spill_mb == pytest.approx(0.5)
    assert s.task_skew == pytest.approx(0.4 / 0.25)
    # the skipped stage has no submission time and adds no busy span
    assert s.stage_spans == [(1010, 1510)]


def test_untagged_job_goes_to_enclosing_window():
    s = eventlog.layer_stats(eventlog.read_events(FIXTURE), WINDOWS)["verify"]
    assert (s.jobs, s.untagged_jobs, s.tasks) == (1, 1, 1)
    assert s.task_s == pytest.approx(0.3)


def test_jobs_outside_layers_are_ignored():
    stats = eventlog.layer_stats(eventlog.read_events(FIXTURE), WINDOWS)
    assert sum(s.tasks for s in stats.values()) == 3
    assert set(stats) == set(WINDOWS)


def test_busy_and_gap():
    s = eventlog.layer_stats(eventlog.read_events(FIXTURE), WINDOWS)["lsh"]
    s.stage_spans.append((1400, 1700))  # overlaps the first, crosses t1
    assert s.busy_s(900, 1600) == pytest.approx(0.59)
    assert eventlog.LayerStats().task_skew == 0.0


def test_compressed_log_is_refused(tmp_path):
    shutil.copy(FIXTURE, tmp_path / "local-1.zstd")
    with pytest.raises(ValueError, match="compress=false"):
        eventlog.log_files(str(tmp_path))
