"""Spark event-log parser: stage and task metrics grouped by layer.

A layer is a named time window on the Spark driver during which the benchmark
tagged every job it started with ``sparkContext.setJobGroup(layer, ...)``.
Jobs started from threads that do not inherit the tag (the fold's writer
threads, the pipeline's overlap thread) carry no job group; they are
attributed to the layer whose window holds their submission time and
counted as ``untagged_jobs``.

Reads an uncompressed, non-rolling log: one JSON-lines file per
application (``spark.eventLog.rolling.enabled=false``). A compressed log
(``.zstd``, ``.lz4``, ...) is refused with an error naming the setting to
turn off (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field


def log_files(path: str) -> list[str]:
    """Event-log files at ``path`` (one log file, or the log dir)."""
    if os.path.isfile(path):
        return [path]
    out = [os.path.join(path, name) for name in sorted(os.listdir(path))
           if not name.startswith(".")]
    for f in out:
        if re.search(r"\.(zstd|lz4|lzf|snappy)$", f):
            raise ValueError(
                f"{f} is compressed; run with spark.eventLog.compress=false"
            )
    return out


def read_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class LayerStats:
    jobs: int = 0
    untagged_jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    task_times: list = field(default_factory=list)
    stage_spans: list = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Slowest task over the median task (0 when no task ran)."""
        if not self.task_times:
            return 0.0
        med = statistics.median(self.task_times)
        return max(self.task_times) / med if med > 0 else 0.0

    def busy_s(self, t0_ms: float, t1_ms: float) -> float:
        """Seconds of [t0, t1] during which at least one stage ran."""
        spans = sorted((max(a, t0_ms), min(b, t1_ms))
                       for a, b in self.stage_spans if b > t0_ms and a < t1_ms)
        covered, end = 0.0, t0_ms
        for a, b in spans:
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return covered / 1000.0


def layer_stats(events, windows: dict[str, list[tuple[float, float]]]
                ) -> dict[str, LayerStats]:
    """Aggregate job/stage/task metrics per layer.

    ``windows`` maps layer -> list of (start_ms, end_ms) wall windows, in
    epoch milliseconds as the event log records them. A job whose group is
    a layer name belongs to it; a job with no group belongs to the layer
    whose window contains its submission time; any other job is ignored.
    """
    def by_time(ms: float) -> str | None:
        for name, spans in windows.items():
            if any(a <= ms <= b for a, b in spans):
                return name
        return None

    stats = {name: LayerStats() for name in windows}
    stage_layer: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            name = group if group in stats else None
            if group is None:
                name = by_time(ev.get("Submission Time", 0))
                if name is not None:
                    stats[name].untagged_jobs += 1
            if name is None:
                continue
            stats[name].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, name)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            name = stage_layer.get(info["Stage ID"])
            if name is not None and "Submission Time" in info:
                stats[name].stage_spans.append(
                    (info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            name = stage_layer.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if name is None or not metrics:
                continue
            s = stats[name]
            run_s = metrics.get("Executor Run Time", 0) / 1000.0
            s.tasks += 1
            s.task_s += run_s
            s.task_times.append(run_s)
            s.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
            write = metrics.get("Shuffle Write Metrics") or {}
            s.shuffle_mb += write.get("Shuffle Bytes Written", 0) / 1e6
            s.spill_mb += metrics.get("Disk Bytes Spilled", 0) / 1e6
    return stats
