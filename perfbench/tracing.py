"""Traced-run support: spans kept in memory, and Spark's event log folded
into per-call counts through each call's job group.

The benchmark sets one job group per call phase (``<pass>/<call>/build``
and ``<pass>/<call>/action``). Counting through the group sees every job;
a global ``statusTracker`` count only sees the last 1000 retained jobs.
The event log is written uncompressed and non-rolling: Spark 4.1.2's
default is a zstd rolling directory.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Spans:
    """One span per call phase: name, start, end, parent pass, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, parent: str, start: float, end: float) -> None:
        self.items.append(
            {"run": self.run_id, "name": name, "parent": parent, "start": start, "end": end}
        )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.items, fh)


class GroupStats:
    """Spark work attributed to one job group."""

    __slots__ = ("jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
                 "single_task_ms")

    def __init__(self):
        self.jobs = self.stages = self.tasks = 0
        self.run_ms = self.gc_ms = self.shuffle_bytes = self.spill_bytes = 0
        self.single_task_ms = 0  # wall time of stages that ran as one task


def fold_event_log(path: str) -> dict[str, GroupStats]:
    """Jobs, completed stages, tasks, task run time, GC time, shuffle
    write bytes, disk spill bytes and the wall time of single-task stages
    per job group."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stats[group].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group:
                    stats[group].stages += 1
                    if info.get("Number of Tasks") == 1:
                        stats[group].single_task_ms += (
                            info["Completion Time"] - info["Submission Time"])
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if not group or not m:
                    continue
                s = stats[group]
                s.tasks += 1
                s.run_ms += m.get("Executor Run Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                s.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return stats


def find_event_log(log_dir: str, app_id: str) -> str:
    """The finished log file of ``app_id``; stopping the context renames
    it from ``.inprogress``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return path
