"""Spark event-log roll-up by job group.

The traced run enables Spark's event log and gives every span its own job
group (``spans.Tracer``). After the session stops, ``read_events`` maps each
stage to the job group of the job that ran it and sums the task metrics of
every finished task into that group.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Rollup:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # per stage: task durations in ms, for max/p50
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    def add(self, other: "Rollup") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        self.task_s += other.task_s
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.stage_task_ms.update(other.stage_task_ms)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes

    @property
    def skew(self) -> float:
        """Largest max/p50 task-duration ratio over stages with >= 2 tasks
        (durations floored at 1 ms); 1.0 when no stage qualifies."""
        worst = 1.0
        for ms in self.stage_task_ms.values():
            if len(ms) >= 2:
                worst = max(worst, max(ms) / max(1.0, statistics.median(ms)))
        return worst


def find_log(log_dir: str, app_id: str) -> list[str]:
    """The event files of ``app_id``, in order: a single file, or the
    ``eventlog_v2_<app>/events_<i>_<app>`` parts of a rolling log."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not parts:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(paths: list[str]) -> dict[str | None, Rollup]:
    """Task metrics of the whole application, keyed by job group id (None for
    jobs run outside any group)."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, Rollup] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    groups.setdefault(group, Rollup()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        # a stage shared by several jobs runs under the first one
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups.setdefault(stage_group.get(sid), Rollup()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    r = groups.setdefault(stage_group.get(sid), Rollup())
                    info = ev.get("Task Info", {})
                    r.tasks += 1
                    if info.get("Failed") or info.get("Killed"):
                        r.failed_tasks += 1
                    dur = max(1, info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    r.stage_task_ms.setdefault(sid, []).append(dur)
                    m = ev.get("Task Metrics") or {}
                    r.task_s += m.get("Executor Run Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    r.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    r.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return groups


def rollup(groups: dict[str | None, Rollup], span_ids) -> Rollup:
    out = Rollup()
    for sid in span_ids:
        if sid in groups:
            out.add(groups[sid])
    return out
