"""Stdlib reader for Spark's JSON-lines event log.

Rolls the task metrics of ``SparkListenerTaskEnd`` events up per job
group, so every span the tracer opens (one job group each) gets the
shuffle volume, task times and record counts of the jobs it ran.  Only the fields needed for the
per-layer metrics are read; unknown events are skipped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupRollup:
    jobs: int = 0
    shuffle_write_bytes: int = 0
    records_read: int = 0
    records_written: int = 0
    task_s: list[float] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        """Max over median task duration; 0.0 when no task ran."""
        if not self.task_s:
            return 0.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0

    def merge(self, other: "GroupRollup") -> None:
        for name in ("jobs", "shuffle_write_bytes", "records_read",
                     "records_written"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.task_s.extend(other.task_s)

    @property
    def rows(self) -> int:
        """Records the group's jobs wrote, else the records they read."""
        return self.records_written or self.records_read


def event_files(log_dir: str) -> list[str]:
    """Every uncompressed event-log file under ``log_dir``."""
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    )


def rollup(paths: list[str]) -> dict[str, GroupRollup]:
    """Map job group id → rolled-up task metrics.  Jobs without a
    group are collected under the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupRollup] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    groups.setdefault(group, GroupRollup()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    _add_task(groups.setdefault(group, GroupRollup()), ev)
    return groups


def _add_task(g: GroupRollup, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    launch, finish = info.get("Launch Time"), info.get("Finish Time")
    if launch and finish:
        g.task_s.append((finish - launch) / 1000.0)
    sw = m.get("Shuffle Write Metrics") or {}
    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    g.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
    g.records_written += (m.get("Output Metrics") or {}).get("Records Written", 0)
