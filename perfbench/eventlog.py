"""Reader for Spark's JSON event log and per-job-group rollups.

Spark 4.x writes an uncompressed, rolling event log as a directory::

    <spark.eventLog.dir>/eventlog_v2_<app-id>/
        appstatus_<app-id>[.inprogress]
        events_1_<app-id>
        events_2_<app-id>
        ...

(``spark.eventLog.compress=false``; the compressed form needs the
``zstandard`` codec, which this environment lacks).

Stages are attributed to the job group that submitted their job, via
the ``spark.jobGroup.id`` job property that
``SparkContext.setJobGroup`` sets.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

_EVENTS_FILE = re.compile(r"^events_(\d+)_")
MB = 1024 * 1024


def event_files(log_root: str) -> list[Path]:
    """The event files of the single application logged under
    ``log_root``, in write order."""
    root = Path(log_root)
    apps = sorted(p for p in root.iterdir() if not p.name.startswith("."))
    if len(apps) != 1:
        raise ValueError(f"expected one application log in {root}, found {len(apps)}")
    app = apps[0]
    parts = [
        (int(m.group(1)), p)
        for p in app.iterdir()
        if (m := _EVENTS_FILE.match(p.name))
    ]
    if not parts:
        raise ValueError(f"no events_<n>_ files in {app}")
    return [p for _, p in sorted(parts)]


def read_events(log_root: str) -> list[dict]:
    events = []
    for path in event_files(log_root):
        with path.open(encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


@dataclass
class GroupStats:
    """Execution totals of every job submitted under one job group."""

    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_mb: float = 0.0
    intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def python_s(self) -> float:
        """Task time the JVM did not spend on CPU: Python workers (and
        I/O waits) — the split the Arrow UDF kernels need."""
        return max(self.task_s - self.jvm_cpu_s, 0.0)

    @property
    def job_active_s(self) -> float:
        """Wall time during which at least one job of the group ran."""
        total, end = 0, None
        for a, b in sorted(self.intervals):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1000.0

    def add(self, other: GroupStats) -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.jvm_cpu_s += other.jvm_cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb
        self.output_mb += other.output_mb
        self.intervals.extend(other.intervals)


def group_stats(events: list[dict]) -> dict[str | None, GroupStats]:
    """Roll task metrics up to job groups. Jobs submitted without a
    group land under ``None``."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    starts: dict[int, int] = {}
    out: dict[str | None, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            jid = ev["Job ID"]
            job_group[jid] = group
            starts[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            out.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in starts:
                out[job_group[jid]].intervals.append(
                    (starts.pop(jid), ev["Completion Time"])
                )
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            g = out.setdefault(stage_group.get(ev["Stage ID"]), GroupStats())
            g.tasks += 1
            g.task_s += m.get("Executor Run Time", 0) / 1000.0
            g.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
            g.shuffle_write_mb += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                / MB
            )
            g.output_mb += (
                (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
            )
    return out


def merged(stats: dict[str | None, GroupStats], groups) -> GroupStats:
    total = GroupStats()
    for g in groups:
        if g in stats:
            total.add(stats[g])
    return total
