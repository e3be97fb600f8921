"""Self-test of the event-log reader on a small recorded log.

    python3 perfbench/selftest.py

``testdata/eventlog`` holds a trimmed Spark 4.1 event log of one
``local[2]`` application, in the rolling layout (two ``events_<n>_``
files and an ``appstatus_`` marker): job 0 (group ``alpha``, a
two-stage aggregation, 4 tasks), job 1 (group ``beta``, a noop write,
2 tasks) and job 2 (no group, 1 task). Job 0 ends the first file, so
its start and end events sit in different files.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402

LOG = HERE / "testdata" / "eventlog"


def main() -> int:
    files = eventlog.event_files(str(LOG))
    assert [f.name.split("_")[1] for f in files] == ["1", "2"], files
    stats = eventlog.group_stats(eventlog.read_events(str(LOG)))
    assert set(stats) == {"alpha", "beta", None}, stats.keys()
    assert (stats["alpha"].jobs, stats["alpha"].tasks) == (1, 4)
    assert (stats["beta"].jobs, stats["beta"].tasks) == (1, 2)
    assert (stats[None].jobs, stats[None].tasks) == (1, 1)
    a = stats["alpha"]
    assert abs(a.task_s - 0.659) < 1e-9, a.task_s
    assert abs(a.jvm_cpu_s - 0.333525312) < 1e-9, a.jvm_cpu_s
    assert abs(a.python_s - (a.task_s - a.jvm_cpu_s)) < 1e-12
    assert a.job_active_s == 0.784, a.job_active_s
    assert a.shuffle_write_mb > 0 and stats["beta"].shuffle_write_mb == 0
    both = eventlog.merged(stats, ["alpha", "beta"])
    assert (both.jobs, both.tasks) == (2, 6)
    assert abs(both.job_active_s - (0.784 + 0.117)) < 1e-9
    print("eventlog self-test: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
