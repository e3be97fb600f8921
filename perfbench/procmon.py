"""Peak resident memory and CPU time of a process tree, from ``/proc``.

The tree is this Python driver, the Spark JVM it launched and that
JVM's Python worker daemons and workers. Also the host's steal time,
which shows when other guests of a virtual machine's host slowed a run.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.2


def _ppid_and_rss() -> dict[int, tuple[int, int]]:
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
            statm = (d / "statm").read_text().split()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(d.name)] = (int(fields[1]), int(statm[1]) * _PAGE)
    return out


def _tree(root: int, procs: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    procs = _ppid_and_rss()
    return sum(procs[pid][1] for pid in _tree(root, procs))


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (zombies count as gone)."""
    procs = _ppid_and_rss()
    return [p for p in _tree(root, procs) if p != root and procs[p][1] > 0]


def _cpu_ticks(stat: str, children: bool) -> int:
    # utime, stime, then (children=True) cutime, cstime of the waited-for
    # children, which holds the Python workers that have already exited
    fields = stat[stat.rindex(")") + 2 :].split()
    return sum(int(f) for f in fields[11 : 15 if children else 13])


def tree_cpu_s(root: int, skip_tid: int | None = None) -> float:
    """User and system CPU time of the tree below ``root``, leaving out
    the thread ``skip_tid`` of this process."""
    ticks = 0
    for pid in _tree(root, _ppid_and_rss()):
        try:
            ticks += _cpu_ticks(Path(f"/proc/{pid}/stat").read_text(), children=True)
        except OSError:
            continue  # exited since the listing
    if skip_tid is not None:
        ticks -= _cpu_ticks(Path(f"/proc/self/task/{skip_tid}/stat").read_text(), children=False)
    return ticks / _TICK


def steal_s() -> float:
    """CPU time, summed over all CPUs, that the hypervisor ran other
    guests while this machine's guest wanted to run, since boot."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


class PeakRss:
    """Background sampler; ``peak_mb`` is the largest tree RSS seen.
    ``cpu_s()`` is the tree's CPU time so far, without the sampler's."""

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(INTERVAL_S)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root, skip_tid=self._thread.native_id)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
