"""CPU time and memory of this process and every process it started (the
Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from the state on (field 3 is index 0)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None  # the process ended meanwhile


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _stat(int(d))):
            parent[int(d)] = int(f[1])
    tree: set[int] = set()
    frontier = [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def tree_cpu_seconds() -> float:
    """User plus system CPU time of this process and its live descendants,
    with the children each has reaped.  Time the hypervisor stole from the
    machine is not charged to a process, so this reads the work done,
    unlike a wall clock on a shared host."""
    ticks = 0
    for pid in descendants() | {os.getpid()}:
        if f := _stat(pid):
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def tree_rss_bytes() -> int:
    """Resident memory of this process and its live descendants."""
    rss = 0
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return rss
