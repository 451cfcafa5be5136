"""Process and host accounting from /proc: the benchmark's process
tree, its memory and CPU time, and the host's CPU steal."""

from __future__ import annotations

import os

from stats import worst_steal_share

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    """Resident set size from /proc/<pid>/statm, which the kernel keeps
    as a counter. (smaps_rollup's PSS would count pages shared by
    forked workers once, but it walks the page tables under the
    process's mmap lock: ~50 ms for a 2 GB JVM, stalling the JVM and
    taking a quarter of a core when sampled five times a second.)"""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM, the Python daemon and the workers it has reaped). Time the
    hypervisor steals from the machine is not CPU time."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_ticks() -> list[tuple[int, int]]:
    """(steal, busy) jiffies of each of the machine's vCPUs from /proc/stat."""
    out = []
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and line[3].isdigit():
                user, nice, system, _idle, _iowait, irq, softirq, steal = (
                    int(x) for x in line.split()[1:9])
                out.append((steal, user + nice + system + irq + softirq))
    return out


class Meter:
    """CPU seconds of the process tree and the steal share of the
    most-stolen vCPU (stats.worst_steal_share) over the interval since
    construction."""

    def __init__(self):
        self._cpu = tree_cpu_s()
        self._ticks = host_ticks()

    def read(self) -> tuple[float, float]:
        return tree_cpu_s() - self._cpu, worst_steal_share(self._ticks, host_ticks())
