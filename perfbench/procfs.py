"""Process-tree CPU and memory, host steal and the host record, from /proc.

CPU is summed over the benchmark's whole process tree: the Python driver,
the JVM it launched, and the ``pyspark.daemon`` workers the JVM forks.  Each
process contributes utime+stime plus cutime+cstime, so a child that exited
and was reaped still counts through its parent.  On a guest that loses a
varying share of its CPU to host steal, wall time follows the steal; this
CPU sum leaves it out.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, own ticks, reaped-children ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after "(comm)": state ppid ... utime(11) stime(12) cutime(13)
    # cstime(14), counted from 0; comm may itself hold spaces or parens
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


@dataclass
class TreeCpu:
    """CPU seconds of one sample, split by the process that spent them."""
    driver_py: float = 0.0
    jvm: float = 0.0
    pyworker: float = 0.0

    @property
    def total(self) -> float:
        return self.driver_py + self.jvm + self.pyworker

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.driver_py - other.driver_py,
                       self.jvm - other.jvm, self.pyworker - other.pyworker)


class ProcessTree:
    """The Python driver process and, once Spark runs, its JVM subtree."""

    def __init__(self) -> None:
        self.driver = os.getpid()
        self.jvm: int | None = None

    def pids(self) -> list[int]:
        return [self.driver] + (descendants(self.jvm) if self.jvm else [])

    def cpu(self) -> TreeCpu:
        out = TreeCpu()
        drv = _stat(self.driver)
        out.driver_py = (drv[1] + drv[2]) / _TICK
        if self.jvm is not None:
            for pid in descendants(self.jvm):
                st = _stat(pid)
                if st is None:
                    continue
                secs = (st[1] + st[2]) / _TICK
                if pid == self.jvm:
                    out.jvm += secs
                else:
                    out.pyworker += secs
        return out

    def reset_peak_rss(self) -> None:
        """Restart each process's VmHWM so the next read covers only the
        interval that follows (writing 5 to clear_refs, Linux >= 4.0)."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set."""
        total_kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's aggregate cpu line."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return f[7], sum(f[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))
