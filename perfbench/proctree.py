"""CPU and memory of the live process tree under the benchmark driver.

A local-mode Spark session is three kinds of process: this Python driver,
the JVM it launched, and the Python workers the JVM forks (the pyspark
daemon and its children). None of them is reaped while the session lives,
so ``getrusage(RUSAGE_CHILDREN)`` reads 0.0 s for all of them: the kernel
credits a child's CPU to its parent only when the parent waits on it. The
only way to see that CPU is to read ``/proc/<pid>/stat`` of every live
process in the tree.

For each live process we count ``utime + stime + cutime + cstime``: the
process's own CPU plus that of its children it has already reaped. A
short-lived Python worker that exits and is reaped by the pyspark daemon
therefore moves from its own entry into the daemon's ``cutime``, and the
tree total keeps it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class TreeSample:
    """CPU seconds per role at one instant, plus summed peak RSS."""

    driver_cpu_s: float
    jvm_cpu_s: float
    pyworker_cpu_s: float
    peak_rss_mb: float

    @property
    def total_cpu_s(self) -> float:
        return self.driver_cpu_s + self.jvm_cpu_s + self.pyworker_cpu_s

    def __sub__(self, before: "TreeSample") -> "TreeSample":
        return TreeSample(
            self.driver_cpu_s - before.driver_cpu_s,
            self.jvm_cpu_s - before.jvm_cpu_s,
            self.pyworker_cpu_s - before.pyworker_cpu_s,
            self.peak_rss_mb,
        )


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), raw[lpar + 1 : rpar], ticks / _TICK


def _table() -> tuple[dict[int, tuple[int, str, float]], dict[int, list[int]]]:
    """Every live process's ``_stat``, and the children of every pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    return procs, children


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def sample(root: int | None = None) -> TreeSample:
    """Walk the live tree under ``root`` (default: this process).

    Roles: ``root`` itself is the driver; a ``java`` child of the root is
    the JVM; every descendant of the JVM is a Python worker. Any other
    descendant of the root counts as driver.
    """
    root = os.getpid() if root is None else root
    procs, children = _table()
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    rss = 0.0
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in procs:
            continue
        cpu[role] += procs[pid][2]
        rss += _peak_rss_mb(pid)
        for c in children.get(pid, ()):
            if role == "driver" and procs[c][1] == "java":
                stack.append((c, "jvm"))
            elif role == "driver":
                stack.append((c, "driver"))
            else:
                stack.append((c, "pyworker"))
    return TreeSample(cpu["driver"], cpu["jvm"], cpu["pyworker"], rss)


@dataclass(frozen=True)
class HostCpu:
    """CPU seconds this host's CPUs have been busy and have been stolen by
    the hypervisor since boot, summed over CPUs (from ``/proc/stat``)."""

    busy_s: float
    steal_s: float


def host_cpu() -> HostCpu:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return HostCpu((user + nice + system + irq + softirq) / _TICK, steal / _TICK)


def stolen_share(before: HostCpu, after: HostCpu) -> float:
    """Share of the CPU time the host's CPUs wanted between two readings
    that the hypervisor gave to other guests. A stretch of wall time on this
    host would have taken ``1 - share`` of it without them, whether one CPU
    or all were busy, as long as the stolen time fell evenly on busy CPUs."""
    steal = after.steal_s - before.steal_s
    wanted = after.busy_s - before.busy_s + steal
    return steal / wanted if wanted > 0 else 0.0


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    _, children = _table()
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out
