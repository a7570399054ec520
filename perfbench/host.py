"""Readers for the host counters the benchmark reports: process CPU and
peak RSS from ``/proc/<pid>``, hypervisor steal and load average from
``/proc/stat`` and ``/proc/loadavg``."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, user + system CPU ticks of the process and of its
    reaped children), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name (field 2) may contain spaces: split after it
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of ``root`` and every live descendant: here the
    Python driver, the JVM it launched and the JVM's Python workers. A
    descendant that exited was reaped by its parent, whose counters
    hold its CPU from then on, so no CPU second is counted twice."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            total += procs[pid][1]
        todo.extend(children.get(pid, ()))
    return total / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """VmHWM: the process's peak resident set size."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_seconds() -> float:
    """Cumulative CPU time stolen by the hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def snapshot() -> dict:
    return {"steal_s": steal_seconds(), "loadavg": loadavg()}
