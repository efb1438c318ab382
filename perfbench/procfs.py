"""CPU time and peak memory of the benchmark's processes, from /proc.

In local mode the executors run inside the driver JVM, and the Python
workers of Arrow and pandas UDFs are its descendants. The benchmark
process, the JVM and those workers together are what a run costs.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = float(os.sysconf("SC_CLK_TCK"))


def _stat(pid: int) -> list[bytes] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_bytes()
    except OSError:  # the process ended between listing and reading
        return None
    return raw.rsplit(b")", 1)[1].split()


def own_cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` itself (its threads, no children)."""
    f = _stat(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / _TICK


def _with_reaped_children_s(pid: int) -> float:
    f = _stat(pid)
    return 0.0 if f is None else sum(int(x) for x in f[11:15]) / _TICK


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from each thread's children list."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                kids = Path(f"/proc/{p}/task/{tid}/children").read_text().split()
            except OSError:
                continue
            for k in kids:
                out.append(int(k))
                todo.append(int(k))
    return out


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU of this process, the JVM and the JVM's live descendants.

    Children that already exited are counted in their parent's
    reaped-children fields, so no CPU second is counted twice.
    """
    t = os.times()
    total = t.user + t.system + _with_reaped_children_s(jvm_pid)
    for p in descendants(jvm_pid):
        total += _with_reaped_children_s(p)
    return total


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of ``pid`` in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor took from this VM's vCPUs, summed over
    vCPUs (the ``steal`` column of /proc/stat)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / _TICK


def host_memory_gb() -> float:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) / 1024.0**2
    raise RuntimeError("no MemTotal in /proc/meminfo")
