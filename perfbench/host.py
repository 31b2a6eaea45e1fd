"""Host facts, probes and process accounting read from /proc.

Every result records the host it ran on (cores, memory, a CPU spin probe,
a page-fault bandwidth probe and the number of stray Spark JVMs), because
a figure from a degraded or shared host is not comparable to one from a
healthy host.
"""

from __future__ import annotations

import os
import time

SPARK_JVM_MARK = "org.apache.spark.deploy.SparkSubmit"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """A fifth of RAM, between 1 and 6 GiB. The rest stays free for the
    page cache that holds the inputs and outputs, the Python workers and
    the single-core baseline's second JVM."""
    return max(1024, min(6144, mem_mb // 5))


def spin_probe(seconds: float = 0.2) -> float:
    """Millions of trivial interpreter loop iterations per second."""
    n = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(10_000):
            n += 1
    return n / seconds / 1e6


def fault_probe(mb: int = 128) -> float:
    """GB/s of first-touch page faults over a fresh ``mb`` MiB buffer."""
    import numpy as np

    t0 = time.perf_counter()
    buf = np.empty(mb << 20, dtype=np.uint8)
    buf[::4096] = 1
    dt = time.perf_counter() - t0
    del buf
    return (mb / 1024) / dt


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms(exclude: set[int] = frozenset()) -> list[int]:
    return [p for p in _pids() if p not in exclude and SPARK_JVM_MARK in _cmdline(p)]


def probes(own_jvms: set[int] = frozenset()) -> dict:
    return {
        "spin_mops": round(spin_probe(), 3),
        "fault_gbps": round(fault_probe(), 3),
        "stray_jvms": len(spark_jvms(exclude=set(own_jvms))),
    }


def host_facts() -> dict:
    return {"nproc": cpu_count(), "mem_total_mb": mem_total_mb()}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB; 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def tree_cpu_s(root: int) -> dict[str, float]:
    """CPU seconds used by ``root`` and its live descendants, split into the
    root itself and the descendants whose command line names pyspark (the
    Python workers a JVM forks)."""
    stats = {p: s for p in _pids() if (s := _stat(p)) is not None}
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {"root": stats.get(root, (0, 0.0))[1], "python": 0.0, "other": 0.0}
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        key = "python" if "pyspark" in _cmdline(pid) else "other"
        out[key] += stats[pid][1]
    return out
