"""State shared by one benchmark run: arguments, work directory, tracer,
host sizing, and the end-to-end and per-layer results being assembled."""

from __future__ import annotations

import glob
import os
import statistics
import time
from dataclasses import dataclass, field

from . import host
from .sparkctl import SparkRun
from .tracing import Tracer


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    t_proc: float  # wall clock when the process started
    work: str
    cores: int = field(default_factory=host.cpu_count)
    mem_mb: int = field(default_factory=host.mem_total_mb)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    runs: list[SparkRun] = field(default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(self.trace)

    @property
    def heap_mb(self) -> int:
        return host.driver_heap_mb(self.mem_mb)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def spark_run(self, event_log: bool = False) -> SparkRun:
        sr = SparkRun(self.work, self.cores, self.heap_mb, event_log=event_log)
        self.runs.append(sr)
        return sr

    def mark(self, phase: str) -> None:
        """Note the seconds since process start at which ``phase`` ended."""
        self.info.setdefault("phases", {})[phase] = round(time.time() - self.t_proc, 3)

    def record(self, problems: list[str], what: str) -> None:
        """Count one attempted operation; it fails if its check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]

    def peak_rss_mb(self, jvm_pid: int | None) -> float:
        own = host.vm_hwm_mb(os.getpid())
        return own + (host.vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)


def quantiles(values: list[float]) -> tuple[float, float]:
    """(p50, p90) with linear interpolation between order statistics."""
    if len(values) == 1:
        return values[0], values[0]
    q = statistics.quantiles(values, n=10, method="inclusive")
    return statistics.median(values), q[8]


def dir_bytes(pattern: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files matching ``pattern``."""
    files = glob.glob(pattern, recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)
