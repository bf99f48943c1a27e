"""CPU and memory of the engine's process tree, read from ``/proc``.

The engine is the JVM that PySpark launches plus the ``pyspark.daemon``
Python workers the JVM forks. Spark's own ``executorCpuTime`` counts only
JVM task threads, so it leaves the Python-worker CPU of every Arrow/pandas
path out; walking ``/proc`` from this process sees both.

Only descendants of this process are counted, so other Spark programs on the
same host do not leak in. A process is a Python worker when its cmdline names
``pyspark.daemon`` or ``pyspark.worker``; every other descendant (the JVM and
its helpers) counts as JVM.

This process is the Spark driver, where the engine runs code too (query
planning, driver-side coverings, DataFrames built from Python lists). Its CPU
is read with ``own_cpu_s`` around each call into the engine and kept as
``driver_cpu_s``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcSample:
    """CPU seconds (own + reaped children) and summed VmHWM of one walk,
    and the CPU of this (driver) process, which the walk leaves out."""

    jvm_cpu_s: float
    python_cpu_s: float
    peak_rss_mb: float
    driver_cpu_s: float = 0.0

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.python_cpu_s + self.driver_cpu_s

    def __sub__(self, other: "ProcSample") -> "ProcSample":
        """CPU spent between ``other`` and this sample; memory of the later
        (larger) of the two readings."""
        return ProcSample(self.jvm_cpu_s - other.jvm_cpu_s,
                          self.python_cpu_s - other.python_cpu_s,
                          max(self.peak_rss_mb, other.peak_rss_mb),
                          self.driver_cpu_s - other.driver_cpu_s)


def parse_stat(text: str) -> tuple[int, float]:
    """(ppid, utime+stime+cutime+cstime seconds) from a /proc/<pid>/stat line.

    The command name in field 2 may hold spaces and parentheses, so fields
    are split after its last ``)``.
    """
    rest = text.rsplit(")", 1)[1].split()
    # rest[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), ticks / _TICK


def parse_hwm_kb(status: str) -> int:
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def is_python_worker(cmdline: bytes) -> bool:
    return b"pyspark.daemon" in cmdline or b"pyspark.worker" in cmdline


def _read(path: str, mode: str = "r"):
    with open(path, mode) as f:
        return f.read()


def own_cpu_s() -> float:
    """CPU seconds of this process, all threads: the driver side of the
    engine (planning, driver-side coverings, py4j)."""
    return time.process_time()


def sample() -> ProcSample:
    """One walk of /proc: CPU and VmHWM summed over this process's
    descendants. ``driver_cpu_s`` is left at 0; the caller reads
    ``own_cpu_s`` where it wants the walk's own cost left out.

    A live process contributes utime+stime plus cutime+cstime, which hold the
    CPU of its children that already exited, so a Python worker that ends
    between two samples still counts (in its parent's cutime). Processes that
    vanish mid-walk are skipped.
    """
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = parse_stat(_read(f"/proc/{name}/stat"))
            except (OSError, IndexError, ValueError):
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    jvm = py = 0.0
    hwm_kb = 0
    stack = list(children.get(os.getpid(), ()))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            cmd = _read(f"/proc/{pid}/cmdline", "rb")
            hwm = parse_hwm_kb(_read(f"/proc/{pid}/status"))
        except OSError:
            continue
        cpu = procs[pid][1]
        if is_python_worker(cmd):
            py += cpu
        else:
            jvm += cpu
        hwm_kb += hwm
    return ProcSample(jvm, py, hwm_kb / 1024.0)
