"""Process, JVM and host counters read from outside the program.

CPU time is read from ``/proc`` for the Spark JVM and every process
descended from it (the pandas-UDF daemon and its Python workers), so it
covers work the driver-side Python process never sees. Host steal comes
from ``/proc/stat``: on a shared machine it is the time the hypervisor
gave this box's vCPUs to someone else while they had work to run, which
inflates wall time without showing up as CPU time.
"""

from __future__ import annotations

import os
import time
from dataclasses import astuple, dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and its live descendants, plus the time of
    children they have already reaped (cutime+cstime), in seconds."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def jit_threads_cpu_s(pid: int) -> float:
    """utime+stime of the JVM's JIT compiler threads (C1/C2 CompilerThread).
    The session keeps them alive for the JVM's life, so no compile time is
    lost to a thread that exits between two readings."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """VmHWM (peak resident set) summed over ``root`` and its descendants."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) seconds summed over all vCPUs since boot. Busy is
    user, nice, system, irq and softirq time; steal is time a vCPU had
    work but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / _CLK_TCK, t[7] / _CLK_TCK


def ran_s(wall: float, busy: float, steal: float) -> float:
    """Steal-aware duration of an interval: ``wall`` scaled by the share
    of the vCPU time the box asked for that it got, ``busy / (busy +
    steal)``, both summed over the vCPUs as ``host_cpu_s`` reads them.
    This charges steal to the vCPUs that had work, not to idle ones."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Jvm:
    """GC and JIT totals from the JVM's ``ManagementFactory`` beans."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.java_version = str(jvm.java.lang.System.getProperty("java.version"))

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


@dataclass
class Reading:
    wall: float
    cpu: float  # JVM tree, JIT compiler threads included
    jit_cpu: float  # JIT compiler threads alone
    gc: float
    jit: float  # compilation time the JVM reports
    busy: float  # host, all vCPUs
    steal: float  # host, all vCPUs

    def __sub__(self, other: "Reading") -> "Reading":
        return Reading(*(a - b for a, b in zip(astuple(self), astuple(other))))


def read(jvm: Jvm) -> Reading:
    return Reading(
        time.perf_counter(),
        tree_cpu_s(jvm.pid),
        jit_threads_cpu_s(jvm.pid),
        jvm.gc_s(),
        jvm.jit_s(),
        *host_cpu_s(),
    )
