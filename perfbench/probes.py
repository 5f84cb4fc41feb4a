"""Process and host counters read from ``/proc`` and the JVM's MXBeans.

CPU time is the steal-robust cost: a hypervisor that steals cycles
stretches wall time but not the CPU-seconds a process is billed for.
The readers take an optional ``proc`` root so tests can point them at a
fake tree.
"""

from __future__ import annotations

import os
import resource
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str = "/proc") -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, so that
    index 0 is the state (field 3 in proc(5)).  None if the process is
    gone."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def proc_cpu_s(pid: int, children: bool = False, proc: str = "/proc") -> float:
    """utime+stime of ``pid`` in seconds; with ``children``, also the
    cutime+cstime of the children it has reaped.  0.0 if it is gone."""
    f = _stat_fields(pid, proc)
    if f is None:
        return 0.0
    # proc(5): utime=14 stime=15 cutime=16 cstime=17 -> offsets 11..14 here
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def _ppid(pid: int, proc: str) -> int | None:
    f = _stat_fields(pid, proc)
    return int(f[1]) if f else None


def descendants(root: int, proc: str = "/proc") -> list[int]:
    """Live descendants of ``root`` (not root itself), found by walking
    the parent links of every process in ``proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            pp = _ppid(int(name), proc)
            if pp is not None:
                kids.setdefault(pp, []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int, proc: str = "/proc") -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid, proc)
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every process in ``pids`` has exited; SIGKILL the ones
    still there after ``timeout`` seconds and wait for those too."""
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = float("inf")
        time.sleep(0.05)


def pyworker_cpu_s(jvm_pid: int, proc: str = "/proc") -> float:
    """CPU seconds of the JVM's Python side: every live descendant (the
    ``pyspark.daemon`` and its forked workers, planner workers) counted
    with the cutime/cstime of the children each has reaped, plus the
    JVM's own cutime/cstime for children it reaped itself."""
    total = 0.0
    f = _stat_fields(jvm_pid, proc)
    if f is not None:
        total += (int(f[13]) + int(f[14])) / CLK_TCK
    for pid in descendants(jvm_pid, proc):
        total += proc_cpu_s(pid, children=True, proc=proc)
    return total


def driver_cpu_s() -> float:
    """CPU seconds of this Python process (the driver), threads included."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def host_steal_s(proc: str = "/proc") -> float:
    """Cumulative steal time over all CPUs, in seconds (``/proc/stat``
    ``cpu`` line, eighth value)."""
    with open(f"{proc}/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                vals = line.split()[1:]
                return int(vals[7]) / CLK_TCK if len(vals) > 7 else 0.0
    return 0.0


def proc_io_mb(pid: int, proc: str = "/proc") -> tuple[float, float]:
    """(read, written) MB through read/write syscalls (``rchar``/``wchar``
    of ``/proc/<pid>/io``), which count tmpfs and page-cache traffic that
    ``read_bytes`` misses."""
    vals = {}
    try:
        with open(f"{proc}/{pid}/io") as f:
            for line in f:
                k, _, v = line.partition(":")
                vals[k.strip()] = int(v)
    except (FileNotFoundError, PermissionError):
        return 0.0, 0.0
    return vals.get("rchar", 0) / 1e6, vals.get("wchar", 0) / 1e6


def peak_rss_mb(pid: int, proc: str = "/proc") -> float:
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def dir_mb(path: str) -> float:
    """Apparent size of every file under ``path``, in MB."""
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except FileNotFoundError:
                pass
    return total / 1e6


class JvmProbe:
    """Counters of the session's JVM: its pid from ``ProcessHandle`` and
    GC and JIT totals from the MXBeans, read through the py4j gateway."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        return sum(
            max(0, b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans()
        ) / 1000.0

    def jit_ms(self) -> float:
        return float(self._mf.getCompilationMXBean().getTotalCompilationTime())


def snapshot(jvm: JvmProbe) -> dict:
    """Every cumulative counter the harness diffs around a pass."""
    read_mb, write_mb = proc_io_mb(jvm.pid)
    return {
        "driver_cpu_s": driver_cpu_s(),
        "jvm_cpu_s": proc_cpu_s(jvm.pid),
        "pyworker_cpu_s": pyworker_cpu_s(jvm.pid),
        "jvm_gc_s": jvm.gc_s(),
        "jvm_jit_ms": jvm.jit_ms(),
        "jvm_read_mb": read_mb,
        "jvm_write_mb": write_mb,
        "host_steal_s": host_steal_s(),
    }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}
