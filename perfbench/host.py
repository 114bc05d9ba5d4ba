"""Host record and /proc readings: host stamps, peak memory, worker CPU.

Everything here but the JVM's own memory-pool peaks reads Linux procfs
directly, so it works with the Spark UI disabled and needs no extra
packages.
"""

from __future__ import annotations

import os
import platform
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostStamp:
    """1-minute load average at the start of an op and hypervisor steal%
    across it, so a run records the host noise it was measured under."""

    def __enter__(self):
        self.load1 = load1()
        self._s0, self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_ticks()
        dt = t1 - self._t0
        self.steal_pct = round(100.0 * (s1 - self._s0) / dt, 2) if dt > 0 else 0.0

    def as_dict(self) -> dict:
        return {"load1": self.load1, "steal_pct": self.steal_pct}


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_record(spark, heap: str, cores: int) -> dict:
    jvm = spark._jvm.System
    return {
        "nproc": os.cpu_count(),
        "spark_cores": cores,
        "mem_total_mb": round(mem_total_mb(), 1),
        "driver_heap": heap,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "kernel": platform.release(),
    }


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python worker processes below the JVM, reaped
    workers included (their time is folded into the daemon's cutime).
    Spark's executorCpuTime counts JVM threads only, so this is the only
    view of the time spent inside Python UDFs."""
    total = 0
    for pid in descendants(jvm_pid):
        if not _comm(pid).startswith("python"):
            continue
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of the stat line)
            total += sum(int(v) for v in st[11:15])
    return total / CLK_TCK


def _kb_field(path: str, key: str) -> float:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_peak_mb(spark) -> float:
    """Peak memory the JVM used, as it tracks it per memory pool: heap
    (eden, survivors, old generation) plus non-heap (metaspace, code
    cache). The driver heap is pre-touched at launch (``-Xms`` with
    ``AlwaysPreTouch``), so the JVM's RSS is the heap size whatever the
    program does; the pool peaks are what it used of it."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()) / 2**20


class PythonPeakMemory:
    """Samples the summed PSS of the Python processes of the run (this
    process and the Python workers below the JVM) on a background thread;
    ``peak_mb`` is the largest sum seen. The JVM is left out: see
    ``jvm_peak_mb``."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> float:
        me = os.getpid()
        total = sum(_kb_field(f"/proc/{p}/smaps_rollup", "Pss:")
                    for p in [me, *descendants(me)] if _comm(p).startswith("python"))
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
