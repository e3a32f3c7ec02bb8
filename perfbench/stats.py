"""Small summaries and host/JVM probes shared by the benchmark modules."""

from __future__ import annotations

import os
import statistics
import time


def summary(values: list[float]) -> dict:
    """Median, quartiles and sample count; every sample is kept."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
    else:
        q1 = med = q3 = vals[0]
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3, "samples": list(values)}


def cpu_sample() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Jvm:
    """CPU, peak RSS and GC time of the Spark driver JVM, read from
    outside: /proc/<pid> and the platform MXBeans through py4j."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")

    def task_cpu_s(self) -> float:
        """CPU of the Spark executor task threads ("Executor task launch
        worker"), which run the per-row work. Leaves out the JIT compiler,
        GC and driver (planning) threads, whose CPU swings with JIT timing
        from pass to pass. Spark keeps these pool threads alive between
        back-to-back passes, so none of their CPU is lost to thread exit."""
        total = 0
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                with open(f"/proc/{self.pid}/task/{tid}/stat") as fh:
                    s = fh.read()
            except OSError:  # the thread ended between listdir and open
                continue
            head, _, tail = s.rpartition(")")
            if head.split("(", 1)[1].startswith("Executor task"):
                f = tail.split()
                total += int(f[11]) + int(f[12])
        return total / os.sysconf("SC_CLK_TCK")

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1000.0

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


class Window:
    """Wall, steal, CPU and GC over one measured interval. ``cpu`` is
    the CPU time of the JVM and of this Python process together,
    ``task_cpu`` that of the JVM's executor task threads alone."""

    def __init__(self, jvm: Jvm | None = None):
        self.jvm = jvm

    def __enter__(self):
        self._s0 = cpu_sample()
        if self.jvm:
            self._c0, self._g0 = self.jvm.cpu_s() + time.process_time(), self.jvm.gc_s()
            self._k0 = self.jvm.task_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.steal = steal_pct(self._s0, cpu_sample())
        if self.jvm:
            self.cpu = self.jvm.cpu_s() + time.process_time() - self._c0
            self.gc = self.jvm.gc_s() - self._g0
            self.task_cpu = self.jvm.task_cpu_s() - self._k0
        return False
