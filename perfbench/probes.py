"""Host, JVM and process probes. Each reads counters the OS or the JVM
already keeps; none adds work to the program being measured."""

from __future__ import annotations

import os
import resource

USER_HZ = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Host-wide CPU steal so far (seconds summed over CPUs)."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / USER_HZ if len(fields) > 8 else 0.0


def load1() -> float:
    return os.getloadavg()[0]


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Jvm:
    """Cumulative JVM counters through the driver's py4j gateway."""

    def __init__(self, spark) -> None:
        self._mf = spark._jvm.java.lang.management.ManagementFactory
        self.pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size())) / 1000.0

    def cpu_s(self) -> float:
        """User plus system CPU of the JVM process so far."""
        with open(f"/proc/{self.pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / USER_HZ

    def heap_peak_mb(self) -> float:
        pools = self._mf.getMemoryPoolMXBeans()
        total = 0
        for i in range(pools.size()):
            pool = pools.get(i)
            if pool.getType().toString() == "Heap memory":
                total += pool.getPeakUsage().getUsed()
        return total / 2**20

    def peak_rss_mb(self) -> float:
        """Peak resident set of the JVM plus this Python process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (_vm_hwm_kb(self.pid) + py_kb) / 1024.0
