"""Process, host and JVM probes read around timed calls.

* CPU: utime + stime of a process from ``/proc/<pid>/stat``.  Time the
  hypervisor steals from the guest is not charged to any process, so a
  CPU cost stays put when steal inflates wall time.
* Steal: the ``steal`` share of all host CPU time in ``/proc/stat``.
* JVM: cumulative JIT compilation and garbage-collection time from the
  JVM's management beans, through the Spark session's py4j gateway.
* Retained heap: heap in use after a full collection, from the JVM's
  memory bean.  It is what the JVM still holds, whatever size the heap
  was given.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def process_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already counted in user time
    return vals[7], sum(vals[:8])


class Probe:
    """Cumulative readings of one Spark JVM and its Python driver.

    ``read()`` returns a dict of cumulative counters; the difference of
    two readings covers the interval between them."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mf = jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()

    def read(self) -> dict[str, float]:
        steal, total = host_ticks()
        return {
            "cpu_s": process_cpu_s(self.jvm_pid) + process_cpu_s(os.getpid()),
            "jit_s": self._comp.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "steal_ticks": steal,
            "host_ticks": total,
        }

    def retained_heap_mb(self) -> float:
        """Heap in use after a full collection.  The second collection
        comes after Spark's context cleaner has had a moment to drop the
        blocks of the RDDs, shuffles and broadcasts the first one freed."""
        self._mem.gc()
        time.sleep(1.0)
        self._mem.gc()
        return self._mem.getHeapMemoryUsage().getUsed() / 2**20

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        d = {k: b[k] - a[k] for k in ("cpu_s", "jit_s", "gc_s")}
        d["steal_frac"] = (b["steal_ticks"] - a["steal_ticks"]) / max(
            b["host_ticks"] - a["host_ticks"], 1
        )
        return d
