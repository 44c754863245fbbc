"""Machine-side readings that let a slow run be traced to the box
rather than the code: load average, CPU steal, a fixed canary, and the
peak resident memory of the driver and its JVM."""

from __future__ import annotations

import os
import time

import numpy as np


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class BoxMeter:
    """Readings at the start and end of a run."""

    def __init__(self):
        self.load_before = os.getloadavg()[0]
        self._steal0, self._total0 = _cpu_jiffies()
        self.canary_before: dict[str, float] = {}
        self.canary_after: dict[str, float] = {}

    def finish(self) -> dict[str, float]:
        """Every reading, named as the per-layer metrics name them."""
        steal, total = _cpu_jiffies()
        d_total = max(total - self._total0, 1)
        return {
            "box.load1_before": self.load_before,
            "box.load1_after": os.getloadavg()[0],
            "box.steal_pct": 100.0 * (steal - self._steal0) / d_total,
            **{f"canary_before.{k}": v for k, v in self.canary_before.items()},
            **{f"canary_after.{k}": v for k, v in self.canary_after.items()},
        }


def canary(spark) -> dict[str, float]:
    """A fixed numpy loop and a trivial Spark job, in ms. Their code
    never changes, so a slow reading means a slow box."""
    a = np.random.default_rng(0).random(1 << 20)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a)
    t1 = time.perf_counter()
    spark.range(100_000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    return {"numpy_ms": (t1 - t0) * 1000.0, "spark_ms": (t2 - t1) * 1000.0}


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the driver JVM, in MB."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0
