"""Environment record attached to every result: core counts, BLAS/OMP
thread variables, pyspark, Java and Python versions, peak memory, and the
machine yardstick that bench.py also records (a 2048x2048 float64 matmul
and a 5e6-step pure-Python loop)."""

from __future__ import annotations

import os
import platform
import time

THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time from /proc/stat, in clock ticks: busy, idle and
    stolen (time the hypervisor gave to other guests)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return {"busy": sum(f[0:3]) + sum(f[5:7]), "idle": f[3] + f[4], "steal": f[7]}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of CPU time stolen from this guest between two cpu_ticks()."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def yardstick() -> dict[str, float]:
    import numpy as np

    rng = np.random.default_rng(0)
    a, b = rng.random((2048, 2048)), rng.random((2048, 2048))
    a @ b
    t0 = time.perf_counter()
    a @ b
    mm = time.perf_counter() - t0
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return {"matmul2048_s": mm, "pyloop5e6_s": time.perf_counter() - t0}


def record(spark, cores_used: int) -> dict:
    import pyspark

    props = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "cores_affinity": cores(),
        "cores_used": cores_used,
        "threads": {v: os.environ.get(v) for v in THREAD_VARS},
        "pyspark": pyspark.__version__,
        "java": props.getProperty("java.runtime.version"),
        "python": platform.python_version(),
        "yardstick": yardstick(),
    }
