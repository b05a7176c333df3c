"""Host and configuration record stored with every benchmark result.

A run is marked dirty when the host was not idle: more than a quarter of
the cores busy over a short sample as it started, another JVM alive before
or after it, or the hypervisor stealing more than 5% of CPU time while it
ran. Any of these has shifted this engine's timings by up to 2x.
The 1-minute load average is recorded too, but it lags: after a previous
run it stays high for minutes on an idle host, so it does not decide.
"""

from __future__ import annotations

import os
import platform
import time

# hypervisor steal above this share of CPU time during the run marks it dirty
STEAL_DIRTY = 0.05


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _busy(t0: list[int], t1: list[int]) -> tuple[float, float]:
    """(share of CPU time busy, share stolen by the hypervisor) between two
    /proc/stat samples."""
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d))
    return (total - d[3] - d[4]) / total, d[7] / total


def busy_cores(seconds: float = 0.25) -> float:
    """Cores busy (user + system + steal) over ``seconds``."""
    t0 = _cpu_ticks()
    time.sleep(seconds)
    return os.cpu_count() * _busy(t0, _cpu_ticks())[0]


def _ppid(pid: str) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[1]
    except OSError:
        return None


def other_jvms() -> list[int]:
    """Pids of live ``java`` processes that are not descendants of this one."""
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if not argv0.endswith(b"java"):
            continue
        p: str | None = pid
        while p not in (None, "0", "1", me):
            p = _ppid(p)
        if p != me:
            out.append(int(pid))
    return out


def snapshot() -> dict:
    return {
        "loadavg": list(os.getloadavg()),
        "busy_cores": busy_cores(),
        "other_jvms": other_jvms(),
        "cpu_ticks": _cpu_ticks(),
    }


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def record(spark, before: dict, after: dict) -> dict:
    import pyspark

    n = cpus()
    steal = _busy(before["cpu_ticks"], after["cpu_ticks"])[1]
    dirty = (
        before["busy_cores"] > n / 4
        or steal > STEAL_DIRTY
        or bool(before["other_jvms"] or after["other_jvms"])
    )
    sc = spark.sparkContext
    return {
        "nproc": n,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "before": before,
        "after": after,
        "steal_share": steal,
        "dirty": dirty,
    }
