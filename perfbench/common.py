"""Pieces every workload shares: the Spark session's life cycle, the host
control, peak RSS and percentiles."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def get_session():
    """The engine's own session factory, timed. Returns (spark, seconds)."""
    from cassandrastack_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def warm_up(spark) -> None:
    """A fixed small shuffle-and-join job that absorbs the session's
    first-job costs, so set-up ends with a session ready to serve."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, numPartitions=4).withColumn("k", F.col("id") % 97)
    df.groupBy("k").agg(F.sum("id")).join(df.select("k").distinct(), "k").count()


def stop_session(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid():
    """Process id of the JVM this process launched, if any."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak resident set of this driver process plus the JVM, from /proc."""
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid())


class HostControl:
    """``host.calib_s``: a fixed CPU loop plus a fixed tiny Spark scan, timed
    after set-up and at the end of the run. The inputs never change, so a
    shift in this number is the host, not the code."""

    def __init__(self, spark, work_dir: str):
        self.path = os.path.join(work_dir, "calib.parquet")
        n = 100_000
        pq.write_table(pa.table({"a": np.arange(n, dtype=np.int64),
                                 "b": np.arange(n, dtype=np.float64) / 7.0}),
                       self.path, row_group_size=25_000)
        self.samples: list[float] = []
        self._scan(spark)  # first use of the scan plan is not the host

    def _scan(self, spark) -> None:
        from pyspark.sql import functions as F

        spark.read.parquet(self.path).agg(F.sum("a"), F.max("b")).collect()

    def measure(self, spark) -> None:
        t0 = time.perf_counter()
        for _ in range(4):
            cpu_loop()
        self._scan(spark)
        self.samples.append(time.perf_counter() - t0)


def cpu_ticks() -> tuple[float, float]:
    """Seconds, summed over this machine's vCPUs, spent busy (user, nice,
    system, irq, softirq) and stolen (held off their physical cores by the
    hypervisor): the columns of ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / hz, v[7] / hz


def stolen_share(before, after) -> float:
    """Share of the vCPU time wanted between two ``cpu_ticks()`` readings
    that the hypervisor took away. It does not depend on how many vCPUs
    the run kept busy, so a stretch by it holds for one thread or four."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def cpu_loop() -> float:
    """Seconds for a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(50_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest whole percentile (nearest-rank, p50 or above) that still
    has at least ten samples beyond it, as ``(value, percentile)``; the
    maximum, as p100, when too few samples leave no such percentile."""
    v = sorted(xs)
    n = len(v)
    for p in range(99, 49, -1):
        idx = max(0, math.ceil(p / 100 * n) - 1)
        if n - (idx + 1) >= 10:
            return v[idx], p
    return (v[-1] if v else 0.0), 100
