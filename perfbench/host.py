"""Host guard, process-tree memory sampling and the Spark session
set-up the benchmark times."""

from __future__ import annotations

import glob
import os
import signal
import statistics
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def cpu_times() -> list[int]:
    """Machine-wide CPU jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_cpu(root: int) -> int:
    """CPU jiffies used so far by ``root``'s process tree, including
    children it has reaped (Python workers)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rfind(b")") + 2:].split()
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total


def foreign_share(before: list[int], after: list[int], own: int) -> float:
    """Share of the machine's CPU time that processes outside this run
    used (busy time minus the run's own, over all time)."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4] - d[7]
    return max(0.0, busy - own) / max(1, sum(d))


def spark_jvm_count() -> int:
    """Live Spark JVMs on this machine, by a /proc scan."""
    n = 0
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as fh:
                if b"org.apache.spark" in fh.read():
                    n += 1
        except OSError:
            continue
    return n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(p, "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        rest = stat[stat.rfind(b")") + 2:].split()
        kids.setdefault(int(rest[1]), []).append(int(p.split("/")[2]))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total / (1024.0 * 1024.0)


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a
    background thread while enabled; keeps the peak."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def warm_up(spark) -> None:
    """First action plus one Python worker per core."""
    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 100, numPartitions=n).mapInPandas(
        lambda it: it, "id long"
    ).collect()


def start_session(restarts: int):
    """Set Spark up ``1 + restarts`` times and keep the last session.

    The first set-up launches the JVM; each restart stops the session
    and builds a new one in the same JVM.  Every set-up is
    ``session.get_spark`` + first action + Python-worker warm-up.
    Returns ``(spark, [seconds per set-up], seconds in get_spark for
    the first)``."""
    from mongo_es_spark.session import get_spark

    times, spark, cold_get = [], None, 0.0
    for i in range(1 + restarts):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        if i == 0:
            cold_get = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        warm_up(spark)
        times.append(time.perf_counter() - t0)
    return spark, times, cold_get


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until every process they started
    (the JVM, its Python daemon and workers) has ended."""
    from pyspark import SparkContext

    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:stat.rfind(b")") + 3] != b"Z"


def median(values):
    return statistics.median(values) if values else float("nan")
