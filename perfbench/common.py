"""Shared plumbing: process environment, Spark session, host samplers, stats.

Everything the benchmark writes goes under one work directory inside the
checkout (`.bench_work/`), including Spark's local dirs and the JVM's
temp dir, and is removed when the run ends.
"""

from __future__ import annotations

import math
import os
import threading
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "azure_iot_realtime_data_pipeline_spark"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def prepare_env(work_dir: str) -> dict:
    """Size Spark to the host and keep every file it writes in `work_dir`.

    Must run before the JVM starts: `get_spark` reads SPARK_GRAFT_CPUS and
    SPARK_DRIVER_MEMORY, and the Python workers Spark forks inherit
    PYTHONPATH (without the checkout root on it every
    `applyInPandasWithState` task fails to import the package).
    """
    cores = host_cores()
    # a quarter of host RAM, 1-2 GiB: the machine is shared, and a larger
    # heap only lets the JVM's footprint wander with its collector's timing
    spark_gb = int(max(1, min(2, host_mem_gb() // 4)))
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(path),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": f"{spark_gb}g",
            "SPARK_LOCAL_DIRS": local_dir,
            "TMPDIR": tmp_dir,
            # the sync worker's watermark maps naive collected timestamps
            # to UTC, so Python's local zone must be UTC as well
            "TZ": "UTC",
            # pandas deprecation noise from Spark's own Arrow serializer
            "PYTHONWARNINGS": "ignore::FutureWarning",
        }
    )
    time.tzset()
    return {"cores": cores, "spark_memory_gb": spark_gb}


def spark_conf(work_dir: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work_dir, "tmp"),
    }


def new_spark(work_dir: str):
    """Start the session through the package's own factory."""
    from azure_iot_realtime_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------------- host


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_mb(root_pid: int) -> dict[str, float]:
    """Proportional set size in MB of `root_pid` and all its descendants
    (JVM, Python daemon and workers), summed per process name. PSS splits
    each shared page between the processes mapping it, so workers forked
    from one daemon are not counted several times over, as summed RSS
    would."""
    kids = _children()
    todo, by_name = [root_pid], {}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except OSError:
            continue  # the process exited meanwhile
        by_name[name] = by_name.get(name, 0.0) + kb / 1024
    return by_name


class MemorySampler:
    """Samples the process tree's PSS every `period` seconds; keeps the peak."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_mb = 0.0
        self.peak_by_name: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_name = tree_pss_mb(pid)
            total = sum(by_name.values())
            if total > self.peak_mb:
                self.peak_mb, self.peak_by_name = total, by_name
            self._stop.wait(self.period)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


#: CPU steal (percent of the host's CPU time over a measured window) above
#: which a run's timings are marked as taken on a contended host
STEAL_PCT = 2.0


def cpu_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed single-threaded pure-Python loop: the
    host's speed at the time of the run, which CPU steal does not show
    when co-tenants slow the shared cores in other ways."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return 1000.0 * median(times)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies since boot from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = list(map(int, fh.readline().split()[1:9]))
    return vals[7], sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


# -------------------------------------------------------------------- spark


def spark_counters(spark) -> dict[str, float]:
    """Cumulative task counters of the live application, read from the
    SparkContext's status store (works with the UI disabled)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    out = {
        "shuffle_write_bytes": 0.0,
        "shuffle_read_bytes": 0.0,
        "tasks": 0.0,
        "executor_run_s": 0.0,
        "jvm_gc_s": 0.0,
    }
    for i in range(execs.size()):
        e = execs.apply(i)
        out["shuffle_write_bytes"] += e.totalShuffleWrite()
        out["shuffle_read_bytes"] += e.totalShuffleRead()
        out["tasks"] += e.completedTasks()
        out["executor_run_s"] += e.totalDuration() / 1000.0
        out["jvm_gc_s"] += e.totalGCTime() / 1000.0
    return out


def counter_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {f"spark.{k}": after[k] - before[k] for k in before}


# -------------------------------------------------------------------- stats


def pct(values, q: float) -> float:
    """q-th percentile (linear interpolation); 0.0 for an empty sample."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return pct(values, 50)


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs; 0.0 when undefined."""
    x = np.asarray(xs, dtype=float)
    y = np.asarray(ys, dtype=float)
    if len(x) < 2 or float(np.ptp(x)) == 0.0:
        return 0.0
    return float(np.polyfit(x, y, 1)[0])


def finite(v: float) -> float:
    if not math.isfinite(v):
        raise ValueError(f"non-finite metric value {v!r}")
    return v
