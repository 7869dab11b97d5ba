"""Process environment, Spark session set-up and resource sampling.

Everything the benchmark writes stays under its work directory inside
the checkout: generated inputs, Spark scratch space, the JVM's and
Python's temp files and, in the traced run, the Spark event log.
``configure`` must run before pyspark or the package is imported,
because the package reads its session settings at import time.
"""

from __future__ import annotations

import os
import threading
import time

WARM_ROWS = 20_000
#: Driver JVM heap limit. The session default (8g) lets the heap grow
#: to whatever the garbage collector finds convenient, which makes
#: resident memory vary by gigabytes between identical runs and crowds
#: a small machine; the workloads need far less.
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure(work: str, trace: bool) -> None:
    """Point every scratch location at ``work`` and size the session to
    this machine: ``local[<cores>]`` with as many shuffle partitions and
    a ``DRIVER_MEM`` heap."""
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # -XX:-UsePerfData: the JVM would otherwise write its perf-data file
    # under /tmp whatever java.io.tmpdir says
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData'"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp


def write_warm_table(path: str) -> None:
    """A small two-file parquet table the warm-up scans."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i in range(2):
        k = np.arange(i * WARM_ROWS, (i + 1) * WARM_ROWS)
        pq.write_table(pa.table({"k": k % 97, "v": k * 0.5}),
                       os.path.join(path, f"part-{i}.parquet"))


def start_session():
    """Create the engine session the way an application does."""
    from etl_work_flow_for_big_data_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, warm_table: str) -> None:
    """Touch what every workload needs before its first timed call:
    whole-stage codegen and the parquet reader (an aggregate over a
    parquet scan), the shuffle path, and one Python worker per core
    (an Arrow ``mapInArrow`` over ``cores()`` partitions)."""
    from pyspark.sql import functions as F

    rows = (spark.read.parquet(warm_table).groupBy("k")
            .agg(F.sum("v").alias("v")).collect())
    if len(rows) != 97:
        raise RuntimeError(f"warm-up aggregate returned {len(rows)} rows")
    def identity(batches):
        yield from batches

    n = cores()
    out = spark.range(0, 64 * n, 1, n).mapInArrow(identity, "id long").count()
    if out != 64 * n:
        raise RuntimeError(f"warm-up Python stage returned {out} rows")


def timed_setup(warm_table: str):
    """``(spark, start_s, warm_s)`` for one session set-up."""
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    warm_up(spark, warm_table)
    return spark, t1 - t0, time.perf_counter() - t1


class RssSampler:
    """Samples the summed resident memory of every descendant process
    (the JVM and its Python workers) until stopped; ``peak_mb``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, descendants_rss_kb(me))
            self._stop.wait(self.interval)


def _stat(pid: str) -> tuple[int, int] | None:
    """``(ppid, rss_kb)`` of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)


def descendants_rss_kb(root: int) -> int:
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                procs[int(pid)] = st
    total, frontier = 0, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, rss) in procs.items():
            if ppid == parent:
                total += rss
                frontier.append(pid)
    return total


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters from ``/proc/stat``
    (user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: time this benchmark could not use."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
