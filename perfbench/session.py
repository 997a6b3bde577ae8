"""Host-aware Spark session for the benchmark.

``local[N]`` with N = the CPUs this process may run on, a fixed-size
driver heap capped below physical RAM, and ``recommended_conf`` applied
unchanged.
Every file Spark or the JVM writes goes under the run's work directory.
"""

from __future__ import annotations

import os

HEAP_CAP_MB = 4096


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """The heap cap, or a third of physical RAM on a smaller host."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return min(HEAP_CAP_MB, ram_mb // 3)


def start_session(work_dir: str):
    """Start the benchmark's SparkSession; JVM scratch files stay in
    ``work_dir``."""
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    # SPARK_LOCAL_DIRS, when set by the caller's environment, would take
    # precedence over spark.local.dir and put shuffle files elsewhere
    os.environ["SPARK_LOCAL_DIRS"] = local_dir

    from pyspark.sql import SparkSession

    from valideer_spark.conf import recommended_conf

    cpus = host_cpus()
    heap_mb = driver_heap_mb()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("valideer-spark-perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # -Xms = -Xmx: the full GC before each iteration (HeapPeak)
            # would otherwise shrink the heap, and the young generation
            # with it; that slowed table_constraints iterations by 15-35%
            # and made the old-generation peak vary by 25% (README.md)
            f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        )
    )
    for key, value in recommended_conf(target_partitions=cpus).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    """Process id of the session's JVM (the py4j gateway child)."""
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing from /proc/{pid}/status")


class HeapPeak:
    """Peak old-generation heap of the session's JVM over one iteration.

    :meth:`start` runs a full GC, so the old generation holds only live
    data, and resets the pool's peak; :meth:`peak_mb` then reads the most
    the old generation held since: live data plus what the iteration
    promoted or allocated as large objects before a collection freed it.
    """

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._system = jvm.java.lang.System
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        old = [p for p in pools if "Old Gen" in p.getName()]
        if not old:
            raise RuntimeError("the JVM has no old-generation heap pool")
        self._pool = old[0]

    def start(self) -> None:
        self._system.gc()
        self._pool.resetPeakUsage()

    def peak_mb(self) -> float:
        return self._pool.getPeakUsage().getUsed() / 2**20

