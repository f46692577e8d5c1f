"""SparkSession construction with scale-aware defaults.

Local mode is a correctness proxy only; every config below is chosen to
also be the right call on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for any
Python-exchange path, UTC session time zone so timestamp semantics match
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """Cores this process may run on; SPARK_GRAFT_CPUS overrides."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _host_driver_mem() -> str:
    """Driver heap: two fifths of physical RAM, at least 1g, leaving
    the rest to Python workers, off-heap buffers and the OS (a heap
    sized past the host let one JVM grow until the kernel ended it
    mid-sweep); SPARK_GRAFT_DRIVER_MEM overrides."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram * 2 // 5 >> 30)}g"


# Directory that holds the package. Python workers start in the JVM's
# working directory and import the package only through PYTHONPATH,
# which they inherit from the JVM's environment.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "real_time_data_anomaly_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    The defaults fit the host: ``local[N]`` over the cores this process
    may use, as many shuffle partitions, and a heap from physical RAM
    (:func:`_host_cpus`, :func:`_host_driver_mem`). At real cluster scale
    the same knobs apply; only ``master`` and the shuffle-partition
    count (sized ~2-3x total cores, with AQE coalescing the excess)
    change.

    Puts the package root on PYTHONPATH first, so Python workers import
    the package from any working directory. Like the memory setting,
    this reaches the workers only when this call launches the JVM.
    """
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    cpus = _host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Local mode = one JVM; driver memory IS executor memory. The
        # 1g default OOMs any real shuffle. Takes effect only when this
        # call launches the JVM (ignored on an already-running session).
        .config("spark.driver.memory", _host_driver_mem())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert SMJ->broadcast when runtime stats allow, split skewed
        # partitions. Essential at 100 TB, harmless at sf0.01.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for any pandas_udf / applyInPandas / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # Whole-stage-codegen class cache (STATIC conf — takes effect
        # only when this call launches the JVM). The 100-entry default
        # thrashes on mixed workloads: a session cycling through this
        # engine's full registry (bench/verify: ~180 queries, several
        # generated classes each) evicts every query's classes between
        # its own runs, re-paying janino compilation per sample —
        # measured as a consistent ~2-3 s in-bench overhead on the
        # iterative queries (pagerank's 5-iteration loop alone
        # generates ~15 stages). Sized for the registry sweep; a few
        # KB of bytecode per entry, so ~tens of MB of heap.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
