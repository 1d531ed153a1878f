"""SparkSession factory tuned for this engine.

Local-mode defaults come from the host (see host_defaults): one task
slot per core this process may run on, and a driver heap of 3/8 of
physical RAM. Every knob is chosen to also be the right *shape* at
cluster scale:
AQE on (runtime partition coalescing + skew-join handling), shuffle
partitions sized to parallelism, Arrow enabled for the Pandas-UDF
paths, UTC session timezone so results compare bit-for-bit against
the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """(cores, driver heap) for a local session on this host.

    Cores are the CPUs this process may be scheduled on (cpuset-aware,
    unlike os.cpu_count). The heap is 3/8 of physical RAM, the share the
    old fixed 48g default took of the 128 GiB host it was tuned for; in
    local mode the driver heap also holds every executor's blocks, and
    the rest is left to the Python workers and the OS."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return cpus, f"{max(ram * 3 // 8 >> 20, 512)}m"


def get_spark(
    app_name: str = "mpi_word_count_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    `cpus` sets the local master's task slots, spark.default.parallelism
    and the default shuffle width together, as `mpirun -np N` sets the
    reference's worker count. Env overrides of the host_defaults():
    SPARK_GRAFT_CPUS (cpus when not given), SPARK_GRAFT_DRIVER_MEM
    (driver heap).
    """
    host_cpus, host_heap = host_defaults()
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", host_cpus))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_heap)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ContextCleaner is weak-reference-driven: on a large heap that
        # never full-GCs, shuffle files / broadcast blocks from
        # completed jobs are never reclaimed and a long session slows
        # progressively (measured: a 7.6s fresh-session query ran 21s
        # mid-bench and 128s at bench end). The default periodic-GC
        # interval (30min) outlives a whole bench; 5min bounds the
        # litter. Same knob a long-running cluster driver needs.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
