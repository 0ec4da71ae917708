"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster via spark-submit --py-files (AQE on, skew-join
mitigation on, Arrow batching for all pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """A quarter of the host's RAM, clamped to 1-8g: local mode runs the
    executors inside the driver JVM, and the rest of the host stays
    free for the Python workers."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(8, int(ram_gb // 4)))}g"


def get_spark(app: str = "rasters-rs-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session on local[cores]. ``cores`` defaults to SPARK_GRAFT_CPUS,
    else the CPUs this process may run on; the driver memory is
    SPARK_DRIVER_MEMORY, else a quarter of the host's RAM (1-8g)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS",
                                   len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()

