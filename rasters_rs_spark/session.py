"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config block is what we'd ship
to a 1000-executor cluster via spark-submit --py-files (AQE on, skew-join
mitigation on, Arrow batching for all pandas UDFs).

Four fixed costs are paid once, or not at all, rather than per
operation or per task:

- Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``) holds
  1000 generated classes instead of its default 100. One
  ``zonal_curation`` benchmark operation (zonal and chunked stats, a
  shuffled cell join, then dedup, top-k, retrieval eval, minhash and
  batch bucketing) generates about 175 classes, so with 100 entries
  each class was evicted before the next operation reused it and every
  operation compiled them all again: 1.1-1.4 s of Janino work plus JIT
  work on the fresh classes. With them cached a repeat compiles about 6.
  1000 keeps several such operations. The cache lives in the driver
  JVM: the classes of a seven-operator test pipeline averaged 8.7 KB of
  source (the cache key) and 5.9 KB of bytecode each, so a full cache
  holds tens of MB.
- Python workers re-read a zip archive's directory only when the
  archive changed. Every PySpark task calls
  ``importlib.invalidate_caches()``, which on CPython 3.10-3.12 makes
  each of the ~16 zipimporters a worker holds over ``pyspark.zip``
  re-read all 1328 entries: 220-270 ms of CPU per task on a reused
  worker. ``rasters_rs_spark.zipcache`` replaces that with a check of
  the archive's ``(st_mtime_ns, st_size)``; a changed archive (a new
  ``--py-files`` zip under the same name, say) is still re-read. The
  package installs it when it is first imported inside a Python worker,
  which unpickling an engine UDF does as soon as the UDF refers to any
  of the package's modules or functions, in local mode and under
  ``spark-submit --py-files`` alike; the hook then stays for the
  worker's later tasks. It does nothing in the driver, and the
  installed pyspark is left unchanged.
- The same hook freezes each Python worker's heap once, at the start
  of its next task, so the daemon's ``gc.collect()`` after every task
  stops walking the ~74k objects of the worker's imports: a reused
  worker's CPU per task falls from 30-45 ms to 10 ms.
- Small driver-built tables go through ``sources.io.local_table``: one
  ``pyarrow.Table``, planned as a ``LocalTableScan`` rather than a
  Python RDD whose every read (a broadcast included) runs Python tasks.
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
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()

