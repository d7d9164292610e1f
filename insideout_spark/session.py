"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """`SPARK_DRIVER_MEMORY`, else min(24g, 60% of physical RAM).

    In local mode the one JVM hosts the driver AND every executor thread,
    so the heap is sized to the machine (guide §5). 24g on a 128 GiB box
    left headroom for 32 concurrent tasks' sort/agg buffers without
    old-gen GC thrash (with 8g, repeated dedup_components degraded
    10 -> 54 s as the heap filled). On a smaller host without swap a 24g
    heap invites an OOM kill where there should be GC, hence the RAM cap.
    On a real cluster spark.executor.memory governs the workers and this
    value is irrelevant to data work."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        ram = 0
    mb = int(ram * 0.6) >> 20
    return f"{mb}m" if 0 < mb < 24 << 10 else "24g"


def get_spark(app_name: str = "insideout-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE (runtime re-plan + skew-join splitting), Arrow
    (vectorized pandas UDF transfer), and sane shuffle sizing. On a real
    cluster these same configs apply; master is only forced in local
    runs/tests."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
