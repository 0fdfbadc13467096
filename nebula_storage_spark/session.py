"""SparkSession factory tuned for the engine.

Local-mode testing uses local[$SPARK_GRAFT_CPUS]; the same config block is
what we would ship on a real cluster (AQE on, adaptive coalesce, Arrow for
the rare Pandas-UDF path). Shuffle partitions default to the core count
locally; on a 1000-executor cluster this would be set to ~2-3x total cores
or left to AQE's initial-partition-num.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical RAM (MemTotal in /proc/meminfo), else 48g. A
    heap sized past the host lets the JVM defer collection until the
    kernel kills the driver: a 48g heap on a 15 GB host was OOM-killed
    at 14.8 GB RSS; half of RAM leaves room for the JVM's off-heap,
    the Python workers and the page cache."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "48g"


def get_spark(app_name: str = "nebula_storage_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalesce, skew-join splitting — the scale posture for
        # super-node skew (SURVEY §4 "hard parts").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
