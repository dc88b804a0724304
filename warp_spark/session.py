"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration (AQE, UTC session timezone, Arrow, tuned shuffle
partitions) is what we would ship to a 1000-executor cluster — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(phys_bytes: int | None) -> str:
    """Default ``spark.driver.memory``: 60 % of physical memory in whole
    GiB, at least 1g and at most 16g. A local driver JVM is the whole
    engine, and a heap larger than the box can hold loses the JVM under
    load. Unknown physical memory gives the 16g cap."""
    if not phys_bytes:
        return "16g"
    return f"{max(1, min(16, int(phys_bytes * 0.6) >> 30))}g"


def _phys_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return None


def get_spark(
    app_name: str = "warp-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the deployment contract:
      - AQE on (runtime re-planning, skew-join handling, partition
        coalescing) — at 100 TB this is what fixes skewed shuffles.
      - UTC session timezone (oracle comparisons, Warp date semantics:
        reference stores dates as seconds since 2001-01-01 UTC,
        WarpCore/Sources/Value.swift:43-45).
      - Arrow enabled for any pandas-UDF path.
      - shuffle partitions sized to the local core count rather than the
        200 default; on a real cluster AQE coalesces as needed.
    """
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except (TypeError, ValueError):
            shuffle_partitions = max((os.cpu_count() or 8) * 2, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("WARP_SPARK_DRIVER_MEM") or driver_memory(_phys_bytes()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.caseSensitive", "false")
        # the events table carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as long (see events_df for conversion)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

