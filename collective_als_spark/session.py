"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads, one JVM). The config choices are nonetheless cluster-shaped:
AQE on (runtime coalesce + skew-join handling), Arrow on (pandas-UDF
solver path), UTC session timezone (duckdb-oracle comparison), and a
shuffle-partition count that callers can widen for real clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of the
    machine's physical RAM, at least 1 GiB and at most 48 GiB, so the JVM
    cannot grow past the memory the host has."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, ram // 2 // 1024**3))}g"


def get_spark(
    app_name: str = "collective_als_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS);
        # Spark has no nanos timestamp — read as long, convert in loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
