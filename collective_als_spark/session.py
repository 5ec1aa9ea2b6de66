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

_MEM_UNITS = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _mem_bytes(s: str) -> int:
    """JVM memory string ('8g', '512m', '1024') -> bytes; 0 if unparseable."""
    s = s.strip().lower()
    try:
        if s and s[-1] in _MEM_UNITS:
            return int(float(s[:-1]) * _MEM_UNITS[s[-1]])
        return int(s)
    except ValueError:
        return 0


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
    # Heap pre-touch is OPT-IN (r15 verdict #3): the -Xms8g
    # -XX:+AlwaysPreTouch default helped one stall-prone host but
    # tilted the acceptance bench regressed and made every test JVM
    # pre-fault 8 GiB. Hosts with slow first-touch fault paths can set
    # SPARK_GRAFT_XMS (e.g. "8g"; production executors would set
    # Xms = Xmx). The flag is skipped when it would exceed the
    # configured driver memory (Xms > Xmx fails JVM startup).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    xms = os.environ.get("SPARK_GRAFT_XMS", "")
    jvm_opts = ""
    if xms not in ("", "0") and _mem_bytes(xms) <= _mem_bytes(driver_mem):
        jvm_opts = f"-Xms{xms} -XX:+AlwaysPreTouch"
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
        if k == "spark.driver.extraJavaOptions" and jvm_opts:
            v = f"{jvm_opts} {v}"  # merge, don't silently drop the pre-touch
        builder = builder.config(k, v)
    if jvm_opts and "spark.driver.extraJavaOptions" not in (extra_conf or {}):
        builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
