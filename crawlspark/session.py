"""SparkSession factory with the engine's standard configuration.

``get_spark`` pins what the engine needs and Spark does not default to:
shuffle partitions sized to the cores, the driver heap, a UTC session
time zone, Arrow for every pandas-UDF boundary, and no UI; and two
settings that measurably lower peak memory at local[4]. AQE (with
partition coalescing and the skew join) and the runtime join Bloom
filter are Spark's defaults; tests/test_session.py checks they stay on.
In local mode the driver holds all executor memory; on a real cluster
the same conf comes from spark-submit (tools/submit_crawl.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(mem_total_bytes: int | None = None) -> str:
    """The driver heap when the caller names none: 24 GiB, capped at half
    the box's physical memory (``mem_total_bytes``, default MemTotal) so
    a full heap leaves the other half to the Python workers and the OS."""
    if mem_total_bytes is None:
        mem_total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf(
            "SC_PAGE_SIZE"
        )
    return f"{min(24 << 10, mem_total_bytes // 2 >> 20)}m"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app: str = "crawlspark",
    driver_mem: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A ``local[cores]`` session. ``cores`` defaults to SPARK_GRAFT_CPUS,
    else to the CPUs this process may run on; ``shuffle_partitions`` to
    ``cores``. CRAWLSPARK_DRIVER_MEM overrides ``driver_mem``, whose
    default is ``default_driver_mem()``. CRAWLSPARK_EXTRA_JAVA_OPTS is
    passed to the driver JVM, and ``extra_conf`` is applied last."""
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
        )
    if shuffle_partitions is None:
        shuffle_partitions = cores
    driver_mem = os.environ.get(
        "CRAWLSPARK_DRIVER_MEM", driver_mem or default_driver_mem()
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config(
            "spark.driver.extraJavaOptions",
            # local[4] crawlbench with 4 MiB regions: peak RSS +14% (dirty)
            "-XX:G1HeapRegionSize=32m "
            + os.environ.get("CRAWLSPARK_EXTRA_JAVA_OPTS", ""),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        # local[4] crawlbench at the default 0.5: peak RSS +2-4% (both)
        .config("spark.memory.storageFraction", "0.7")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    # opt-in event logging: set CRAWLSPARK_EVENTLOG_DIR for a
    # `python bench.py` run, then read the log with
    # bench/analyze_eventlog.py (stage gaps = driver-serial time; stage
    # times = parallel work)
    evlog = os.environ.get("CRAWLSPARK_EVENTLOG_DIR")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evlog)
            .config("spark.eventLog.compress", "false")
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
