"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan + skew-join backstop),
explicit shuffle partitions sized to cores, Arrow enabled for every
pandas-UDF boundary, UTC. In local mode the driver holds all executor
memory; on a real cluster the same builder is driven by spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(mem_total_bytes: int | None = None) -> str:
    """The driver heap when the caller names none: the 24 GiB sweet spot
    below, capped at half the box's physical memory (``mem_total_bytes``,
    default MemTotal). The heap is pre-committed (-Xms), so a 24 GiB
    default cannot start the JVM on a smaller box."""
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
    """Note on driver_mem — the heap has a SWEET SPOT, measured on the
    160k-page crawl at 16 cores (identical work, identical checksum):

        12g → 159-190s  (storage eviction storm: concurrent tasks'
                         execution memory evicts the pages/parsed caches,
                         recomputing python parse + rescanning parquet;
                         JVM CPU inflates 10x)
        24g →  80s      (caches fit, GC pauses short)
        40g+ → 270-335s (G1 young pauses grow with the heap and starve
                         every pandas-UDF worker of CPU)

    Size the heap to the cached working set (pages + parsed rounds), not
    to the machine; GC threads are capped below so collections cannot
    occupy every core. With no ``driver_mem`` (and no
    CRAWLSPARK_DRIVER_MEM) the heap is ``default_driver_mem()``."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    driver_mem = os.environ.get(
        "CRAWLSPARK_DRIVER_MEM", driver_mem or default_driver_mem()
    )
    # GC capacity must scale with the level's core allotment the way a
    # real node's does (a 4N-node cluster brings 4x the GC threads).
    # The old formula (min(8, max(4, cores//2))) clamped local[2] AND
    # local[8] to the same 4 threads — the wide level got 1/4 the GC
    # capacity per allocating task thread, so every stop-the-world pause
    # (which stalls ALL task threads) ran un-sped-up at width: paired
    # solo runs on the 400k-page crawl measured 122 task-GC-s at
    # local[8] vs 24 at local[2] (same ~12-15 s pause WALL, but a pause
    # at 8 slots wastes 4x the core-seconds — a level-independent Amdahl
    # term charged to the scaling gate). 2 threads per slot = the
    # cpuset/core budget the level owns.
    gc_threads = max(2, min(2 * cores, 16))
    # Heap posture, from paired GC logs on the 400k-page crawl (r4):
    # - -Xms == -Xmx: without it the heap grows 5.5G -> 14.8G across
    #   round 0 while 8+ tasks allocate concurrently; G1 runs undersized
    #   young collections the whole way (1.2-5.3 s pauses, GCLocker
    #   stalls) and the first round's stages inflate 7-10x in task CPU.
    #   Pre-committing the heap removed the round-0 churn deterministically.
    # - 32 MiB G1 regions: the default 4 MiB region (15g heap) makes every
    #   ~5 MiB Arrow batch a humongous allocation; one crawl logged 14
    #   humongous-triggered concurrent-start GCs. 32 MiB regions lift the
    #   humongous threshold to 16 MiB -> zero humongous GCs, max pause
    #   5.3 s -> 2.3 s. (ParallelGC control: 117 s total pause, rejected.)
    # - young-gen floor + relaxed pause target: the parse/canonize tiers
    #   allocate GBs of short-lived UTF8Strings per round; G1's default
    #   200 ms pause target shrinks young to its 5% floor and collects
    #   constantly (each collection a full task-thread stall). A 20%
    #   young floor + 1 s target quarters the pause count: local[8]
    #   400k-page crawl 144.3 s -> 134.2 s, identical checksum.
    xms = driver_mem
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:ParallelGCThreads={gc_threads} -Xms{xms} "
            "-XX:G1HeapRegionSize=32m -XX:MaxGCPauseMillis=1000 "
            "-XX:+UnlockExperimentalVMOptions -XX:G1NewSizePercent=20 "
            + os.environ.get("CRAWLSPARK_EXTRA_JAVA_OPTS", ""),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Protect cached blocks from execution-memory eviction. The crawl
        # round persists bounded per-round sets (parsed, candidate links,
        # deduped frontier) that every later job in the round re-reads; at
        # high task concurrency the round's sorts/joins/write buffers
        # otherwise borrow storage memory and evict those blocks, and each
        # MEMORY_AND_DISK eviction pays a serialize+write (plus deserialize
        # on re-read) — measured as ~3x JVM-CPU inflation of the two widest
        # stages at local[8] vs local[2] on the 400k-page bench (docs-write
        # stage 95.8 -> 261.4 core-s, dedup-counts stage 27.8 -> 86.7) with
        # identical checksums. storageFraction=0.7 (default 0.5) makes
        # execution spill instead (sequential, cheaper, bounded): the same
        # stages drop back to parity (92.9 / 33.3 core-s) and the local[8]
        # crawl wall falls 161.6 -> 143.3 s. On a real cluster the same
        # posture holds: the round caches are the hot asset; executor
        # spill is the safety valve.
        .config("spark.memory.storageFraction", "0.7")
        # v2 file-output commit: task files move straight into the final
        # directory at task commit, so job commit is O(1) instead of a
        # serial driver-side rename of every task's output — each round
        # runs ~8 append jobs and the per-job commit latency is a fixed,
        # level-independent term (Amdahl S of the N→4N scaling gate). A
        # crash mid-job can leave partial files, but every store append is
        # round-versioned into its own batch dir and resume truncates any
        # batch beyond the committed state (storage.py), so the engine's
        # crash contract does not rely on commit atomicity.
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for every Python boundary (parse mapInArrow,
        # pandas UDFs): the 10k default puts ~20MB of HTML plus the
        # to_pylist copies resident per worker per batch; at high worker
        # counts that thrashes the shared cache/bandwidth. Paired co-run
        # A/B (100k pages, local[2] vs local[8], same time window):
        # 2048 cut the 4N-level crawl wall 164s -> 118s (-28%) and
        # raised 2->8 scaling efficiency 0.516 -> 0.671, identical
        # checksum. Smaller batches also smooth producer/consumer
        # pipelining across the Arrow socket.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
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
