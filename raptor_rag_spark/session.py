"""SparkSession factory with the engine's scale-oriented defaults.

AQE (runtime re-plan + skew-join handling), Arrow-batched Python UDFs, and a
shuffle-partition count sized to the local core count. On a real cluster the
same settings apply; `spark.sql.shuffle.partitions` should be ~2-3x total
cores and `spark.sql.files.maxPartitionBytes` tuned so scan partitions fit in
executor memory (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """min(48g, 40% of MemTotal) — big enough to kill GC starvation at 32
    tasks on the reference host, safe on smaller boxes where the 48g default
    plus /dev/shm shuffle pages would overcommit physical RAM."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, total_gb * 2 // 5))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "raptor-rag-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Saturated-host guard: at local[ncpu] every Python stage runs ncpu JVM
    # task threads PLUS ncpu Python workers (plus GC/netty threads) on ncpu
    # vCPUs — measured 3-10x stage inflation from GC starvation once the box
    # is oversubscribed. spark.task.cpus=2 halves concurrent tasks so
    # JVM+Python together fit the machine. On a real cluster, size
    # spark.executor.cores the same way (leave cores for the Python workers).
    task_cpus = os.environ.get("SPARK_GRAFT_TASK_CPUS")
    if task_cpus is None and (os.cpu_count() or 1) <= cores:
        task_cpus = "2"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # collect_list/collect_set aggs (the per-cell member gather) use
        # ObjectHashAggregate, which falls back to SORT-based aggregation
        # after only 128 distinct keys per task by default — measured 10x
        # slower at high parallelism (sort + spill of wide structs). Cells
        # per task are bounded (≤ 4^res), so keep it hash-based.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # pyspark 4.1 records the Python call site of every Column/functions
        # call for DataFrame error context: an `inspect` stack walk and ~3
        # py4j round trips per call, and its first use imports IPython.
        # Measured planning one leaf level, one parent level and one
        # `xy_cols` select (local[2], 4-core host): 7.7-8.4k → 2.5-3.3k py4j
        # round trips and 0.91-0.93 → 0.53-0.59 s warm; the first plan, IPython
        # import included, 2.50 → 1.43 s. Cost: DataFrame errors no longer
        # name the Python line that built the failing expression (the JVM
        # message and stack are unchanged).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local mode = one JVM for driver + all executor threads; at 32
        # concurrent tasks an 8g heap spends >30% of task time in GC
        # (measured via event logs: cached leaves + collect_list buffers).
        # Size the heap to the machine, not the driver role — capped at 40%
        # of host RAM so heap + tmpfs shuffle dirs can't jointly OOM the box.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_heap()))
        .config("spark.ui.enabled", "false")
    )
    if task_cpus:
        builder = builder.config("spark.task.cpus", task_cpus)
    # Shuffle/spill files default to /tmp — a single virtio disk here, which
    # becomes the marginal bottleneck (measured: identical Δwall/Δpages at 2
    # and 8 cores). tmpfs stands in for the local NVMe a real executor has;
    # override with SPARK_LOCAL_DIRS.
    if os.environ.get("SPARK_LOCAL_DIRS") is None and os.path.isdir("/dev/shm"):
        shm_dir = "/dev/shm/spark-local"
        os.makedirs(shm_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shm_dir)
    # profiling knob: SPARK_GRAFT_EVENTLOG=1 writes uncompressed event logs
    # (the round-1/2 profiling discipline — parse stage walls per job group)
    if os.environ.get("SPARK_GRAFT_EVENTLOG"):
        ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR", "/tmp/spark-events")
        os.makedirs(ev_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", ev_dir)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, tasks_per_core: int = 4) -> None:
    """Pre-fork + pre-import the Python UDF workers (numpy/pandas/kernels).

    Each fresh worker pays ~1-2s of imports on its first Arrow batch; at
    local[32] that is 32 concurrent cold starts *per Python stage* until the
    reused-worker pool is saturated — measured as a 4-16x inflation of small
    UDF stages. On a real cluster executors are long-lived so this cost is
    provisioning, not throughput; calling this once after session creation
    reproduces that steady state locally."""
    import pandas as pd  # noqa: F401

    cores = spark.sparkContext.defaultParallelism

    def _warm(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        from .kernels import embedder  # noqa: F401

        for b in batches:
            yield pandas.DataFrame({"x": [len(b)]})

    n = cores * tasks_per_core
    spark.range(0, n, 1, n).mapInPandas(_warm, "x long").count()


def broadcast_bound(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes: the
    bound under which Spark itself collects a relation for a broadcast, read
    without a job. A bound of -1 means nothing fits."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())
