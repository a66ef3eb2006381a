"""SparkSession factory with the engine's standard local-mode configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PYBIN = "/root/.pyenv/shims/python3"


def host_cores() -> int:
    """Cores this process may run on (its CPU affinity, not the machine's
    core count)."""
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """Driver heap for this host: a quarter of MemAvailable in 512 MB
    steps, within [1 GB, 4 GB] (the heap holds plans and collected
    results; task memory lives in the Python workers)."""
    avail_mb = 4096 * 4
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    return f"{max(1024, min(4096, avail_mb // 4 // 512 * 512))}m"


def get_spark(
    app: str = "rt-etl-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
) -> SparkSession:
    """Local session; defaults follow the host: master local[cores]
    (SPARK_GRAFT_CPUS overrides the core count) and driver heap from
    MemAvailable.  Explicit arguments win."""
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cores())
    master = master or f"local[{cores}]"
    driver_mem = driver_mem or host_driver_mem()
    n = shuffle_partitions or int(
        master[master.index("[") + 1 : -1].replace("*", str(host_cores()))
    )
    if os.path.exists(PYBIN):
        os.environ.setdefault("PYSPARK_PYTHON", PYBIN)
        os.environ.setdefault("PYSPARK_DRIVER_PYTHON", PYBIN)
    # Shuffle/spill on tmpfs when available: the sandbox's ext4 root shows
    # multi-second writeback stalls that dominate small-stage latencies.
    local_dir = None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Split parquet scans finer than the 128 MB default: the corpus is
        # written in few, small-ish files, and the default packed the whole
        # pages scan into a handful of tasks — the Arrow extraction stage
        # then ran on 2-3 cores regardless of cluster size.  16 MB splits
        # keep every scan wide enough to fill the cluster; the scan itself
        # is still sequential I/O per row-group.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Smaller Arrow batches: this host's memory bandwidth saturates near
        # 8-16 concurrent heavy streams (measured: 32 parallel numpy
        # sort+scan workers run 10x slower per task than 8).  Keeping every
        # worker's resident batch small keeps the hot stages compute-bound.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4000")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # 8 MB row groups so the 16 MB scan splits actually land on distinct
        # row groups (the parquet default of 128 MB makes small files
        # one-row-group and unsplittable in practice).
        .config("spark.hadoop.parquet.block.size", str(8 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()


def warm_python_workers(spark) -> None:
    """Run one tiny Arrow-UDF job so every task slot's Python worker is
    spawned and has imported pandas/numpy before any timed phase."""
    import pandas as pd  # noqa: F401

    def _noop(batches):
        for pdf in batches:
            yield pdf

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 4, 1, n * 4).mapInPandas(_noop, "id long").count()
