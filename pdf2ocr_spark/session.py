"""SparkSession factory with the engine's tuned defaults.

Tuned for the Arrow-heavy extraction workload; every setting here is also
what we would ship in spark-defaults.conf on a real multi-executor cluster
(where ``local[N]`` becomes executor counts and AQE handles stragglers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS = {
    # Arrow for pandas conversions and pandas UDFs (the extraction kernel
    # itself is mapInArrow, which is Arrow regardless)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128-row batches measured fastest for the extraction kernel (finer
    # JVM<->Python pipelining; 256/512/1024 were 15-35% slower end-to-end)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "128",
    # AQE: runtime partition coalescing + skew handling on a real cluster
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parquet scans: stay vectorized, prune aggressively
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # glibc allocator tuning for the Python workers (applies at any
    # executor width; matters more the more cores per box): numpy/Arrow
    # kernels allocate multi-MB temporaries per batch, and glibc mmaps
    # every block above its 32 MiB dynamic-threshold cap — so cores-wide
    # concurrent kernel tasks turn into an mmap/munmap + page-zeroing
    # storm that serializes IN THE KERNEL (measured on the blocked
    # jaccard kernel at local[32]: 85-99% system CPU, 13-15 s tasks
    # whose pure-numpy work is 0.3-1.5 s; pinning the threshold keeps
    # big buffers on the reusable heap -> stable 9 s query walls, ~3x).
    # Explicitly setting the thresholds disables the dynamic cap.
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "268435456",
    # keep driver-side results reasonable during tests
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "pdf2ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
