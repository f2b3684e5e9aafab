"""SparkSession factory tuned for the colcrush engine.

Local mode here is a proxy for a multi-executor cluster: settings are
chosen so the same code scales (AQE on, shuffle partitions ~ cores,
Arrow batches sized for the codec layer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Local-mode width: $SPARK_GRAFT_CPUS when set, else the CPUs this
    process may run on (its affinity set, not the machine's count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):  # absent on macOS
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory() -> str:
    """Driver heap that fits the host: a quarter of physical RAM, at
    least 1 GB and at most 8 GB (the rest stays with the page cache,
    the RAM-backed shuffle dir and the Python workers)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, ram // 4 // (1 << 30)))}g"


def get_spark(
    app: str = "colcrush",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or default_cores()
    driver_memory = driver_memory or default_driver_memory()
    shuffle_partitions = shuffle_partitions or max(8, cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    # RAM-backed shuffle dirs when available: local-mode shuffles
    # otherwise serialize through one disk and cap scaling (on a real
    # cluster every executor brings its own shuffle disks)
    shm = os.path.isdir("/dev/shm")
    if shm:
        shuffle_dir = "/dev/shm/colcrush-spark-local"
        os.makedirs(shuffle_dir, exist_ok=True)
        b = b.config("spark.local.dir", shuffle_dir)
    # Shuffle compression is parameterised (COLCRUSH_SHUFFLE_COMPRESS=
    # 1/0/auto): compressing blocks headed to a RAM-backed local dir is
    # pure CPU — no disk or network exists for the smaller bytes to
    # help — so "auto" (default) turns it off exactly when the
    # RAM-backed dir above is in use. A cluster deployment configures
    # executors via spark-submit, not this local-mode factory, and
    # keeps Spark's default (on): there shuffle bytes cross real disks
    # and NICs, where compression earns its CPU. On hosts with a SMALL
    # /dev/shm (e.g. a container's default 64 MB) uncompressed shuffle
    # files fill the tmpfs sooner — set COLCRUSH_SHUFFLE_COMPRESS=1 (or
    # point spark.local.dir elsewhere) as the escape hatch.
    comp_env = os.environ.get("COLCRUSH_SHUFFLE_COMPRESS", "auto")
    comp_on = (not shm) if comp_env == "auto" else comp_env == "1"
    b = b.config("spark.shuffle.compress", str(comp_on).lower()).config(
        "spark.shuffle.spill.compress", str(comp_on).lower()
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
