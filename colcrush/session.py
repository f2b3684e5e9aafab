"""SparkSession factory tuned for the colcrush engine.

Local mode here is a proxy for a multi-executor cluster: settings are
chosen so the same code scales (AQE on, shuffle partitions ~ cores,
Arrow batches sized for the codec layer).
"""

from __future__ import annotations

import os
import socket
import tempfile

from pyspark.sql import SparkSession

from colcrush._userdir import user_dir, user_dir_path


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


# the RAM-backed parent of Spark's shuffle/spill dir, where the host
# has one
SHM = "/dev/shm"


def local_dir_conf(
    extra: dict, env_local_dirs: str | None, shm: bool
) -> dict[str, str]:
    """Settings for Spark's local (shuffle/spill) dir, given the
    caller's ``extra`` settings, $SPARK_LOCAL_DIRS (which Spark prefers
    over spark.local.dir) and whether /dev/shm exists.

    The RAM-backed dir is used only when neither the caller nor the
    environment names another one: local-mode shuffles otherwise
    serialize through one disk and cap scaling (on a real cluster every
    executor brings its own shuffle disks). Shuffle compression is off
    exactly while that RAM-backed dir is the one in use — compressing
    blocks headed to tmpfs is pure CPU, no disk or network exists for
    the smaller bytes to help — and stays at Spark's default (on)
    everywhere else, where shuffle bytes cross real disks and NICs. A
    host with a small /dev/shm (e.g. a container's default 64 MB)
    points spark.local.dir elsewhere and so gets compression back.

    The RAM-backed dir is colcrush's per-user dir under /dev/shm
    (``user_dir``, which ``get_spark`` creates): Spark makes its
    ``blockmgr-*`` dirs 0755 and its shuffle files 0644, and the
    shuffle bytes there are uncompressed, so only a private parent
    keeps them from other local users."""
    if env_local_dirs or "spark.local.dir" in extra or not shm:
        return {}
    return {
        "spark.local.dir": user_dir_path(SHM),
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
    }


# AF_UNIX path limit: 107 bytes on Linux, 103 on macOS; Spark names each
# socket "<dir>/.<uuid4>.sock", 43 bytes past the dir
SOCKET_PATH_MAX = 103
SOCKET_NAME_LEN = 43

UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
UDS_DIR = "spark.python.unix.domain.socket.dir"


def socket_dir() -> str:
    """The private dir for Spark's Unix sockets: colcrush's per-user dir
    under the temp dir when a socket path there fits AF_UNIX, else
    under /tmp (a deep $TMPDIR or java.io.tmpdir would make Spark's
    own default fail at session start with "AF_UNIX path too long")."""
    parent = tempfile.gettempdir()
    if len(user_dir_path(parent)) + SOCKET_NAME_LEN > SOCKET_PATH_MAX:
        parent = "/tmp"
    return user_dir(parent)


def python_socket_conf(extra: dict) -> dict[str, str]:
    """Settings that connect Python workers, the driver's accumulator
    server and local-data transfers over Unix sockets instead of
    loopback TCP, given the caller's ``extra`` settings.

    Over loopback TCP each Python task waited ~40 ms for its first
    input batch (Linux's delayed-ACK floor; 4-vCPU host, Spark 4.1):
    a two-task no-op ``mapInArrow`` job took ~100 ms, ~55 ms over a
    Unix socket. PySpark's daemon treats every Unix-socket connection
    as authenticated and skips the worker secret, so the sockets live
    in ``user_dir``, owned by this user and closed to everyone else.
    A caller that turns the setting off or names its own dir gets no
    dir from here; a platform without AF_UNIX keeps TCP."""
    enabled = str(extra.get(UDS_ENABLED, "true")).lower() == "true"
    if not enabled or not hasattr(socket, "AF_UNIX"):
        return {}
    conf = {UDS_ENABLED: "true"}
    if UDS_DIR not in extra:
        conf[UDS_DIR] = socket_dir()
    return conf


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
    extra = extra or {}
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        # C1-only JIT: a session of seconds to minutes never finishes
        # tiered warm-up, and the compiler threads then cost more CPU
        # than every Spark task thread together — 8 point lookups on a
        # 4-vCPU host: compiler threads 8.7 of 14.9 JVM CPU-s tiered
        # (task threads 1.4), 2.5 of 8.6 C1-only, at the same walls.
        # C1-only code keeps the default 48 MB code cache 32-43 MB
        # full and the JIT recompiling pass after pass; a 240 MB cache
        # cut perfbench queries cpu_s ~20% in 60 s runs (4 vCPUs).
        # Spark puts defaultJavaOptions before extraJavaOptions, so a
        # caller's extraJavaOptions still apply, and ``extra`` can
        # replace this setting
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
        # Python workers fork from a daemon whose zip importers skip the
        # per-task re-read of pyspark.zip and the spark-core jar (~0.2 s
        # per task before CPython 3.13; see colcrush/_worker_daemon.py)
        .config("spark.python.daemon.module", "colcrush._worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    local = local_dir_conf(
        extra, os.environ.get("SPARK_LOCAL_DIRS"), os.path.isdir(SHM)
    )
    if local:
        user_dir(SHM)
    for k, v in {**local, **python_socket_conf(extra), **extra}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
