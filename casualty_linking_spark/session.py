"""SparkSession factory tuned for the local[N] sandbox while keeping the
config shape a 1000-executor cluster would use (AQE, skew join, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _system_memory_gib() -> float:
    """Physical memory of the host (GiB), 0.0 if undetectable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


# The aggressive defaults (64g heap, tmpfs shuffle dir) assume a host with
# RAM to spare for both (~125 GiB). On a smaller machine the tmpfs spill
# would compete with the heap for the same physical pages and can OOM the
# host instead of spilling to disk, so below this threshold the heap is
# sized from the host (see _default_driver_memory) and shuffle goes to disk.
# Env vars always override.
_BIG_HOST_GIB = 96.0


def _default_local_dir() -> str:
    """tmpfs when present AND the host has memory to spare (single-node
    stand-in for per-executor NVMe), else Spark's normal java.io.tmpdir
    behavior."""
    if _system_memory_gib() >= _BIG_HOST_GIB and os.path.isdir("/dev/shm"):
        return "/dev/shm/spark-local"
    return os.environ.get("TMPDIR", "/tmp")


def _default_driver_memory() -> str:
    """64g on a big host; otherwise half of physical memory, at most 16g —
    the other half stays free for the Python workers, Arrow buffers and
    off-heap memory the JVM itself needs. 16g when memory is undetectable."""
    gib = _system_memory_gib()
    if gib >= _BIG_HOST_GIB:
        return "64g"
    if gib <= 0:
        return "16g"
    return f"{max(1, min(16, int(gib / 2)))}g"


def get_spark(
    app_name: str = "casualty_linking_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or '*'.
    Shuffle partitions default to the core count — right-sized for
    local mode; on a real cluster this is overridden per job.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores

    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        # Default: one shuffle partition per core. At large inputs prefer
        # data-proportional sizing (partitions ~ bytes/128MB, i.e. several
        # per core) so no single reduce task outgrows its execution-memory
        # share and spills — AQE coalesces the surplus but cannot split an
        # oversized partition (only skew-join handles that, and a uniform
        # over-large partition is not skew).
        shuffle_partitions = int(env_sp) if env_sp else max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Size the single local JVM like the sum of a node's executors: on a
        # ~125 GiB host a 16g heap made the 148M-triple dedup shuffle
        # spill + GC-thrash, which showed up as a non-scaling time component
        # (measured: 8->32 efficiency 0.48 at 30M turns with 16g). Gated on
        # detected host memory — see _default_driver_memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        # Shuffle/spill to tmpfs: on a real cluster every executor has its
        # own local NVMe, so shuffle I/O scales with executor count; on this
        # single-node sandbox the one virtual disk would serialize it.
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", _default_local_dir()))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries (static conf).
        # This engine's contract surface compiles far more distinct codegen
        # units than that in one session, so the LRU evicts hot classes and
        # every re-run pays Janino compilation + a cold-JIT pass again —
        # measured 287 s executor CPU vs 7 s for the SAME minhash stage in
        # one session, purely from eviction. The cache holds class refs
        # (weak keys), so a larger bound costs a few MB of metaspace and is
        # scale-independent: on a cluster each executor JVM wants its
        # generated classes to survive the whole job too.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    # AQE coalescing's "minimum partition worth scheduling" is byte-oriented
    # (default 1MB), which caps post-shuffle parallelism at totalBytes/1MB
    # even though coalescePartitions.parallelismFirst WANTS one partition
    # per core. This workload's reduce stages are CPU-dense over narrow rows
    # (regex converters + vectorized UDFs: ~30 s of work per MB measured on
    # the silver build), so the 1MB floor serializes them onto 2 tasks at
    # bench scale. 64k restores the parallelism-first behavior; at
    # production shuffle sizes partitions exceed 1MB anyway, so the setting
    # is inert there — it only affects the small-shuffle regime where
    # parallelism, not partition size, is what matters.
    builder = builder.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
