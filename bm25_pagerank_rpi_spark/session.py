"""SparkSession construction tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same builder is used minus the master override (spark-submit supplies it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """A quarter of the host's (or the memory cgroup's) RAM, rounded to
    whole GiB and clamped to 1-24g. A fixed 24g heap lets a long-lived
    local JVM grow past the physical memory of a 16 GB host until the
    kernel OOM-kills it; a quarter leaves room for the Python workers,
    the JVM's off-heap memory and the page cache."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        for limit_file in (
            "/sys/fs/cgroup/memory.max",  # cgroup v2
            "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
        ):
            try:
                with open(limit_file) as f:
                    limit = f.read().strip()
            except OSError:
                continue
            if limit.isdigit():
                total_bytes = min(total_bytes, int(limit))
    return f"{min(24, max(1, round(total_bytes / 4 / (1 << 30))))}g"


def get_spark(
    app_name: str = "bm25_pagerank_rpi_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is on (skew-join + partition coalescing are the runtime backstop for
    head-term skew; the index build also salts explicitly). Arrow is on for
    every pandas UDF / applyInPandas seam.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # partitions sized for DATA (spill avoidance), not core count: a
        # reduce task should hold a bounded slice regardless of cluster
        # size; AQE coalesces the excess away at runtime. cores*8 keeps an
        # 8-core run from cramming a big aggregate into 8 hash maps.
        shuffle_partitions = max(cores * 8, 64)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(cores * 16, 128)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # sandbox: one shared virtio disk serializes shuffle I/O across all
        # "executors"; SPARK_GRAFT_LOCAL_DIR=/dev/shm/... stands in for
        # per-executor local disks during scaling measurements
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
