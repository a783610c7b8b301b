"""SparkSession factory tuned for this engine.

Local-mode settings mirror what the production job sets via
``spark-submit --conf``: AQE on (runtime skew-join + partition
coalescing), Arrow on (every UDF in this package is a pandas UDF),
shuffle partitions sized to the parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Heap ceiling: a 48g heap regressed local[32] extraction 4-5x (G1 region
# management / page churn dominated as system time); 16g kept GC flat at
# every parallelism measured.
DRIVER_MEM_CEILING_MB = 16 * 1024
# Spark's hardware-provisioning guidance: give Spark at most 75% of the
# machine's memory and leave the rest to the OS and buffer cache. A heap
# above physical memory never feels GC pressure; the kernel OOM-kills it.
DRIVER_MEM_FRACTION = 0.75
# cgroup v2 and v1 limit files; "max" or a near-2^63 value means unlimited
_CGROUP_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def machine_memory_bytes() -> int:
    """Physical RAM, or the cgroup memory limit where one is set, readable
    and smaller."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in _CGROUP_LIMITS:
        try:
            with open(path) as f:
                mem = min(mem, int(f.read().strip()))
        except (OSError, ValueError):
            pass  # absent, unreadable, or "max"
    return mem


def driver_memory() -> str:
    """Driver heap size: ``OBIE_DRIVER_MEM`` if set, else the 16g ceiling
    capped at 75% of the machine's memory."""
    if os.environ.get("OBIE_DRIVER_MEM"):
        return os.environ["OBIE_DRIVER_MEM"]
    mb = int(DRIVER_MEM_FRACTION * machine_memory_bytes()) >> 20
    return f"{min(DRIVER_MEM_CEILING_MB, mb)}m"


def local_cpus() -> int:
    """Local-mode parallelism: ``SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "obie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; a real cluster sets this to
        # 2-3x total executor cores (or relies on AQE coalescing).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # joins co-partitioned on a SUBSET of the join keys (everything in
        # the extraction plan is clustered by doc_key; join keys are
        # doc_key-prefixed) must not re-exchange both sides — this is the
        # bucketed-join co-location contract at cluster scale
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g, capped at 75% of the machine's memory (see driver_memory).
        # On a real cluster this is per-executor memory and sized to
        # partition volume.
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", os.environ.get("OBIE_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
