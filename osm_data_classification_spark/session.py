"""SparkSession factory with scale-oriented defaults.

The reference engine is single-node eager pandas (SURVEY.md §3.1); the
new engine's execution model is Catalyst + AQE. These defaults are the
ones that matter at 100 TB: AQE on (runtime coalesce + skew-join
splitting), Arrow for every JVM<->Python hand-off, bounded Arrow batch
sizes so ring-heavy geo kernels don't blow worker memory, and a
shuffle-partition count sized to the local test harness (a real
cluster overrides via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DEFAULT_ARROW_BATCH = 10_000  # SURVEY.md §2.10: tuned for ring-heavy kernels
OBJECT_AGG_HASH_GROUPS = 1 << 16
MAX_DRIVER_MEM_MB = 48 * 1024  # the 128 GiB box of SURVEY.md Appendix A


def default_driver_mem() -> str:
    """A quarter of physical memory, between 1 GiB and 48 GiB. A heap
    larger than the host lets the JVM grow until the kernel kills it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, phys_mb // 4))}m"


def get_spark(
    app_name: str = "osm-data-classification-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` falls back to ``$SPARK_GRAFT_MASTER`` then
    ``local[$SPARK_GRAFT_CPUS or *]`` — the bench harness uses this to
    run the identical job at two parallelism levels (local[8] vs
    local[32]) for the scaling-efficiency evidence (BASELINE.md).
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Catalyst / AQE ---------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # object aggregates (collect_set/collect_list/percentile) keep
        # this many groups per task in the hash map before switching to
        # the sort-based path. Spark's 128 makes every partial
        # aggregation of the tile cascade's boundary sets sort, which
        # costs more and takes several full runs of JIT warm-up to
        # settle; 64k groups bound the map to tens of MB per task.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(OBJECT_AGG_HASH_GROUPS),
        )
        # --- Arrow / pandas-UDF path ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_ARROW_BATCH),
        )
        # --- misc -------------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # single-JVM local mode: driver heap is ALL executor memory too;
        # size it so 32 concurrent tasks' hash aggregations don't GC-thrash
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
