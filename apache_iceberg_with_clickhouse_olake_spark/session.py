"""SparkSession factory.

The reference pins its engine behavior via config (ClickHouse
``users.xml:26-33``: spill thresholds, max_threads, analyzer;
``scripts/iceberg-setup.sql:1-3``: partition pruning + metadata cache
toggles). All of those are built into Spark; this module is the single
place where the equivalent Spark tuning surface lives.

Scale notes (the configs are chosen for a real cluster, not just local[32]):

- AQE on: runtime shuffle-partition coalescing + skew-join splitting is the
  mechanism that keeps the same code correct from sf0.001 to 100 TB.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces down on small data and the advisory partition size governs the
  physical target (128 MiB, matching the reference's Parquet row-group
  target, destination.json:30-32).
- Broadcast threshold kept at default 10 MiB minimum but AQE's runtime
  re-plan upgrades sort-merge joins to broadcast when the built side turns
  out small - dims like region/nation/supplier always broadcast.
- Arrow on: any pandas UDF path (similarity/multimodal ops) moves batches,
  not rows, across the JVM/Python boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Matches the reference's 128 MiB parquet row-group target
# (olake-config/destination.json:30-32) and is the right shuffle-block size
# for multi-hundred-executor clusters.
_ADVISORY_PARTITION_BYTES = str(128 * 1024 * 1024)

# Local-mode scan splits: a 128 MiB split size leaves a laptop-scale file
# on 1-2 of local[32]'s cores. 16 MiB exploits local cores; clusters
# (spark-submit sets master externally) keep the 128 MiB scale setting.
_LOCAL_SCAN_BYTES = str(16 * 1024 * 1024)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master``/executor topology comes from spark-submit;
    everything here is cluster-size independent except the local[] default.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _ADVISORY_PARTITION_BYTES,
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            _ADVISORY_PARTITION_BYTES
            if os.environ.get("SPARK_MASTER")
            else _LOCAL_SCAN_BYTES,
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet INT96/ns timestamps as-is; events.parquet is ns.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # TIMESTAMP(NANOS) columns read as raw longs instead of failing
        # with [PARQUET_TYPE_ILLEGAL]; sources.parquet.load_table rebuilds
        # the microsecond timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r19 (optimization round): the generated-class cache defaults
        # to 100 entries, while one multi-stage operator here plans
        # 100+ codegen units per EXECUTION (WSCG stages, mutable/unsafe
        # projections, predicates, orderings) -- so steady-state runs
        # recompile everything, and stage task-metrics showed it:
        # executorRunTime 18.9 s vs executorCpuTime 3.4 s on one k-means
        # stage (31 tasks parked on the compile-cache load lock while
        # one compiled). This is a static conf (must be set before the
        # first session); cost is bounded metaspace for small generated
        # classes. A production session running a query mix thrashes
        # the same 100-entry cache, so the setting is scale-independent.
        # Alternating-session A/B on semantic_dedup_twolevel_stats
        # (sf0.1, 3 session pairs): 4.23/6.28/5.80 -> 3.77/6.12/3.89 s.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
