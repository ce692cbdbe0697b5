"""SparkSession factory.

Design notes (100 TB posture):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  sort-merge→broadcast demotion are the main levers that survive a 1000×
  scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` is only the *initial* number under AQE;
  locally we keep it ≈ cores so tiny fixtures don't fragment into empty
  tasks. On a real cluster you'd set it high (2–3× total cores) and let
  AQE coalesce.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are naive/UTC).
- Arrow on for every Python↔JVM exchange (toPandas, pandas_udf,
  applyInPandas).
- Codegen cache: Spark keeps compiled classes in an LRU of
  ``spark.sql.codegen.cache.maxEntries`` (default 100). At 100, Janino
  recompiled 182-194 classes on every 16-op analyst pass and 91 per
  medallion cycle. It caches code, not results, and the working set is
  set by the plans, not the data, so a constant 1024 (≈5× the largest
  set) holds at any scale.
- Driver heap: ``$SPARK_DRIVER_MEM`` when the deployment sets it, else
  half of physical memory. A heap sized past physical memory lets a
  runaway driver meet the kernel's OOM killer, which kills the process
  without a trace, instead of a Java ``OutOfMemoryError`` that names the
  failing query; half leaves room for the JVM's off-heap memory and the
  Python workers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt-local-duckdb-deltalake-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int = 16,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    half_ram = f"{os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') >> 21}m"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Local sizing: every shuffle stage pays ~task-launch × partitions;
        # at the fixture scales that floor dominates (measured: 32 → 8
        # initial partitions halves cheap-query wall-clock). 16 keeps
        # CPU-bound stages parallel while AQE coalesces the rest.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory size rather than max parallelism:
        # fewer, fuller reduce tasks — lower task-launch floor locally,
        # healthier partition sizes at scale.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32MB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", half_ram))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # FAIR scheduling (optimization guide §2.6): under FIFO a query
        # built from many tiny SEQUENTIAL jobs queues each job behind
        # whole stages of concurrent queries (measured 94 s pooled for an
        # 8 s serial query); FAIR time-slices task slots across jobs.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
