"""SparkSession factory with scale-conscious defaults.

Local mode here, but the configs are the ones that matter on a 1000-executor
cluster too: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session time, Arrow for any pandas exchange, and a generated-code cache
that holds the library's working set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark keeps at most this many compiled generated classes (default 100).
# One sf0.001 pass over the driver entry's queries() generates 5,650 distinct
# classes; the 35 engine-DSL definitions alone need 124 and the benchmark's
# ten operator rows 182-184. Below the working set the LRU cache evicts each
# class before its next use, so every repeated query pays Janino and then
# the JIT again (3-5.5 ms a class on a 4-vCPU VM): at the default, two
# sf0.001 passes over queries() compiled 9,149 + 9,154 classes and metaspace
# ended at 269 MB; with this cap, 5,639 + 225 and 237 MB.
# Static conf: it takes effect only when the session is first created.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "concept-multi-db-query-engine-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
