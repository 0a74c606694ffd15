"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting here is
chosen to also be the right default on a large cluster:

- AQE on (runtime coalesce + skew-join splitting survive 100× scale-up),
- Arrow on (any unavoidable pandas-UDF path is batch-vectorized),
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalesce makes the initial number mostly irrelevant,
- broadcast threshold left at default 10 MB — dimension tables (region,
  nation, customer at small SF) broadcast automatically; large-SF fact-fact
  joins fall back to sort-merge, which is what you want at 100 TB.
- codegen cache sized to the engine's working set, not Spark's default
  100 entries: one ``analytics_mix`` pass alone generates ~136 classes,
  so the default LRU evicts every class before its next use and each
  repeated query shape pays its driver-side Janino compile again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "priority-data-pipeline-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert (plans.tables.load)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (sources.odata implements
        # pushFilters; off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # generated classes kept per JVM; a static conf, so it must be set
        # here.  One registry entry generates ~15 classes and one
        # analytics_mix pass ~136; 2000 holds >= 10 such passes or a
        # >= 100-entry slice of the registry, so a session compiles each
        # query shape once.  Sized from plan shapes, not the core count.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: Spark's
    ``CodegenMetrics`` compilation-time histogram counts one sample per
    codegen cache miss.  Take deltas around a region to count its
    compiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
