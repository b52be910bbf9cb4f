"""SparkSession factory.

Scale posture (100 TB design notes):
- AQE on: runtime partition coalescing, skew-join splitting, and join
  strategy switching replace hand-tuned shuffle sizing at scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster leave AQE's ``coalescePartitions`` to right-size it
  (set initialPartitionNum high, let AQE shrink).
- UTC session timezone everywhere so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- Arrow enabled: every Pandas UDF / toPandas boundary is vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "spark_sql_dsv2_extension_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Mirrors the reference's per-catalog conf isolation (V2SqlConf.scala:10-90,
    V2ExternalCatalog.scala:55-92) in spirit: all engine-relevant settings are
    centralized here and override-able via ``extra_conf``.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.catalogImplementation", "in-memory")
        # older fixtures store events.ts as INT64 TIMESTAMP(NANOS) and Spark
        # has no ns type: read it as a long (tables.py holds the rule and
        # re-pins this conf on every fixture read).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
