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
- Codegen class cache sized to the engine's working set:
  ``spark.sql.codegen.cache.maxEntries`` is ``CODEGEN_CACHE_ENTRIES``
  (Spark's default is 100). Every operator the engine feeds is
  whole-stage code-generated, and Spark keeps the compiled classes in one
  JVM-wide LRU cache; a working set larger than the cap is evicted before
  its next use, so every warm pass recompiles all of it. Measured at
  sf0.01 on a 4-core box (compiles counted with Spark's
  ``CodegenMetrics``; JVM Metaspace used after a GC, after the sweep):

  =====================================  =======  ===================  ===================
  working set                            classes  warm-pass compiles   Metaspace MB
                                                  at 100 / at 4096     at 100 / at 4096
  =====================================  =======  ===================  ===================
  perfbench ``llm_pipeline`` pass        145      139-140 / 0-4        152.5 / 153.0
  perfbench ``sql_analytics`` pass       98       60 / 0               149.6 / 149.5
  bench.py HEADLINE + EXTENDED, 81 keys  1,493    1,995 / 80           189.7 / 201.2
  all 462 keys, one sweep                5,206    7,694 / 5,256 cold   218.2 / 248.9
  =====================================  =======  ===================  ===================

  4096 is the smallest power of two that holds the bench.py sweep twice
  over: a second sweep compiles ~70 classes whose code differs from run
  to run, and plans can change with the scale factor. It does not
  hold the whole inventory, so a session that cycles through all 462
  keys still recompiles. The conf is static: Spark sizes the cache at
  the JVM's first compile, so it only takes effect in a JVM whose first
  session ``get_spark`` built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# spark.sql.codegen.cache.maxEntries: see "Scale posture" above.
CODEGEN_CACHE_ENTRIES = 4096
# The directory holding this package. Python workers import the engine's
# UDFs from it, so it goes on their PYTHONPATH: the driver may have found
# the package through its own sys.path (e.g. a script that inserts the
# checkout), which workers do not inherit. Spark appends the workers'
# existing PYTHONPATH to this one.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
