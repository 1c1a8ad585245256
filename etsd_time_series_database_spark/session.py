"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the conf set here is chosen so the
same plans survive a 1000-executor cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), UTC session timezone
(oracle parity and sanity at global scale), Arrow for the few Pandas
UDF paths, and shuffle partitions sized by env rather than the
200-partition default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "etsd_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Env knobs:
      SPARK_GRAFT_CPUS   -> local[N] parallelism (default: all cores)
      SPARK_GRAFT_SHUFFLE_PARTITIONS -> spark.sql.shuffle.partitions
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as long,
        # converted to a micros timestamp in sources.store (DuckDB parity).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # PySpark's call-site capture costs ~5 py4j round trips per
        # Column/DataFrame call; errors keep their JVM-side context
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
