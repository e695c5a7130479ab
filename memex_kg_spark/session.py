"""SparkSession factory with scale-appropriate defaults.

Local-mode knobs mirror what a 1000-executor deployment would set cluster-
wide: AQE on (runtime re-plan + skew-join splitting), shuffle partitions
sized to cores (not the 200 default), Arrow enabled for the driver's
``toPandas``/``createDataFrame`` transfers, 10,000-row Arrow batches
for the ``mapInArrow`` extraction stage, UTC session timezone so
DuckDB-oracle timestamp comparisons are exact.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "memex_kg_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS")
                         or len(os.sched_getaffinity(0)))
    shuffle = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
