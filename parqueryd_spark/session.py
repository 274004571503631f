"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (single JVM); the configs below are chosen so
the same code scales to a multi-executor cluster at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's static 1-file-=-1-task scheduling (controller.py:628-645).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster AQE
  re-coalesces from a high initial number, so the value is a floor not a tune.
- Arrow enabled for the pandas boundary (toPandas / pandas UDFs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "parqueryd_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default posture."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's stock 10 MB: a snappy parquet file decompresses 3-5x into the
        # broadcast hash relation, so a bigger threshold invites fact-table
        # broadcasts at small SF (measured 3-4x slower than SMJ for the 10.8 MB
        # sf0.1 lineitem: single-threaded build + driver round-trip). Scale-worthy
        # dims are far below 10 MB; AQE still upgrades to broadcast from accurate
        # runtime stats when a shuffle side turns out tiny.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # runtime Bloom-filter join thresholds: Spark's stock 10MB/10GB, kept after measurement (OPTIMIZATION_r16.md)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/parqueryd_spark_warehouse"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
