"""SparkSession factory tuned for this engine.

Local test mode runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
builder settings are what we would ship to a real cluster, where
``master`` comes from the environment instead:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for some stage.
- shuffle partitions sized to cores for local runs; a cluster deployment
  overrides via ``spark.sql.shuffle.partitions`` (AQE coalesces down).
- Arrow enabled for the pandas-UDF (sensor/embedding) surface.
- UTC session timezone so timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_memory() -> str:
    """Half the machine's physical RAM, in whole GiB (at least 1g): the
    local-mode JVM shares the box with its Python workers and the OS,
    so a heap sized past RAM gets the JVM killed rather than collected.
    ``SPARK_DRIVER_MEM`` overrides it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 // 2**30)}g"


def get_spark(
    app_name: str = "refitd-etl-spark",
    shuffle_partitions: int | None = None,
    ui: bool = False,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local-mode metastore/warehouse for bucketed tables; a cluster
        # deployment points this at real storage
        .config("spark.sql.warehouse.dir", "/tmp/refitd-etl-spark-warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
