"""SparkSession factory.

Local-mode defaults are sized for the sandbox (single JVM); the configs
that matter at cluster scale (AQE, skew join, adaptive coalescing, Arrow
batching) are on by default so the same plans carry to a 1000-executor
deployment unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: The engine's scale-relevant tuning — identical for local-mode tests
#: and a spark-submit cluster deployment, so plans carry over unchanged.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # don't hold task slots idle waiting for data locality — right for
    # local mode and for NVMe/disaggregated-storage clusters alike
    "spark.locality.wait": "0s",
}


def apply_engine_conf(builder, shuffle_partitions: int | None = None):
    """Apply the engine tuning to any SparkSession.Builder — used both by
    ``get_spark`` (local mode) and by spark-submit entry scripts, where
    master/memory/executors come from the submit command line."""
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder


def get_spark(
    app_name: str = "orchid_fst_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() or 8 if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * ncores, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    b = apply_engine_conf(
        SparkSession.builder.master(master).appName(app_name),
        shuffle_partitions=shuffle_partitions,
    )
    b = (
        b.config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
