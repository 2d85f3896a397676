"""SparkSession factory tuned for the CDC/ingest workload.

Local mode stands in for a multi-executor cluster; every knob set here
is the same one you would set in ``spark-submit --conf`` on a real
cluster. Parallelism comes from ``SPARK_GRAFT_CPUS`` (driver contract).
The driver heap comes from ``SPARK_GRAFT_DRIVER_MEM`` (default ``8g``);
lower it for processes that share a host, e.g. several writer drivers.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "mex-extractors-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    AQE is on so skewed shuffles re-plan at runtime; Arrow is on so any
    pandas UDF path is vectorized batch transfer, never per-row pickle.
    ``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[8,2,3072]`` spawns real executor JVMs (the sandbox's
    closest stand-in for a multi-executor cluster), or ``spark://...``
    on a real one.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 100 TB posture: bounded scan splits, pushdown on (defaults, made explicit)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # throughput-batch workload: ParallelGC beats G1 ~20% here and on
        # executor JVMs of a real cluster (defaultJavaOptions, so a user's
        # extraJavaOptions still override)
        .config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.defaultJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
