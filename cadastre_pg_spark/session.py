"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here stands in for a multi-executor cluster; every setting
is chosen to survive a 1000-executor deployment (AQE on, skew-join
split on, Arrow batches for the NumPy kernels, UTC for oracle parity).
"""

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "cadastre_pg_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = (cores or os.cpu_count() or 8) * 2
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def one_wave(spark: SparkSession, units: int) -> int:
    """Task count of a Python stage over `units` input units: one wave
    on the session's cores, never more tasks than units, at least one.
    A Python task costs ~0.35 s of fixed latency on a 4-core host
    whatever its size, so extra waves cost more than they balance."""
    return max(1, min(spark.sparkContext.defaultParallelism, units))


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
