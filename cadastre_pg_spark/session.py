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
    if _daemon_importable():
        builder = builder.config(
            "spark.python.daemon.module", "cadastre_pg_spark.worker_daemon"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _daemon_importable() -> bool:
    """Whether the Python worker daemon can import this package when it
    starts. The master is local, so the daemon runs in the driver's cwd
    with the driver's PYTHONPATH; a package shipped as a --py-files zip
    reaches a worker only with its first task, so it keeps Spark's
    stock daemon."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return os.path.isdir(root) and any(
        e and os.path.realpath(e) == os.path.realpath(root) for e in entries
    )


def one_wave(spark: SparkSession, units: int) -> int:
    """Task count of a Python stage over `units` input units: one wave
    on the session's cores, never more tasks than units, at least one.
    A wave of Python tasks costs ~0.07-0.1 s of fixed latency on a
    4-core host whatever its size (~0.3 s with Spark's stock worker
    daemon, which re-reads pyspark.zip, the py4j zip and the
    spark-core jar on every task; see worker_daemon), so extra waves
    cost more than they balance (`scripts/python_task_cost.py`)."""
    return max(1, min(spark.sparkContext.defaultParallelism, units))


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
