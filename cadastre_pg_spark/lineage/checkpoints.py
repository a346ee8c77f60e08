"""Resumable commit protocol with per-partition lineage + metrics.

The engine's analog of the reference's `_archive_checksums` skip table
(cadastre-pg/src/export/postgres.rs:98-168, probe cli.rs:321-356):
a unit of work (partition) whose (stage, partition_id, content_hash)
is already committed is pruned BEFORE any processing, mirroring the
reference skipping whole archives before decompression.

A stage runs in five steps, and evaluates its input plan at most twice:

1. census — one small aggregate of the input (<= one row per
   partition: its id and content hash) and the stage's committed rows
   are collected to the driver;
2. skip set — the driver keeps the partitions not committed under
   their current hash (SQL anti-join semantics: a null hash never
   counts as committed, a null partition value is never processed);
3. write — the input, filtered to that literal id list, is processed
   and written to per-partition directories;
4. landed — rows per written partition are counted from the output's
   partition column, bytes are summed from its files;
5. append — one checkpoint row per processed partition, built from
   those driver-side values, is appended to `_checkpoints`.

North-rule extensions over the reference: per-partition row/byte
metrics (the reference only counts globally, cli.rs:285-291) and
idempotent output (deterministic per-partition directories +
overwrite) so a replayed task cannot double-count — SURVEY.md §7.4
hard part #3. Without Iceberg jars in the environment this is an
honest Parquet-backed emulation of snapshot commit semantics
(SURVEY.md §7.2): data files land first, the checkpoint row append is
the commit point.

Schema (FIXTURES.md §3): run_id, stage, partition_id, content_hash,
rows, bytes, status, committed_at.
"""

import itertools
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RUN_SEQ = itertools.count()


def new_run_id() -> str:
    """Sortable monotonic run id: zero-padded nanosecond timestamp +
    in-process counter + random suffix. committed() breaks equal
    committed_at timestamps on run_id DESC, so ids from here make
    latest-wins exact even for commits inside the same clock tick
    (current_timestamp is per-query constant at microseconds). Callers
    minting their own run_ids must keep them chronologically sortable
    to retain that guarantee."""
    return f"{time.time_ns():020d}-{next(_RUN_SEQ):06d}-{uuid.uuid4().hex[:8]}"

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)

METRICS_SCHEMA = T.StructType([CHECKPOINT_SCHEMA["partition_id"], CHECKPOINT_SCHEMA["rows"]])


def _local_df(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A local relation of driver-side tuples, built from an Arrow table:
    collecting it runs no job, empty or not (createDataFrame(list)
    parallelizes the rows through a Python worker instead)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of `path` through the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


class CheckpointLog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.dir = os.path.join(base_dir, "_checkpoints")

    def read(self) -> DataFrame:
        """The whole log; empty only when `_checkpoints` does not exist.
        An unreadable log raises (here or at the first action) instead
        of passing for "nothing committed" and reprocessing everything."""
        fs, path = _hadoop_path(self.spark, self.dir)
        if not fs.exists(path):
            return _local_df(self.spark, [], CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.dir)

    def committed(self, stage: str) -> DataFrame:
        """(partition_id, content_hash) of the LATEST committed row per
        partition. The log is append-only, so a partition re-committed
        with new content supersedes its old rows — only the current
        hash counts as done (matching the reference's ON CONFLICT DO
        UPDATE upsert, postgres.rs:98-168). Without this, a partition
        whose content *reverts* to any previously committed hash would
        be skipped while the output dir still holds the newer data.

        Ties on committed_at (two commits inside one clock tick) break
        on run_id DESC — chronological ONLY if run_ids sort by creation
        time. new_run_id() mints ids with that property; use it (or an
        equally sortable scheme) when runs can commit back-to-back."""
        from pyspark.sql import Window

        w = Window.partitionBy("partition_id").orderBy(
            F.col("committed_at").desc(), F.col("run_id").desc()
        )
        return (
            self.read()
            .filter((F.col("stage") == stage) & (F.col("status") == "committed"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("partition_id", "content_hash")
        )

    def append(self, rows_df: DataFrame) -> None:
        rows_df.write.mode("append").parquet(self.dir)


def run_stage(
    spark: SparkSession,
    input_df: DataFrame,
    *,
    stage: str,
    run_id: str,
    partition_col: str,
    base_dir: str,
    process,
    content_hash_col=None,
):
    """Execute `process(df) -> df` over only the NOT-yet-committed
    partitions of input_df, write results partitioned by partition_col
    (idempotent per-partition dirs, overwritten on replay), then commit
    one checkpoint row per processed partition with the rows and bytes
    that landed.

    census -> driver-side skip set -> write -> landed -> append: the
    input plan runs once for the census and once for the write (not at
    all for the write when every partition is committed); the skip set,
    the metrics and the commit rows are driver-side literals.

    Returns (out_dir, metrics_df), metrics_df a local (partition_id,
    rows) frame of this call's commits: collecting it runs no job.
    Resume = call again with the same stage/base_dir: committed
    partitions are skipped before any processing (the J5 archive-skip
    semantics), and a call with nothing to do appends nothing."""
    log = CheckpointLog(spark, base_dir)
    out_dir = os.path.join(base_dir, stage)

    # census. Content-derived partition hash (J5: the reference
    # checksums the archive BYTES, cli.rs:1357-1374): order-independent
    # sum of 32-bit row hashes over all columns — changed data =>
    # changed hash => reprocess, identical data => skip
    if content_hash_col is None:
        row_hash = F.pmod(
            F.xxhash64(F.struct(*[F.col(c) for c in input_df.columns])),
            F.lit(1 << 32),
        )
        parts = (
            input_df.select(
                F.col(partition_col).cast("int").alias("partition_id"),
                row_hash.alias("rh"),
            )
            .groupBy("partition_id")
            .agg(F.sum("rh").cast("string").alias("content_hash"))
        )
    else:
        parts = (
            input_df.select(
                F.col(partition_col).cast("int").alias("partition_id"),
                content_hash_col.alias("content_hash"),
            )
            .groupBy("partition_id")
            .agg(F.min("content_hash").cast("string").alias("content_hash"))
        )
    done = {r.partition_id: r.content_hash for r in log.committed(stage).collect()}
    todo = {
        r.partition_id: r.content_hash
        for r in parts.collect()
        if r.partition_id is not None
        and (r.content_hash is None or done.get(r.partition_id) != r.content_hash)
    }
    if not todo:
        return out_dir, _local_df(spark, [], METRICS_SCHEMA)
    todo_ids = sorted(todo)

    processed = process(
        input_df.filter(F.col(partition_col).cast("int").isin(todo_ids))
    ).withColumn("_pid", F.col(partition_col).cast("int"))

    # data files first (idempotent: per-partition dirs, dynamic overwrite).
    # Save/restore the session conf — leaking 'dynamic' would silently
    # change the semantics of unrelated overwrite-partitioned writes.
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev_mode = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "dynamic")
    try:
        processed.write.mode("overwrite").partitionBy("_pid").parquet(out_dir)
    finally:
        if prev_mode is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_mode)

    # landed: rows from the partition column alone (a count served from
    # file footers, not a re-scan of the stage output), bytes from the
    # files of each partition directory. A partition whose processing
    # produced no rows has no directory: 0 rows, 0 bytes.
    rows = dict(
        spark.read.schema(processed.schema)
        .parquet(out_dir)
        .select("_pid")
        .filter(F.col("_pid").isin(todo_ids))
        .groupBy("_pid")
        .count()
        .collect()
    )

    def landed_bytes(k: int) -> int:
        fs, path = _hadoop_path(spark, os.path.join(out_dir, f"_pid={k}"))
        return fs.getContentSummary(path).getLength() if fs.exists(path) else 0

    commits = [
        (run_id, stage, k, todo[k], rows.get(k, 0), landed_bytes(k), "committed")
        for k in todo_ids
    ]
    log.append(
        _local_df(spark, commits, T.StructType(CHECKPOINT_SCHEMA.fields[:-1]))
        .withColumn("committed_at", F.current_timestamp())
    )
    return out_dir, _local_df(spark, [(k, rows.get(k, 0)) for k in todo_ids], METRICS_SCHEMA)
