"""Resumable commit protocol with per-partition lineage + metrics.

The engine's analog of the reference's `_archive_checksums` skip table
(cadastre-pg/src/export/postgres.rs:98-168, probe cli.rs:321-356):
a unit of work (partition) whose (stage, partition_id, content_hash)
is already committed is pruned BEFORE any processing, mirroring the
reference skipping whole archives before decompression.

A stage runs in five steps, and evaluates its input plan at most twice:

1. census — the partition id -> content hash map of the input. A
   source stage computes it with one small aggregate of its input (a
   data census); a derived stage passes it in, computed on the driver
   from what its upstream stage committed (`chained_census`), so its
   input is not evaluated for it;
2. skip set — the driver keeps the partitions not committed under
   their current hash (SQL anti-join semantics: a null hash never
   counts as committed, a null partition value is never processed);
3. write — the input, filtered to that literal id list, is processed
   and written to per-partition directories, its rows per partition
   counted by an observation of the write itself;
4. landed — the directory of every processed partition the write did
   not produce is deleted (it would keep the rows of an older commit),
   and bytes are summed from each partition's files;
5. append — one log entry holding a checkpoint row per processed
   partition, built from those driver-side values, is published as
   the next version of `_checkpoints`.

The log (Delta Lake's design, VLDB'20): `_checkpoints/<version:020d>.json`,
one entry per commit, versions 1, 2, ... . The driver writes an entry
to a dot-prefixed temp file and publishes it under the next version
put-if-absent, so a torn write is never a commit and two writers of
one version cannot both succeed: one publishes, the other raises.
Reading the log is a driver-side listing, no Spark job; the latest
version wins. Put-if-absent holds on the local filesystem (a hard
link, which fails atomically when the name exists) and on HDFS (an
atomic rename that refuses an existing name); object stores whose
rename is copy + delete do not give it.

North-rule extensions over the reference: per-partition row/byte
metrics (the reference only counts globally, cli.rs:285-291) and
idempotent output (deterministic per-partition directories +
overwrite) so a replayed task cannot double-count — SURVEY.md §7.4
hard part #3. Data files land first; publishing the log entry is the
commit point.

Schema (FIXTURES.md §3): run_id, stage, partition_id, content_hash,
rows, bytes, status, committed_at.
"""

import datetime
import hashlib
import itertools
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RUN_SEQ = itertools.count()


def new_run_id() -> str:
    """Sortable unique run id: zero-padded nanosecond timestamp +
    in-process counter + random suffix."""
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

# the columns a log entry stores per row; committed_at is per entry
_ROW_COLUMNS = CHECKPOINT_SCHEMA.names[:-1]
_ENTRY_NAME = re.compile(r"(\d{20})\.json")


class CommitConflict(RuntimeError):
    """Another writer published the log version this commit was for."""


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


def chained_census(stage: str, version: str, identity: tuple, upstream: list) -> dict:
    """The census of a stage derived from every partition an upstream
    stage committed: partition id -> one sha256 over the stage name,
    the version of its processing code, the identity of its other
    inputs and the sorted upstream (partition_id, content_hash) rows.
    The ids are the upstream ids. Any upstream change, a new `version`
    or a new `identity` reprocesses every partition; an unchanged
    upstream skips them all without evaluating the stage's input."""
    upstream = sorted(upstream)
    key = json.dumps([stage, version, list(identity), upstream])
    h = hashlib.sha256(key.encode("utf-8")).hexdigest()
    return {k: h for k, _ in upstream}


class CheckpointLog:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.dir = os.path.join(base_dir, "_checkpoints")

    def _versions(self, fs, path) -> list:
        """(version, Path) of every published entry, oldest first.
        Dot-prefixed names (unpublished temp files, checksum sidecars)
        are not entries; any other name raises."""
        if not fs.exists(path):
            return []
        out = []
        for status in fs.listStatus(path):
            name = status.getPath().getName()
            if name.startswith("."):
                continue
            m = _ENTRY_NAME.fullmatch(name)
            if m is None:
                raise ValueError(f"unknown file in checkpoint log: {status.getPath()}")
            out.append((int(m.group(1)), status.getPath()))
        return sorted(out)

    def _rows(self) -> list:
        """Every checkpoint row, in CHECKPOINT_SCHEMA order and log
        version order. A torn or malformed entry raises instead of
        passing for "nothing committed" and reprocessing everything."""
        fs, path = _hadoop_path(self.spark, self.dir)
        io = self.spark.sparkContext._jvm.org.apache.commons.io.IOUtils
        rows = []
        for _, p in self._versions(fs, path):
            stream = fs.open(p)
            try:
                entry = json.loads(bytes(io.toByteArray(stream)).decode("utf-8"))
            finally:
                stream.close()
            at = datetime.datetime.fromisoformat(entry["committed_at"])
            rows.extend(tuple(r[c] for c in _ROW_COLUMNS) + (at,) for r in entry["rows"])
        return rows

    def read(self) -> DataFrame:
        """The whole log as a local CHECKPOINT_SCHEMA frame; empty only
        when no entry has been published."""
        return _local_df(self.spark, self._rows(), CHECKPOINT_SCHEMA)

    def committed(self, stage: str) -> dict:
        """{partition_id: content_hash} of the LATEST committed row per
        partition. A partition re-committed with new content supersedes
        its old rows — only the current hash counts as done (matching
        the reference's ON CONFLICT DO UPDATE upsert,
        postgres.rs:98-168). Without this, a partition whose content
        *reverts* to any previously committed hash would be skipped
        while the output dir still holds the newer data."""
        latest = {}
        for _, row_stage, pid, content_hash, _, _, status, _ in self._rows():
            if row_stage == stage and status == "committed":
                latest[pid] = content_hash
        return latest

    def append(self, commits: list) -> None:
        """Publish `commits` (tuples of the CHECKPOINT_SCHEMA columns
        up to `status`) as one entry, the log's next version. Raises
        CommitConflict when another writer published that version
        first; nothing of this commit is then visible."""
        fs, path = _hadoop_path(self.spark, self.dir)
        version = max((v for v, _ in self._versions(fs, path)), default=0) + 1
        entry = {
            "committed_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "rows": [dict(zip(_ROW_COLUMNS, c)) for c in commits],
        }
        jvm = self.spark.sparkContext._jvm
        name = f"{version:020d}.json"
        tmp = jvm.org.apache.hadoop.fs.Path(path, f".{name}.{uuid.uuid4().hex}.tmp")
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(json.dumps(entry).encode("utf-8")))
        finally:
            out.close()
        self._publish(fs, tmp, jvm.org.apache.hadoop.fs.Path(path, name))

    def _publish(self, fs, tmp, final) -> None:
        """Put-if-absent of the written temp file under its final name,
        then remove the temp name."""
        if fs.getScheme() == "file":
            # Hadoop's local rename checks for an existing target before
            # it moves, which leaves a race; link(2) fails atomically
            def local(p):
                return fs.makeQualified(p).toUri().getPath()

            try:
                os.link(local(tmp), local(final))
                published = True
            except FileExistsError:
                published = False
        else:
            published = fs.rename(tmp, final)  # HDFS: atomic, False if taken
        fs.delete(tmp, False)  # after a rename: already gone, returns False
        if not published:
            raise CommitConflict(f"checkpoint log version already published: {final}")


def _data_census(input_df: DataFrame, partition_col: str) -> dict:
    """Content-derived partition hash (J5: the reference checksums the
    archive BYTES, cli.rs:1357-1374): order-independent sum of 32-bit
    row hashes over all columns — changed data => changed hash =>
    reprocess, identical data => skip."""
    row_hash = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in input_df.columns])), F.lit(1 << 32)
    )
    parts = (
        input_df.select(
            F.col(partition_col).cast("int").alias("partition_id"), row_hash.alias("rh")
        )
        .groupBy("partition_id")
        .agg(F.sum("rh").cast("string").alias("content_hash"))
    )
    return {r.partition_id: r.content_hash for r in parts.collect()}


def run_stage(
    spark: SparkSession,
    input_df: DataFrame,
    *,
    stage: str,
    run_id: str,
    partition_col: str,
    base_dir: str,
    process,
    census: dict | None = None,
):
    """Execute `process(df) -> df` over only the NOT-yet-committed
    partitions of input_df, write results partitioned by partition_col
    (idempotent per-partition dirs, overwritten on replay), then commit
    one checkpoint row per processed partition with the rows and bytes
    that landed.

    census -> driver-side skip set -> write -> landed -> append. The
    census is `census` (partition id -> content hash, e.g. from
    `chained_census`) when given, else one aggregate of the input; the
    input plan then runs once for the write, not at all when every
    partition is committed. The skip set, the metrics and the commit
    rows are driver-side literals.

    Returns (out_dir, metrics_df), metrics_df a local (partition_id,
    rows) frame of this call's commits: collecting it runs no job.
    Resume = call again with the same stage/base_dir: committed
    partitions are skipped before any processing (the J5 archive-skip
    semantics), and a call with nothing to do appends nothing."""
    log = CheckpointLog(spark, base_dir)
    out_dir = os.path.join(base_dir, stage)

    if census is None:
        census = _data_census(input_df, partition_col)
    done = log.committed(stage)
    todo = {
        k: h
        for k, h in census.items()
        if k is not None and (h is None or done.get(k) != h)
    }
    if not todo:
        return out_dir, _local_df(spark, [], METRICS_SCHEMA)
    todo_ids = sorted(todo)

    # rows per partition ride the write as observed metrics: no job.
    # One SQL string, not a Column per partition: each Column built in
    # Python costs Py4J round trips
    landed = Observation()
    counts = ", ".join(f"count(CASE WHEN _pid = {k} THEN 1 END)" for k in todo_ids)
    processed = (
        process(input_df.filter(F.col(partition_col).cast("int").isin(todo_ids)))
        .withColumn("_pid", F.col(partition_col).cast("int"))
        .observe(landed, F.expr(f"array({counts})").alias("rows"))
    )

    # data files first (idempotent: per-partition dirs, dynamic overwrite
    # as an option of this write, not the session conf other writers share)
    (
        processed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_pid")
        .parquet(out_dir)
    )
    rows = dict(zip(todo_ids, landed.get["rows"]))

    def partition_dir(k: int):
        return _hadoop_path(spark, os.path.join(out_dir, f"_pid={k}"))

    # landed: dynamic overwrite replaces only the directories the write
    # produced, so a partition processed to 0 rows would keep the rows
    # of its previous commit. Bytes come from each partition's files.
    for k in todo_ids:
        if rows[k] == 0:
            fs, path = partition_dir(k)
            fs.delete(path, True)

    def landed_bytes(k: int) -> int:
        fs, path = partition_dir(k)
        return fs.getContentSummary(path).getLength() if rows[k] else 0

    log.append(
        [(run_id, stage, k, todo[k], rows[k], landed_bytes(k), "committed") for k in todo_ids]
    )
    return out_dir, _local_df(spark, [(k, rows[k]) for k in todo_ids], METRICS_SCHEMA)
