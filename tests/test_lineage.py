"""Checkpoint/lineage commit protocol: commit, metrics, resume-skip
(J5 semantics: already-committed partitions are pruned before any
processing — reference postgres.rs:122-168, cli.rs:321-356)."""

import os

import pyspark.sql.functions as F
import pytest

from cadastre_pg_spark.lineage.checkpoints import CheckpointLog, new_run_id, run_stage


@pytest.fixture
def base(tmp_path):
    return str(tmp_path / "lake")


def test_new_run_id_is_sortable_monotonic():
    """committed() tie-breaks equal committed_at on run_id DESC; ids
    minted back-to-back (same clock tick territory) must still sort in
    generation order."""
    ids = [new_run_id() for _ in range(200)]
    assert ids == sorted(ids)
    assert len(set(ids)) == 200


def _input(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).cast("int").alias("dep"),
        (F.col("id") * 2).alias("v"),
    )


def test_commit_and_metrics(spark, base):
    df = _input(spark)
    out_dir, metrics = run_stage(
        spark,
        df,
        stage="double",
        run_id="r1",
        partition_col="dep",
        base_dir=base,
        process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    log = CheckpointLog(spark, base)
    ck = log.read().filter(F.col("stage") == "double")
    assert ck.count() == 10  # one committed row per partition
    assert ck.agg(F.sum("rows")).head()[0] == 1000
    assert spark.read.parquet(out_dir).count() == 1000


def test_resume_skips_committed(spark, base):
    df = _input(spark)
    calls = []

    def process(d):
        calls.append(1)
        return d.withColumn("v2", F.col("v") * 2)

    run_stage(
        spark, df, stage="s", run_id="r1", partition_col="dep",
        base_dir=base, process=process,
    )
    files = sorted(os.listdir(CheckpointLog(spark, base).dir))
    # second run: everything committed -> process sees an EMPTY remainder
    out_dir, _ = run_stage(
        spark, df, stage="s", run_id="r2", partition_col="dep",
        base_dir=base, process=process,
    )
    log = CheckpointLog(spark, base)
    second = log.read().filter(F.col("run_id") == "r2")
    assert second.count() == 0  # nothing re-committed
    assert sorted(os.listdir(log.dir)) == files  # not even an empty part file
    assert spark.read.parquet(out_dir).count() == 1000  # data intact


def test_resume_processes_only_new_partitions(spark, base):
    df1 = _input(spark).filter(F.col("dep") < 5)
    run_stage(
        spark, df1, stage="s", run_id="r1", partition_col="dep",
        base_dir=base,
        process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    df2 = _input(spark)  # now all 10 partitions
    _, committed = run_stage(
        spark, df2, stage="s", run_id="r2", partition_col="dep",
        base_dir=base,
        process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    new_parts = sorted(r.partition_id for r in committed.collect())
    assert new_parts == [5, 6, 7, 8, 9]  # only the uncommitted half


def test_changed_content_reprocesses(spark, base):
    """J5: identical partition values but CHANGED data must reprocess
    (the reference re-imports when the archive checksum changes)."""
    df1 = _input(spark)
    run_stage(
        spark, df1, stage="s", run_id="r1", partition_col="dep",
        base_dir=base,
        process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    df2 = df1.withColumn("v", F.col("v") + 1)  # same partitions, new data
    _, committed = run_stage(
        spark, df2, stage="s", run_id="r2", partition_col="dep",
        base_dir=base,
        process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    assert committed.count() == 10  # every partition re-committed


def test_replay_is_idempotent(spark, base):
    """A replayed partition overwrites its own files — no double rows
    (SURVEY.md §7.4 hard part #3)."""
    df = _input(spark)
    for run in ("r1", "r2"):
        out_dir, _ = run_stage(
            spark, df, stage="s", run_id=run, partition_col="dep",
            base_dir=base,
            process=lambda d: d.withColumn("v2", F.col("v") * 2),
            # force reprocessing by salting the content hash per run
            content_hash_col=F.lit(run),
        )
    assert spark.read.parquet(out_dir).count() == 1000


def _counted_input(spark):
    """_input behind a mapInPandas that adds every row it emits to an
    accumulator: the number of times run_stage evaluates its input."""
    acc = spark.sparkContext.accumulator(0)
    df = _input(spark)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(count_rows, df.schema), acc


def test_input_evaluated_once_for_census_once_for_write(spark, base):
    df, acc = _counted_input(spark)
    kw = dict(stage="s", partition_col="dep", base_dir=base,
              process=lambda d: d.withColumn("v2", F.col("v") * 2))

    _, metrics = run_stage(spark, df, run_id="r1", **kw)
    assert acc.value == 2 * 1000  # census + write

    sc = spark.sparkContext
    sc.setJobGroup("lineage-metrics-collect", "collect run_stage metrics")
    try:
        assert sum(r.rows for r in metrics.collect()) == 1000
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert list(sc.statusTracker().getJobIdsForGroup("lineage-metrics-collect")) == []

    _, metrics = run_stage(spark, df, run_id="r2", **kw)
    assert acc.value == 3 * 1000  # a full resume: the census only
    assert metrics.collect() == []


def test_corrupt_log_raises(spark, base):
    """An unreadable log is an error, not "nothing committed": every
    part file of the log cut to its first bytes (a torn write) must
    fail the next stage instead of reprocessing everything."""
    df = _input(spark)
    kw = dict(stage="s", partition_col="dep", base_dir=base,
              process=lambda d: d.withColumn("v2", F.col("v") * 2))
    run_stage(spark, df, run_id="r1", **kw)
    log_dir = CheckpointLog(spark, base).dir
    for f in os.listdir(log_dir):
        path = os.path.join(log_dir, f)
        if f.endswith(".crc"):
            os.remove(path)
        elif f.endswith(".parquet"):
            os.truncate(path, 64)
    with pytest.raises(Exception):
        run_stage(spark, df, run_id="r2", **kw)


def test_bytes_measured_from_landed_files(spark, base):
    df = _input(spark)
    out_dir, _ = run_stage(
        spark, df, stage="s", run_id="r1", partition_col="dep",
        base_dir=base, process=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    got = {r.partition_id: r.bytes for r in CheckpointLog(spark, base).read().collect()}
    want = {}
    for k in range(10):
        d = os.path.join(out_dir, f"_pid={k}")
        want[k] = sum(
            os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            if not f.startswith((".", "_"))
        )
    assert got == want
    assert all(v > 0 for v in want.values())


def test_crash_between_write_and_append_resumes_exactly_once(spark, base, tmp_path, monkeypatch):
    df = _input(spark)
    kw = dict(stage="s", partition_col="dep",
              process=lambda d: d.withColumn("v2", F.col("v") * 2))

    def crash(self, rows_df):
        raise RuntimeError("killed before the commit point")

    monkeypatch.setattr(CheckpointLog, "append", crash)
    with pytest.raises(RuntimeError):
        run_stage(spark, df, run_id="r1", base_dir=base, **kw)
    monkeypatch.undo()
    assert not os.path.exists(CheckpointLog(spark, base).dir)  # nothing committed

    out_dir, _ = run_stage(spark, df, run_id="r2", base_dir=base, **kw)
    ref_dir, _ = run_stage(spark, df, run_id="r", base_dir=str(tmp_path / "ref"), **kw)
    cols = ["id", "dep", "v", "v2", "_pid"]
    assert (
        sorted(spark.read.parquet(out_dir).select(cols).collect())
        == sorted(spark.read.parquet(ref_dir).select(cols).collect())
    )
    log = CheckpointLog(spark, base).read().filter(F.col("stage") == "s").collect()
    assert sorted(r.partition_id for r in log) == list(range(10))
    assert {r.run_id for r in log} == {"r2"}
