"""Checkpoint/lineage commit protocol: commit, metrics, resume-skip
(J5 semantics: already-committed partitions are pruned before any
processing — reference postgres.rs:122-168, cli.rs:321-356)."""

import os
import threading

import pyspark.sql.functions as F
import pytest

from cadastre_pg_spark.data.pages import generate_pages
from cadastre_pg_spark.lineage.checkpoints import (
    CheckpointLog,
    CommitConflict,
    chained_census,
    new_run_id,
    run_stage,
)
from cadastre_pg_spark.pipeline import run_import


@pytest.fixture
def base(tmp_path):
    return str(tmp_path / "lake")


def test_new_run_id_is_sortable_monotonic():
    """Ids minted back-to-back (same clock tick territory) still sort
    in generation order and never repeat."""
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
            census={k: run for k in range(10)},
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

    # a chained stage: its census comes from the log, not the input
    log = CheckpointLog(spark, base)

    def chained():
        upstream = log.committed("s").items()
        return chained_census("t", "1", (), upstream)

    kw["stage"] = "t"
    run_stage(spark, df, run_id="r3", census=chained(), **kw)
    assert acc.value == 4 * 1000  # the write only
    _, metrics = run_stage(spark, df, run_id="r4", census=chained(), **kw)
    assert acc.value == 4 * 1000  # a full resume: not at all
    assert metrics.collect() == []


def test_corrupt_log_raises(spark, base):
    """An unreadable log is an error, not "nothing committed": every
    file of the log cut to its first bytes (a torn write), whatever
    its format, must fail the next stage instead of reprocessing
    everything."""
    df = _input(spark)
    kw = dict(stage="s", partition_col="dep", base_dir=base,
              process=lambda d: d.withColumn("v2", F.col("v") * 2))
    run_stage(spark, df, run_id="r1", **kw)
    log_dir = CheckpointLog(spark, base).dir
    for f in os.listdir(log_dir):
        path = os.path.join(log_dir, f)
        if f.endswith(".crc"):
            os.remove(path)
        else:
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


def _double(d):
    return d.withColumn("v2", F.col("v") * 2)


def test_partition_processed_to_zero_rows_leaves_no_stale_rows(spark, base):
    """A partition whose reprocessing yields no rows writes no
    directory; its directory from the previous commit must go, and the
    commit must count 0 rows and 0 bytes for it."""
    df = _input(spark)
    kw = dict(stage="s", partition_col="dep", base_dir=base)
    run_stage(spark, df, run_id="r1", process=_double, **kw)
    changed = df.withColumn("v", F.col("v") + 1)  # every partition reprocessed
    out_dir, metrics = run_stage(
        spark, changed, run_id="r2", process=lambda d: _double(d).filter(F.col("dep") != 3), **kw
    )
    assert dict(metrics.collect())[3] == 0
    assert not os.path.exists(os.path.join(out_dir, "_pid=3"))
    out = spark.read.parquet(out_dir)
    assert out.filter(F.col("_pid") == 3).count() == 0
    assert out.count() == 900
    latest = [r for r in CheckpointLog(spark, base).read().collect() if r.run_id == "r2"]
    assert {(r.rows, r.bytes) for r in latest if r.partition_id == 3} == {(0, 0)}


def _committed_runs(spark, base) -> set:
    return {r.run_id for r in CheckpointLog(spark, base).read().collect()}


def test_crash_before_publish_resumes_exactly_once(spark, base, tmp_path, monkeypatch):
    """Killed after the temp entry is written, before it is published:
    nothing is committed, and the resume processes every partition
    once, into the output a clean run writes."""
    df = _input(spark)

    def crash(self, fs, tmp, final):
        raise RuntimeError("killed before publishing")

    monkeypatch.setattr(CheckpointLog, "_publish", crash)
    with pytest.raises(RuntimeError):
        run_stage(spark, df, stage="s", run_id="r1", partition_col="dep",
                  base_dir=base, process=_double)
    monkeypatch.undo()
    log_dir = CheckpointLog(spark, base).dir
    assert [f for f in os.listdir(log_dir) if f.endswith(".tmp")]  # the torn temp entry
    assert CheckpointLog(spark, base).read().count() == 0

    out_dir, metrics = run_stage(spark, df, stage="s", run_id="r2", partition_col="dep",
                                 base_dir=base, process=_double)
    assert sorted(r.partition_id for r in metrics.collect()) == list(range(10))
    assert [f for f in os.listdir(log_dir) if not f.startswith(".")] == [f"{1:020d}.json"]
    ref_dir, _ = run_stage(spark, df, stage="s", run_id="r", partition_col="dep",
                           base_dir=str(tmp_path / "ref"), process=_double)
    assert sorted(spark.read.parquet(out_dir).collect()) == sorted(
        spark.read.parquet(ref_dir).collect()
    )
    _, again = run_stage(spark, df, stage="s", run_id="r3", partition_col="dep",
                         base_dir=base, process=_double)
    assert again.collect() == []
    assert _committed_runs(spark, base) == {"r2"}


def test_crash_after_publish_resume_skips(spark, base, monkeypatch):
    """Killed once the entry is published: the commit stands, and the
    resume processes nothing."""
    df = _input(spark)
    publish = CheckpointLog._publish

    def publish_then_crash(self, fs, tmp, final):
        publish(self, fs, tmp, final)
        raise RuntimeError("killed after publishing")

    monkeypatch.setattr(CheckpointLog, "_publish", publish_then_crash)
    with pytest.raises(RuntimeError):
        run_stage(spark, df, stage="s", run_id="r1", partition_col="dep",
                  base_dir=base, process=_double)
    monkeypatch.undo()

    calls = []

    def process(d):
        calls.append(1)
        return _double(d)

    _, metrics = run_stage(spark, df, stage="s", run_id="r2", partition_col="dep",
                           base_dir=base, process=process)
    assert calls == [] and metrics.collect() == []
    assert _committed_runs(spark, base) == {"r1"}


def test_racing_writers_one_publishes(spark, base, monkeypatch):
    """Two writers that both read the log at version 0 race to publish
    version 1: exactly one entry lands, the other writer raises."""
    barrier = threading.Barrier(2, timeout=60)
    publish = CheckpointLog._publish

    def publish_together(self, fs, tmp, final):
        barrier.wait()  # both have chosen version 1 and written it
        publish(self, fs, tmp, final)

    monkeypatch.setattr(CheckpointLog, "_publish", publish_together)
    outcomes = {}

    def writer(run_id):
        commit = [(run_id, "s", 0, "h", 1, 1, "committed")]
        try:
            CheckpointLog(spark, base).append(commit)
            outcomes[run_id] = "published"
        except CommitConflict:
            outcomes[run_id] = "conflict"

    threads = [threading.Thread(target=writer, args=(r,)) for r in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert sorted(outcomes.values()) == ["conflict", "published"]
    winner = next(r for r, o in outcomes.items() if o == "published")
    log_dir = CheckpointLog(spark, base).dir
    assert [f for f in os.listdir(log_dir) if not f.startswith(".")] == [f"{1:020d}.json"]
    assert _committed_runs(spark, base) == {winner}


def test_unknown_file_in_log_raises(spark, base):
    """A file that is not a published entry, e.g. a part file of the
    older parquet log, is an error, not something to skip."""
    df = _input(spark)
    kw = dict(stage="s", partition_col="dep", base_dir=base, process=_double)
    run_stage(spark, df, run_id="r1", **kw)
    log_dir = CheckpointLog(spark, base).dir
    with open(os.path.join(log_dir, "part-00000-0.snappy.parquet"), "wb") as f:
        f.write(b"PAR1")
    with pytest.raises(ValueError, match="unknown file"):
        CheckpointLog(spark, base).read()
    with pytest.raises(ValueError, match="unknown file"):
        run_stage(spark, df, run_id="r2", **kw)


def _pages(spark, n):
    return generate_pages(spark, n).withColumn(
        "_part", F.pmod(F.xxhash64("dep"), F.lit(16)).cast("int")
    )


def _runs_by_stage(spark, base, run_id) -> dict:
    out = {}
    for r in CheckpointLog(spark, base).read().collect():
        if r.run_id == run_id:
            out.setdefault(r.stage, set()).add(r.partition_id)
    return out


def test_changed_extract_partition_reprocesses_all_placement(spark, base, tmp_path):
    """Pages changed in one extract partition: extract reprocesses that
    partition only, placement reprocesses every partition (the sha
    dedup is global), and the output equals a fresh run's."""
    pages = _pages(spark, 200)
    k = pages.groupBy("_part").count().orderBy(F.desc("count")).first()["_part"]
    changed = pages.filter((F.col("_part") != k) | (F.xxhash64("url") % 2 == 0))
    n_changed = changed.filter(F.col("_part") == k).count()
    kw = dict(n_parcels=20)
    run_import(spark, base, "r1", pages_df=pages.drop("_part"), **kw)
    extract_ids = _runs_by_stage(spark, base, "r1")["extract"]
    rep = run_import(spark, base, "r2", pages_df=changed.drop("_part"), **kw)
    fresh = run_import(spark, str(tmp_path / "fresh"), "f", pages_df=changed.drop("_part"), **kw)

    committed = _runs_by_stage(spark, base, "r2")
    assert committed["extract"] == {k}
    assert rep["extract"] == n_changed
    assert committed["placement"] == extract_ids
    cols = ["point_id", "parcel_id", "url", "dep_part"]
    got = spark.read.parquet(rep["out_dir"]).select(cols).collect()
    want = spark.read.parquet(fresh["out_dir"]).select(cols).collect()
    assert want and sorted(got) == sorted(want)
    assert rep["placement"] == fresh["placement"] == len(want)


def test_changed_parcels_reprocess_placement_only(spark, base):
    first = run_import(spark, base, "r1", n_pages=300, n_parcels=40)
    rep = run_import(spark, base, "r2", n_pages=300, n_parcels=60)
    committed = _runs_by_stage(spark, base, "r2")
    assert rep["extract"] == 0 and "extract" not in committed
    assert committed["placement"] == _runs_by_stage(spark, base, "r1")["extract"]
    assert rep["placement"] > first["placement"] > 0
    assert spark.read.parquet(rep["out_dir"]).count() == rep["placement"]
