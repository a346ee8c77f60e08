"""Structured Streaming smoke: the streaming windowed aggregation must
equal the batch plan on the same parquet input."""

import pyspark.sql.functions as F

from cadastre_pg_spark.streaming.events import (
    sessionize,
    windowed_counts_batch,
    windowed_counts_stream,
)
from conftest import SF_UNIT


def test_stream_equals_batch(spark, tmp_path):
    # the streaming parquet source wants a directory of files
    import shutil

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF_UNIT}/events.parquet", src_dir / "part-0.parquet")
    q = windowed_counts_stream(spark, str(src_dir), query_name="ewtest")
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT * FROM ewtest ORDER BY win_start, event_type"
        ).collect()
    finally:
        q.stop()
    events = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    exp = (
        windowed_counts_batch(events).orderBy("win_start", "event_type").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) > 0


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState totals must equal the batch aggregate."""
    import shutil

    from cadastre_pg_spark.streaming.stateful import running_user_totals_stream

    src = tmp_path / "ev"
    src.mkdir()
    shutil.copy(f"{SF_UNIT}/events.parquet", src / "part-0.parquet")
    q = running_user_totals_stream(spark, str(src), query_name="ut_test")
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.n_events, round(r.total_value, 2))
            for r in spark.sql(
                """SELECT user_id, n_events, total_value FROM (
                     SELECT *, row_number() OVER (PARTITION BY user_id
                         ORDER BY n_events DESC) rn FROM ut_test) WHERE rn=1"""
            ).collect()
        }
    finally:
        q.stop()
    ev = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    exp = {
        r.user_id: (r.n, round(r.t, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert got == exp


def test_streaming_dedup(spark, tmp_path):
    """Stateful streaming dedup: unique shas across TWO micro-batches
    of the same file == batch-exact dedup (second batch all dupes)."""
    import shutil

    from cadastre_pg_spark.streaming.dedup import streaming_dedup

    src = tmp_path / "docs"
    src.mkdir()
    shutil.copy(f"{SF_UNIT}/documents.parquet", src / "a.parquet")
    q = streaming_dedup(spark, str(src), query_name="sd_test")
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) FROM sd_test").head()[0]
        # second batch: identical content again -> zero new survivors
        shutil.copy(f"{SF_UNIT}/documents.parquet", src / "b.parquet")
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) FROM sd_test").head()[0]
    finally:
        q.stop()
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    n_unique = docs.select("text").distinct().count()
    assert n1 == n_unique
    assert n2 == n1  # every row of batch 2 was a known hash


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode watermark: a second file whose events are far behind
    the advanced watermark must NOT create new finalized windows."""
    import pandas as pd

    early = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-06-01 00:01:00", "2024-06-01 00:02:00"]),
            "user_id": [1, 2],
            "event_type": ["a", "a"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    )
    late = early.assign(
        event_id=[3, 4],
        ts=pd.to_datetime(["2024-01-01 00:01:00", "2024-01-01 00:02:00"]),
    )
    much_later = early.assign(
        event_id=[5, 6],
        ts=pd.to_datetime(["2024-06-02 00:01:00", "2024-06-02 00:02:00"]),
    )
    src = tmp_path / "ev"
    src.mkdir()
    early.to_parquet(src / "1.parquet", coerce_timestamps="us")
    from cadastre_pg_spark.streaming.events import windowed_counts_stream

    q = (
        spark.readStream.format("parquet")
        .schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .load(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .count()
        .select(F.col("w.start").alias("win_start"), "event_type", "count")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        much_later.to_parquet(src / "2.parquet", coerce_timestamps="us")  # advances the watermark
        q.processAllAvailable()
        n_before = spark.sql(
            "SELECT count(*) FROM wm_test WHERE win_start < '2024-02-01'"
        ).head()[0]
        late.to_parquet(src / "3.parquet", coerce_timestamps="us")  # months behind the watermark
        q.processAllAvailable()
        n_after = spark.sql(
            "SELECT count(*) FROM wm_test WHERE win_start < '2024-02-01'"
        ).head()[0]
    finally:
        q.stop()
    assert n_before == 0 and n_after == 0  # late data dropped


def test_sessionize(spark):
    events = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    out = sessionize(events, gap_minutes=30)
    assert out.select("session_id").distinct().count() >= out.select(
        "user_id"
    ).distinct().count()
    # sessions are per-user
    assert (
        out.filter(~F.col("session_id").startswith(F.col("user_id").cast("string")))
        .count()
        == 0
    )


def test_streaming_dedup_bounded_bloom(spark, tmp_path):
    """Bounded-state (Bloom + TTL) dedup: same two-micro-batch contract
    as the exact variant. At 500 docs / 32 buckets the filter is at
    ~1/4000 of design load, so FP ~ 0 and the output must equal the
    exact dedup; state stays 16 KiB/bucket regardless of input size."""
    import shutil

    from cadastre_pg_spark.streaming.dedup import streaming_dedup_bounded

    src = tmp_path / "docs_b"
    src.mkdir()
    shutil.copy(f"{SF_UNIT}/documents.parquet", src / "a.parquet")
    q = streaming_dedup_bounded(spark, str(src), query_name="sdb_test")
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) FROM sdb_test").head()[0]
        shutil.copy(f"{SF_UNIT}/documents.parquet", src / "b.parquet")
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) FROM sdb_test").head()[0]
    finally:
        q.stop()
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    n_unique = docs.select("text").distinct().count()
    assert n1 == n_unique
    assert n2 == n1  # batch 2 rows are all known hashes (no FP resets)


def test_bloom_fn_timeout_branch():
    """TTL expiry drops the bucket state (pure-python: the streaming
    runtime schedules continuous timeout batches, so the branch is
    exercised on the state function directly)."""
    import pandas as pd

    from cadastre_pg_spark.streaming.dedup import make_dedup_bloom_fn

    class FakeState:
        def __init__(self):
            self.hasTimedOut = True
            self.removed = False
            self.exists = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(make_dedup_bloom_fn(1000)("k", iter([]), st))
    assert st.removed
    assert len(out) == 1 and len(out[0]) == 0
    assert list(out[0].columns) == ["doc_id", "text_sha"]


def test_streaming_placement_equals_batch(spark, tmp_path, monkeypatch):
    """Stream-static spatial placement == the batch cell join on the
    same points files (the north-star workload under Structured
    Streaming semantics), over one micro-batch per file, on every
    gate combination — and release_cached(query) frees the join's
    persisted build side."""
    import os

    from cadastre_pg_spark.operators import spatial_join as SJ
    from cadastre_pg_spark.operators.held import release_cached
    from cadastre_pg_spark.operators.spatial_join import (
        cell_spatial_join,
        parcels_from_parts,
        points_from_docs,
    )
    from cadastre_pg_spark.streaming.placement import placement_stream
    from conftest import persisted_rdd_ids

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    points = points_from_docs(docs)
    parcels = parcels_from_parts(parts)

    src = tmp_path / "pts"
    points.repartitionByRange(3, "point_id").write.parquet(str(src))
    n_files = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_files >= 3
    gates = {
        "broadcast_flat": {},
        "shuffle": {"BROADCAST_PARCEL_LIMIT": 0},
        "salted_shuffle": {"BROADCAST_PARCEL_LIMIT": 0, "HOT_CELL_THRESHOLD": 0},
        "compact": {"COMPACT_CELLS_THRESHOLD": -1},
    }
    for name, constants in gates.items():
        # a same-plan cache left by another run would absorb the persists
        spark.catalog.clearCache()
        before = persisted_rdd_ids(spark)
        with monkeypatch.context() as m:
            for const, value in constants.items():
                m.setattr(SJ, const, value)
            q = placement_stream(
                spark,
                str(src),
                parcels,
                level=10,
                query_name=f"pl_{name}",
                max_files_per_trigger=1,
            )
            try:
                q.processAllAvailable()
                batches = [p for p in q.recentProgress if p["numInputRows"]]
                got = {
                    (r.point_id, r.parcel_id)
                    for r in spark.sql(f"SELECT * FROM pl_{name}").collect()
                }
            finally:
                q.stop()
            assert persisted_rdd_ids(spark) - before, name
            release_cached(q)
            assert not persisted_rdd_ids(spark) - before, name
            batch = cell_spatial_join(points, parcels, level=10)
            exp = {(r.point_id, r.parcel_id) for r in batch.collect()}
            release_cached(batch)
        assert len(batches) == n_files, name
        assert got == exp and len(got) > 0, name


def _write_time_slices(spark, tmp_path, n_slices=3):
    """Split sf0.001 events into time-ordered parquet files with
    ascending mtimes so the file source replays them in event-time
    order (maxFilesPerTrigger=1 -> one micro-batch per slice)."""
    import os
    import shutil

    ev = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    ts_sorted = [r.ts for r in ev.select("ts").orderBy("ts").collect()]
    n = len(ts_sorted)
    bounds = [ts_sorted[(i + 1) * n // n_slices - 1] for i in range(n_slices)]
    src = tmp_path / "ev_slices"
    src.mkdir()
    import pyspark.sql.functions as SF

    prev = None
    for i, b in enumerate(bounds):
        cond = SF.col("ts") <= SF.lit(b)
        if prev is not None:
            cond = cond & (SF.col("ts") > SF.lit(prev))
        part_dir = tmp_path / f"slice{i}"
        ev.filter(cond).coalesce(1).write.parquet(str(part_dir))
        part = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
        dst = src / f"{i}.parquet"
        shutil.copy(part_dir / part, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        prev = b
    return src, ev


def test_streaming_sessions_equal_batch(spark, tmp_path):
    """Stateful streaming sessionization across 3 time-ordered
    micro-batches == the batch window operator, row for row."""
    from cadastre_pg_spark.operators.sessions import sessionize as batch_sessionize
    from cadastre_pg_spark.streaming.sessions import sessionize_stream

    src, ev = _write_time_slices(spark, tmp_path)
    q = sessionize_stream(spark, str(src), query_name="ss_test")
    try:
        q.processAllAvailable()
        got = {
            (r.event_id, r.user_id, r.session_idx)
            for r in spark.sql("SELECT * FROM ss_test").collect()
        }
    finally:
        q.stop()
    exp = {
        (r.event_id, r.user_id, r.session_idx)
        for r in batch_sessionize(ev).select(
            "event_id", "user_id", "session_idx"
        ).collect()
    }
    assert len(got) == ev.count()
    assert got == exp


def test_streaming_sessions_disorder_policy(spark, tmp_path):
    """An event older than a user's state: 'error' kills the query
    loudly; 'current' assigns it to the open session."""
    import os

    import pandas as pd
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from cadastre_pg_spark.streaming.sessions import sessionize_stream

    def mk(eids, times):
        return pd.DataFrame(
            {
                "event_id": eids,
                "ts": pd.to_datetime(times),
                "user_id": [7] * len(eids),
                "event_type": ["a"] * len(eids),
                "value": [1.0] * len(eids),
                "props": ["{}"] * len(eids),
            }
        )

    for policy in ("error", "current"):
        src = tmp_path / f"dis_{policy}"
        src.mkdir()
        mk([1, 2], ["2024-06-01 10:00:00", "2024-06-01 12:00:00"]).to_parquet(
            src / "0.parquet", coerce_timestamps="us"
        )
        late = src / "1.parquet"
        mk([3], ["2024-06-01 10:05:00"]).to_parquet(late, coerce_timestamps="us")
        os.utime(src / "0.parquet", (1_700_000_000, 1_700_000_000))
        os.utime(late, (1_700_000_100, 1_700_000_100))
        q = sessionize_stream(
            spark, str(src), query_name=f"dis_{policy}", on_disorder=policy
        )
        try:
            if policy == "error":
                with pytest.raises(StreamingQueryException, match="disordered"):
                    q.processAllAvailable()
            else:
                q.processAllAvailable()
                got = {
                    (r.event_id, r.session_idx)
                    for r in spark.sql(f"SELECT * FROM dis_{policy}").collect()
                }
                # events 1,2 are >30min apart -> sessions 1,2; the late
                # event joins the OPEN session (2), never rewrites history
                assert got == {(1, 1), (2, 2), (3, 2)}
        finally:
            q.stop()


def test_stream_stream_attribution_equals_batch(spark, tmp_path):
    """Stream-stream inner join (watermarked both sides, time-range
    state bound) must emit exactly the batch pair set."""
    import shutil

    from cadastre_pg_spark.streaming.events import (
        attribution_pairs_batch,
        attribution_pairs_stream,
    )

    src_dir = tmp_path / "events_ss"
    src_dir.mkdir()
    shutil.copy(f"{SF_UNIT}/events.parquet", src_dir / "part-0.parquet")
    q = attribution_pairs_stream(spark, str(src_dir), query_name="attrss")
    try:
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in spark.sql("SELECT * FROM attrss").collect()
        }
    finally:
        q.stop()
    events = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    exp = {tuple(r) for r in attribution_pairs_batch(events).collect()}
    assert got == exp
    assert len(exp) > 0


def test_last_click_attribution_rules(spark):
    """Latest in-window click wins; ties break on click_id DESC;
    purchases with no in-window click are absent."""
    from datetime import datetime

    from cadastre_pg_spark.streaming.events import last_click_attribution

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: two clicks before buy (latest wins), one too old
        (1, t(0), 1, "click", 0.0, ""),
        (2, t(20), 1, "click", 0.0, ""),
        (3, t(25), 1, "click", 0.0, ""),
        (4, t(40), 1, "purchase", 9.0, ""),   # window [10, 40]
        # user 2: tie on ts -> higher click_id wins
        (5, t(5), 2, "click", 0.0, ""),
        (6, t(5), 2, "click", 0.0, ""),
        (7, t(10), 2, "purchase", 3.0, ""),
        # user 3: no click in window
        (8, t(0), 3, "click", 0.0, ""),
        (9, t(50), 3, "purchase", 1.0, ""),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["buy_id"]: r for r in last_click_attribution(events, 30).collect()}
    assert set(out) == {4, 7}
    assert out[4]["click_id"] == 3 and out[4]["n_candidate_clicks"] == 2
    assert out[7]["click_id"] == 6 and out[7]["n_candidate_clicks"] == 2
