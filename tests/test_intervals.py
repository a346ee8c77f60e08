"""Interval-point bucketed join vs brute-force containment."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.held import skipped
from cadastre_pg_spark.operators.intervals import interval_point_join

T0 = datetime(2024, 3, 1, 0, 0, 0)


def _mk(spark, n_iv=80, n_pt=300):
    ivs = [
        (
            i,
            T0 + timedelta(minutes=(i * 37) % 5000),
            T0 + timedelta(minutes=(i * 37) % 5000 + 5 + (i * 13) % 240),
        )
        for i in range(n_iv)
    ]
    pts = [
        (j, T0 + timedelta(minutes=(j * 17) % 5200, seconds=j % 60))
        for j in range(n_pt)
    ]
    return (
        spark.createDataFrame(
            ivs, "interval_id long, start_ts timestamp, end_ts timestamp"
        ),
        spark.createDataFrame(pts, "point_id long, ts timestamp"),
        ivs,
        pts,
    )


def _brute(ivs, pts):
    return {
        (p, i)
        for i, s, e in ivs
        for p, t in pts
        if s <= t <= e
    }


@pytest.mark.parametrize("bucket_seconds", [600, 3600, 86400])
def test_interval_join_matches_brute(spark, bucket_seconds):
    iv_df, pt_df, ivs, pts = _mk(spark)
    got = {
        (r.point_id, r.interval_id)
        for r in interval_point_join(iv_df, pt_df, bucket_seconds).collect()
    }
    exp = _brute(ivs, pts)
    assert got == exp and len(exp) > 100


def test_interval_join_no_duplicate_pairs(spark):
    iv_df, pt_df, _, _ = _mk(spark)
    out = interval_point_join(iv_df, pt_df, 600)
    assert out.count() == out.select("point_id", "interval_id").distinct().count()


def test_interval_join_fanout_guard_raises(spark):
    iv_df, pt_df, _, _ = _mk(spark)
    with pytest.raises(Exception, match="spans more than"):
        interval_point_join(
            iv_df, pt_df, bucket_seconds=60, max_buckets_per_interval=3
        ).count()


def _brute_overlap(ivs):
    out = set()
    for i, s, e in ivs:
        for j, s2, e2 in ivs:
            if i < j and s <= e2 and s2 <= e:
                out.add((i, j))
    return out


@pytest.mark.parametrize("bucket_seconds", [600, 3600, 86400])
def test_interval_overlap_self_join_matches_brute(spark, bucket_seconds):
    from cadastre_pg_spark.operators.intervals import interval_overlap_join

    iv_df, _, ivs, _ = _mk(spark)
    rows = interval_overlap_join(iv_df, bucket_seconds=bucket_seconds).collect()
    got = {(r.a_id, r.b_id) for r in rows}
    assert got == _brute_overlap(ivs) and len(got) > 50
    # each pair exactly once (first-shared-bucket rule, no distinct)
    assert len(rows) == len(got)
    # overlap duration is the closed-bound intersection length
    by_id = {i: (s, e) for i, s, e in ivs}
    for r in rows:
        s1, e1 = by_id[r.a_id]
        s2, e2 = by_id[r.b_id]
        exp_us = int((min(e1, e2) - max(s1, s2)).total_seconds() * 1_000_000)
        assert r.overlap_us == exp_us


def test_interval_overlap_two_table(spark):
    from cadastre_pg_spark.operators.intervals import interval_overlap_join

    iv_df, _, ivs, _ = _mk(spark, n_iv=40)
    other = [(100 + i, s, e) for i, s, e in ivs[:20]]
    o_df = spark.createDataFrame(
        other, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    got = {
        (r.a_id, r.b_id)
        for r in interval_overlap_join(iv_df, o_df, 3600).collect()
    }
    exp = {
        (i, j)
        for i, s, e in ivs
        for j, s2, e2 in other
        if s <= e2 and s2 <= e
    }
    assert got == exp and len(exp) > 20


def test_interval_overlap_mega_bucket_cap(spark):
    from cadastre_pg_spark.operators.intervals import interval_overlap_join

    # 50 intervals piled into one hour bucket + 3 in a quiet hour
    dense = [
        (i, T0 + timedelta(minutes=i % 10), T0 + timedelta(minutes=20 + i % 10))
        for i in range(50)
    ]
    quiet = [
        (100 + i, T0 + timedelta(hours=5, minutes=i), T0 + timedelta(hours=5, minutes=i + 5))
        for i in range(3)
    ]
    df = spark.createDataFrame(
        dense + quiet, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    out = interval_overlap_join(df, bucket_seconds=3600, max_per_bucket=10)
    pairs = {(r.a_id, r.b_id) for r in out.collect()}
    # dense bucket skipped entirely; quiet bucket pairs survive
    assert pairs == {(100, 101), (101, 102), (100, 102)}
    sk = {(r.side, r.n) for r in skipped(out).collect()}
    assert sk == {("a", 50), ("b", 50)}
    # uncapped finds the dense pairs too
    full = interval_overlap_join(df, bucket_seconds=3600)
    assert len({(r.a_id, r.b_id) for r in full.collect()}) > 1000


def test_interval_point_join_hot_hour_cap(spark):
    # adversarial hot hour: 60 sessions and 40 points pile into one
    # bucket (quadratic grid) while a quiet hour stays small — the cap
    # skips the hot bucket LOUDLY and leaves the quiet bucket exact
    hot_iv = [
        (i, T0 + timedelta(minutes=i % 10), T0 + timedelta(minutes=25 + i % 10))
        for i in range(60)
    ]
    quiet_iv = [
        (100 + i, T0 + timedelta(hours=7, minutes=i), T0 + timedelta(hours=7, minutes=i + 5))
        for i in range(3)
    ]
    hot_pt = [(j, T0 + timedelta(minutes=5 + j % 20)) for j in range(40)]
    quiet_pt = [(100 + j, T0 + timedelta(hours=7, minutes=2 + j)) for j in range(4)]
    iv_df = spark.createDataFrame(
        hot_iv + quiet_iv, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    pt_df = spark.createDataFrame(hot_pt + quiet_pt, "point_id long, ts timestamp")

    out = interval_point_join(iv_df, pt_df, 3600, max_per_bucket=30)
    got = {(r.point_id, r.interval_id) for r in out.collect()}
    exp_quiet = _brute(quiet_iv, quiet_pt)
    assert got == exp_quiet and len(exp_quiet) > 5
    sk = {(r.side, r.n) for r in skipped(out).collect()}
    # interval side: 60 rows in the hot bucket; point side: 40
    assert sk == {("interval", 60), ("point", 40)}

    # uncapped recovers the hot-bucket pairs exactly (losslessness of
    # the bucketing itself is separate from the cap)
    full = {
        (r.point_id, r.interval_id)
        for r in interval_point_join(iv_df, pt_df, 3600).collect()
    }
    assert full == _brute(hot_iv + quiet_iv, hot_pt + quiet_pt)
    assert len(full) > 1000


# ------------------------------------------------------- concurrency


def _profile(spark, iv, chunk_seconds=86_400):
    from cadastre_pg_spark.operators.intervals import concurrency_profile
    from datetime import datetime, timezone

    rows = [
        (i, datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None),
         datetime.fromtimestamp(e, tz=timezone.utc).replace(tzinfo=None))
        for i, (s, e) in enumerate(iv)
    ]
    df = spark.createDataFrame(
        rows, "interval_id long, start_ts timestamp, end_ts timestamp"
    )
    out = concurrency_profile(df, chunk_seconds=chunk_seconds).collect()
    return sorted((r.ts, r.n_start, r.n_end, r.active) for r in out)


def _brute_profile(iv):
    bounds = sorted({t for s, e in iv for t in (s, e)})
    out = []
    for t in bounds:
        ns = sum(1 for s, e in iv if s == t)
        ne = sum(1 for s, e in iv if e == t)
        act = sum(1 for s, e in iv if s <= t <= e)
        out.append((t, ns, ne, act))
    return out


def test_concurrency_simple_stack(spark):
    iv = [(100, 200), (150, 250), (180, 190)]
    got = _profile(spark, iv)
    want = _brute_profile(iv)
    assert [(g[1], g[2], g[3]) for g in got] == [(w[1], w[2], w[3]) for w in want]
    assert max(g[3] for g in got) == 3


def test_concurrency_touching_endpoints_closed_semantics(spark):
    # end == next start: both active at the shared instant (closed)
    iv = [(0, 100), (100, 200)]
    got = _profile(spark, iv)
    shared = [g for g in got if g[1] == 1 and g[2] == 1]
    assert len(shared) == 1 and shared[0][3] == 2


def test_concurrency_across_chunk_boundaries(spark):
    # 1s chunks: prefix offsets must carry counts across chunks,
    # including an interval spanning many whole chunks
    iv = [(0, 10), (1, 2), (3, 12), (5, 6), (11, 13)]
    got = _profile(spark, iv, chunk_seconds=1)
    want = _brute_profile(iv)
    assert [(g[1], g[2], g[3]) for g in got] == [(w[1], w[2], w[3]) for w in want]


def test_concurrency_pseudorandom_matches_brute(spark):
    iv = [((i * 37) % 50, (i * 37) % 50 + 1 + (i * 13) % 40) for i in range(40)]
    got = _profile(spark, iv, chunk_seconds=7)
    want = _brute_profile(iv)
    assert [(g[1], g[2], g[3]) for g in got] == [(w[1], w[2], w[3]) for w in want]
