"""linear_trend / skyline2d / dissolve_rects: reference parity tests."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.operators.overlay import dissolve_rects
from cadastre_pg_spark.operators.stats import linear_trend, skyline2d


# ------------------------------------------------------------ linear_trend


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double")


def test_trend_recovers_exact_line(spark):
    # value = 1.00 + 0.02 * minute -> slope = 2 cents/min exactly
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=m), 1.00 + 0.02 * m) for m in range(10)
    ]
    r = linear_trend(_events(spark, rows)).first()
    assert r.n == 10 and r.sx == 45
    assert r.slope == pytest.approx(2.0, abs=1e-9)
    assert r.intercept == pytest.approx(100.0, abs=1e-9)


def test_trend_single_bucket_null_slope(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0 + dt.timedelta(seconds=s), float(s)) for s in range(30)]
    r = linear_trend(_events(spark, rows)).first()  # all in minute 0
    assert r.slope is None and r.intercept is None


def test_trend_matches_reference_sums(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=(u * 7 + i * 13) % 500), ((u + i) * 37 % 100) / 4.0)
        for u in (1, 2, 3)
        for i in range(20)
    ]
    got = {r.grp: r for r in linear_trend(_events(spark, rows)).collect()}
    for u in (1, 2, 3):
        xs = [(u * 7 + i * 13) % 500 for i in range(20)]
        ys = [math.floor(((u + i) * 37 % 100) / 4.0 * 100.0 + 0.5) for i in range(20)]
        n = 20
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        r = got[u]
        assert (r.sx, r.sy, r.sxx, r.sxy) == (sx, sy, sxx, sxy)
        den = n * sxx - sx * sx
        assert r.slope == (n * sxy - sx * sy) / den


# --------------------------------------------------------------- skyline2d


def _brute_skyline(points):
    out = []
    for i, (x, y) in enumerate(points):
        dominated = any(
            (ox <= x and oy >= y and (ox < x or oy > y))
            for j, (ox, oy) in enumerate(points)
            if j != i
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


def _run_skyline(spark, points, **kw):
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(points)],
        "id long, x double, y double",
    )
    out = skyline2d(df, **kw)
    rows = sorted((r.x, r.y) for r in out.collect())
    release_cached(out)
    return rows


def test_skyline_simple_frontier(spark):
    pts = [(1, 5), (2, 9), (3, 4), (2, 1), (5, 10), (6, 2)]
    assert _run_skyline(spark, pts) == _brute_skyline(pts)


def test_skyline_duplicates_both_kept(spark):
    pts = [(1, 5), (1, 5), (2, 3)]
    got = _run_skyline(spark, pts)
    assert got == [(1.0, 5.0), (1.0, 5.0)]


def test_skyline_matches_brute_pseudorandom(spark):
    pts = [((i * 37 % 101), (i * 53 % 97)) for i in range(200)]
    assert _run_skyline(spark, pts) == _brute_skyline(pts)
    # few buckets forces heavy within-bucket path; many forces cross
    assert _run_skyline(spark, pts, n_buckets=2) == _brute_skyline(pts)
    assert _run_skyline(spark, pts, n_buckets=1024) == _brute_skyline(pts)


def test_skyline_all_same_x(spark):
    pts = [(3, 1), (3, 7), (3, 7), (3, 2)]
    assert _run_skyline(spark, pts) == [(3.0, 7.0), (3.0, 7.0)]


# ----------------------------------------------------------- dissolve_rects


def _rects_df(spark, rects):
    return spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(rects)],
        "rect_id long, x0 double, y0 double, x1 double, y1 double",
    )


def _run_dissolve(spark, rects, **kw):
    out = dissolve_rects(_rects_df(spark, rects), **kw)
    rows = {r.cluster: r for r in out.collect()}
    release_cached(out)
    return rows


def test_dissolve_chain_merges(spark):
    # 0 overlaps 1 overlaps 2 (transitive), 3 is far away
    rects = [(0, 0, 2, 2), (1, 1, 3, 3), (2.5, 2.5, 4, 4), (10, 10, 11, 11)]
    got = _run_dissolve(spark, rects)
    assert set(got) == {0, 3}
    assert got[0].n_rects == 3
    assert (got[0].x0, got[0].y0, got[0].x1, got[0].y1) == (0.0, 0.0, 4.0, 4.0)
    assert got[3].n_rects == 1


def test_dissolve_touching_edges_do_not_merge(spark):
    rects = [(0, 0, 1, 1), (1, 0, 2, 1)]
    got = _run_dissolve(spark, rects)
    assert set(got) == {0, 1} and all(r.n_rects == 1 for r in got.values())


def test_dissolve_matches_brute_components(spark):
    rects = [
        (
            (i * 37 % 50) / 10.0,
            (i * 53 % 50) / 10.0,
            (i * 37 % 50) / 10.0 + 0.7,
            (i * 53 % 50) / 10.0 + 0.7,
        )
        for i in range(60)
    ]
    got = _run_dissolve(spark, rects)
    # brute-force: union-find over strict-overlap pairs
    parent = list(range(60))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(60):
        for j in range(i + 1, 60):
            a, b = rects[i], rects[j]
            if (
                min(a[2], b[2]) - max(a[0], b[0]) > 0
                and min(a[3], b[3]) - max(a[1], b[1]) > 0
            ):
                parent[find(i)] = find(j)
    comps = {}
    for i in range(60):
        comps.setdefault(find(i), []).append(i)
    want = {
        min(m): (
            len(m),
            min(rects[i][0] for i in m),
            min(rects[i][1] for i in m),
            max(rects[i][2] for i in m),
            max(rects[i][3] for i in m),
        )
        for m in comps.values()
    }
    assert {
        c: (r.n_rects, r.x0, r.y0, r.x1, r.y1) for c, r in got.items()
    } == want
