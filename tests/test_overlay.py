"""rect_overlap_join goldens: pair-once semantics, area, guards."""

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.held import skipped
from cadastre_pg_spark.operators.overlay import rect_overlap_join


def _rects(spark, rows):
    return spark.createDataFrame(
        rows, "rect_id long, x0 double, y0 double, x1 double, y1 double"
    )


def test_pair_once_across_many_shared_cells(spark):
    # two big rects overlapping across many level-6 cells -> one pair
    df = _rects(
        spark,
        [
            (1, 0.0, 44.0, 2.0, 46.0),
            (2, 1.0, 45.0, 3.0, 47.0),
            (3, 6.0, 49.0, 6.5, 49.5),  # far away, no pair
        ],
    )
    out = rect_overlap_join(df, level=6).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.a_id, r.b_id) == (1, 2)
    assert r.area == pytest.approx(1.0 * 1.0)


def test_touching_edges_do_not_pair(spark):
    df = _rects(spark, [(1, 0.0, 44.0, 1.0, 45.0), (2, 1.0, 44.0, 2.0, 45.0)])
    assert rect_overlap_join(df, level=6).count() == 0


def test_nested_rect_area(spark):
    df = _rects(spark, [(1, 0.0, 44.0, 4.0, 48.0), (2, 1.0, 45.0, 2.0, 46.0)])
    out = rect_overlap_join(df, level=6).collect()
    assert len(out) == 1 and out[0].area == pytest.approx(1.0)


def test_identical_rects(spark):
    df = _rects(spark, [(1, 0.0, 44.0, 1.0, 45.0), (2, 0.0, 44.0, 1.0, 45.0)])
    out = rect_overlap_join(df, level=6).collect()
    assert len(out) == 1 and out[0].area == pytest.approx(1.0)


def test_fanout_guard_raises(spark):
    df = _rects(spark, [(1, -4.9, 41.1, 8.9, 50.9), (2, 0.0, 44.0, 1.0, 45.0)])
    with pytest.raises(Exception, match="covers more than"):
        rect_overlap_join(df, level=8, max_cells_per_rect=100).count()


def test_mega_cell_cap_skips_and_reports(spark):
    # 40 tiny rects stacked in one spot; cap at 10 -> all skipped,
    # zero pairs, metric populated
    rows = [(i, 1.0, 44.5, 1.001, 44.501) for i in range(40)]
    out = rect_overlap_join(_rects(spark, rows), level=6, max_per_cell=10)
    assert out.count() == 0
    sk = skipped(out).collect()
    assert len(sk) >= 1 and all(r.n > 10 for r in sk)


def test_cap_keeps_untouched_cells(spark):
    rows = [(i, 1.0, 44.5, 1.001, 44.501) for i in range(40)]
    rows += [(100, 5.0, 47.0, 5.1, 47.1), (101, 5.05, 47.05, 5.2, 47.2)]
    out = rect_overlap_join(_rects(spark, rows), level=6, max_per_cell=10)
    got = {(r.a_id, r.b_id) for r in out.collect()}
    assert got == {(100, 101)}


def test_out_of_bbox_rects_still_pair_via_clamped_cells(spark):
    # both rects fully west of the grid bbox: covers clamp to the
    # border cells; geometry predicate still decides the pair
    df = _rects(
        spark,
        [
            (1, -20.0, 44.0, -19.0, 45.0),
            (2, -19.5, 44.5, -18.5, 45.5),
            (3, -19.5, 48.0, -18.5, 49.0),  # same clamp column, no overlap
        ],
    )
    out = rect_overlap_join(df, level=6).collect()
    assert {(r.a_id, r.b_id) for r in out} == {(1, 2)}
    assert out[0].area == pytest.approx(0.25)


# ---------------------------------------------------------------- areal


def _areal(spark, rows, level=7):
    from cadastre_pg_spark.operators.overlay import areal_interpolate

    df = spark.createDataFrame(
        rows, "rect_id long, value double, x0 double, y0 double, x1 double, y1 double"
    )
    return areal_interpolate(df, level=level)


def test_areal_single_cell_keeps_full_value(spark):
    # a tiny rect strictly inside one level-7 cell: est == value
    rows = [(1, 250.0, 0.01, 45.01, 0.02, 45.02)]
    out = _areal(spark, rows).collect()
    assert len(out) == 1
    assert out[0].n_rects == 1
    assert abs(out[0].est - 250.0) < 1e-9


def test_areal_mass_conservation_across_cells(spark):
    # rects straddling several cells: total est == total value up to
    # one quantization ulp (1e-12) per (rect, cell) contribution
    rows = [
        (1, 100.0, -0.3, 44.9, 0.4, 45.3),
        (2, 40.0, 2.0, 47.0, 2.5, 47.9),
        (3, 7.5, -4.99, 41.01, -4.8, 41.2),
    ]
    out = _areal(spark, rows).collect()
    total = sum(r.est for r in out)
    n_contrib = sum(r.n_rects for r in out)
    assert abs(total - 147.5) <= n_contrib * 1e-12
    # every covered cell got a strictly positive share
    assert all(r.units > 0 for r in out)


def test_areal_clamps_out_of_grid_rect(spark):
    # rect entirely west of the grid: clamped to edge cells, zero-area
    # slivers filtered, so it contributes nothing
    rows = [(1, 99.0, -20.0, 45.0, -19.0, 45.5)]
    assert _areal(spark, rows).count() == 0


def test_areal_cover_guard_raises_loudly(spark):
    from cadastre_pg_spark.operators.overlay import areal_interpolate

    df = spark.createDataFrame(
        [(1, 5.0, -4.9, 41.1, 8.9, 50.9)],
        "rect_id long, value double, x0 double, y0 double, x1 double, y1 double",
    )
    import pytest as _pt

    with _pt.raises(Exception, match="covers more than"):
        areal_interpolate(df, level=7, max_cells_per_rect=16).collect()


# --------------------------------------------------------- segments


def _segs(spark, seg_list, level=9):
    from cadastre_pg_spark.operators.overlay import segment_intersection_join

    df = spark.createDataFrame(
        seg_list, "seg_id long, ax double, ay double, bx double, by double"
    )
    out = segment_intersection_join(df, level=level)
    return {(r.a_id, r.b_id): r for r in out.collect()}


def test_seg_proper_crossing_point(spark):
    # X crossing at (1.0, 45.0)
    got = _segs(spark, [
        (1, 0.9, 44.9, 1.1, 45.1),
        (2, 0.9, 45.1, 1.1, 44.9),
    ])
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.proper == 1
    assert abs(r.px - 1.0) < 1e-12 and abs(r.py - 45.0) < 1e-12


def test_seg_t_touch_and_endpoint_touch(spark):
    got = _segs(spark, [
        (1, 0.0, 45.0, 1.0, 45.0),
        (2, 0.5, 45.0, 0.5, 45.5),   # T-touch onto 1's interior
        (3, 1.0, 45.0, 1.5, 45.5),   # endpoint touch with 1
        (4, 3.0, 46.0, 3.5, 46.0),   # far away
    ])
    assert set(got) == {(1, 2), (1, 3)}
    assert got[(1, 2)].proper == 0 and got[(1, 2)].px is None
    assert got[(1, 3)].proper == 0


def test_seg_collinear_overlap_and_disjoint(spark):
    got = _segs(spark, [
        (1, 0.0, 45.0, 1.0, 45.0),
        (2, 0.5, 45.0, 2.0, 45.0),   # collinear overlap
        (3, 1.5, 45.1, 2.5, 45.1),   # parallel, disjoint
    ])
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].proper == 0


def _brute_seg(seg_list):
    def cross(o, p, q):
        return (p[0] - o[0]) * (q[1] - o[1]) - (p[1] - o[1]) * (q[0] - o[0])

    def on(s, e, p):
        return (min(s[0], e[0]) <= p[0] <= max(s[0], e[0])
                and min(s[1], e[1]) <= p[1] <= max(s[1], e[1]))

    out = set()
    for i in range(len(seg_list)):
        for j in range(i + 1, len(seg_list)):
            i1, a1, a2 = seg_list[i][0], seg_list[i][1:3], seg_list[i][3:5]
            i2, b1, b2 = seg_list[j][0], seg_list[j][1:3], seg_list[j][3:5]
            d1, d2 = cross(b1, b2, a1), cross(b1, b2, a2)
            d3, d4 = cross(a1, a2, b1), cross(a1, a2, b2)
            strad = (((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0))
                     and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)))
            tch = ((d1 == 0 and on(b1, b2, a1)) or (d2 == 0 and on(b1, b2, a2))
                   or (d3 == 0 and on(a1, a2, b1)) or (d4 == 0 and on(a1, a2, b2)))
            if strad or tch:
                out.add((min(i1, i2), max(i1, i2)))
    return out


def test_seg_matches_brute_force_pseudorandom(spark):
    segs = []
    for i in range(60):
        x = -4.0 + ((i * 37) % 100) * 0.12
        y = 42.0 + ((i * 53) % 80) * 0.1
        dx = (((i * 29) % 21) - 10) * 0.03
        dy = (((i * 41) % 21) - 10) * 0.03
        segs.append((i, x, y, x + dx, y + dy))
    got = set(_segs(spark, segs, level=7))
    assert got == _brute_seg(segs)


# -------------------------------------------------------------- snap


def _snap(spark, pts, segs, radius, level=7):
    from cadastre_pg_spark.operators.overlay import snap_to_segments

    p = spark.createDataFrame(pts, "point_id long, px double, py double")
    s = spark.createDataFrame(
        segs, "seg_id long, ax double, ay double, bx double, by double"
    )
    out = snap_to_segments(p, s, radius=radius, level=level)
    return {r.point_id: r for r in out.collect()}


def test_snap_projection_interior_and_endpoint(spark):
    segs = [(1, 0.0, 45.0, 1.0, 45.0)]
    pts = [
        (10, 0.5, 45.03),   # interior projection, t=0.5, d=0.03
        (11, -0.04, 45.0),  # beyond endpoint a: t=0, d=0.04
        (12, 2.0, 45.0),    # too far (d=1.0 > radius)
    ]
    got = _snap(spark, pts, segs, radius=0.05)
    assert set(got) == {10, 11}
    assert abs(got[10].t - 0.5) < 1e-12 and abs(got[10].d2 - 0.03 ** 2) < 1e-15
    assert got[11].t == 0.0 and abs(got[11].d2 - 0.04 ** 2) < 1e-15


def test_snap_picks_nearest_with_id_tiebreak(spark):
    # exactly-representable offsets (0.25) so the tie is bitwise real
    segs = [
        (5, 0.0, 45.0, 1.0, 45.0),
        (2, 0.0, 45.5, 1.0, 45.5),  # equidistant from y=45.25
        (9, 0.0, 44.0, 1.0, 44.0),  # farther
    ]
    got = _snap(spark, [(1, 0.5, 45.25)], segs, radius=0.3)
    assert got[1].seg_id == 2  # tie at d=0.25 -> smaller id


def test_snap_cross_cell_within_radius_is_found(spark):
    # point sits in a different level-7 cell than the segment bbox,
    # but within radius: the radius padding must cover it
    segs = [(1, 0.0, 45.0, 0.001, 45.0)]
    cell_h = 10.0 / 128
    py = 45.0 + cell_h  # at least one cell north
    got = _snap(spark, [(1, 0.0005, py)], segs, radius=cell_h + 0.01)
    assert 1 in got


def test_snap_degenerate_zero_length_segment(spark):
    segs = [(1, 0.5, 45.0, 0.5, 45.0)]  # a point "segment"
    got = _snap(spark, [(7, 0.52, 45.0)], segs, radius=0.05)
    assert got[7].t == 0.0 and abs(got[7].d2 - 0.02 ** 2) < 1e-15
