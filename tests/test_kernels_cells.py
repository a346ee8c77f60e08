"""Cell codec + polyfill kernel tests (engine-vs-oracle equality is the
invariant: grid_cover/hex_cover must make the cell join EXACTLY equal
to brute-force PIP — SURVEY.md §7.4 hard part #1)."""

import numpy as np

from cadastre_pg_spark.kernels import cells as C
from cadastre_pg_spark.kernels.cover import grid_cover, hex_cover
from cadastre_pg_spark.kernels.pip import points_in_polygon
from cadastre_pg_spark.kernels.rings import polygon_to_flat

RNG = np.random.default_rng(42)


def test_grid_cell_sql_equivalence():
    """grid_cell must equal the plain floor arithmetic the SQL oracle uses."""
    lon = RNG.uniform(-5, 9, 1000)
    lat = RNG.uniform(41, 51, 1000)
    L = 10
    n = 1 << L
    ix = np.clip(np.floor((lon - C.GRID_LON0) / (C.GRID_LON1 - C.GRID_LON0) * n), 0, n - 1)
    iy = np.clip(np.floor((lat - C.GRID_LAT0) / (C.GRID_LAT1 - C.GRID_LAT0) * n), 0, n - 1)
    expected = ix.astype(np.int64) * n + iy.astype(np.int64)
    np.testing.assert_array_equal(C.grid_cell(lon, lat, L), expected)


def test_morton_roundtrip_locality():
    m1 = C.morton_cell([0.0], [45.0], 10)
    m2 = C.morton_cell([0.001], [45.0], 10)
    assert m1.dtype == np.int64
    assert m1[0] >= 0
    # adjacent points land in same or nearby morton codes
    assert abs(int(m1[0]) - int(m2[0])) < 4


def test_hex_pack_unpack_roundtrip():
    q = np.array([-100, 0, 12345], dtype=np.int64)
    r = np.array([50, -2, -9999], dtype=np.int64)
    cell = C.hex_pack(q, r, 9)
    q2, r2, res = C.hex_unpack(cell)
    np.testing.assert_array_equal(q, q2)
    np.testing.assert_array_equal(r, r2)
    assert (res == 9).all()
    assert (cell > 0).all()


def test_hex_cell_center_distance():
    """A point's hex cell center is within one edge length of the point."""
    lon = RNG.uniform(-5, 9, 500)
    lat = RNG.uniform(41, 51, 500)
    for res in (7, 9, 11):
        cell = C.hex_cell(lon, lat, res)
        cx, cy = C.hex_center(cell)
        from cadastre_pg_spark.kernels.mercator import wgs84_to_mercator

        px, py = wgs84_to_mercator(lon, lat)
        d = np.hypot(px - cx, py - cy)
        assert (d <= C.hex_edge(res) + 1e-6).all()


def test_hex_disk_counts():
    assert len(C.hex_ring_offsets(0)) == 1
    assert len(C.hex_ring_offsets(1)) == 6
    assert len(C.hex_ring_offsets(3)) == 18
    assert len(C.hex_disk_offsets(2)) == 19
    cell = C.hex_cell([2.35], [48.85], 9)
    disk = C.hex_disk(cell, 1)
    assert disk.shape == (1, 7)
    assert len(np.unique(disk)) == 7


def _random_polygon(cx, cy, rmax, n=12):
    ang = np.sort(RNG.uniform(0, 2 * np.pi, n))
    rad = RNG.uniform(0.3 * rmax, rmax, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])
    return polygon_to_flat([(ring, [])])


def test_grid_cover_exactness():
    """cell-join result == brute-force PIP for random concave polygons."""
    for _ in range(10):
        cx, cy = RNG.uniform(-2, 6), RNG.uniform(43, 49)
        xs, ys, offs = _random_polygon(cx, cy, 0.3)
        cell_ids, is_full = grid_cover(xs, ys, offs, level=10)
        cell_set = dict(zip(cell_ids.tolist(), is_full.tolist()))
        # random probe points around the polygon
        px = RNG.uniform(cx - 0.5, cx + 0.5, 2000)
        py = RNG.uniform(cy - 0.5, cy + 0.5, 2000)
        truth = points_in_polygon(px, py, xs, ys, offs)
        pcell = C.grid_cell(px, py, 10)
        for i in range(len(px)):
            flag = cell_set.get(int(pcell[i]))
            if flag is True:
                # full cell -> point must be inside (conservative correctness)
                assert truth[i], "full cell contained an outside point"
            elif flag is None:
                assert not truth[i], "inside point fell in an uncovered cell"
        # join simulation: full cells auto-accept, partial cells PIP
        joined = np.zeros(len(px), dtype=bool)
        for i in range(len(px)):
            flag = cell_set.get(int(pcell[i]))
            if flag is True:
                joined[i] = True
            elif flag is False:
                joined[i] = truth[i]
        np.testing.assert_array_equal(joined, truth)


def test_grid_cover_with_hole_exactness():
    outer = np.array([[0, 45], [1, 45], [1, 46], [0, 46], [0, 45]], float)
    hole = np.array(
        [[0.4, 45.4], [0.6, 45.4], [0.6, 45.6], [0.4, 45.6], [0.4, 45.4]], float
    )
    xs, ys, offs = polygon_to_flat([(outer, [hole])])
    cell_ids, is_full = grid_cover(xs, ys, offs, level=10)
    cell_set = dict(zip(cell_ids.tolist(), is_full.tolist()))
    px = RNG.uniform(-0.2, 1.2, 3000)
    py = RNG.uniform(44.8, 46.2, 3000)
    truth = points_in_polygon(px, py, xs, ys, offs)
    pcell = C.grid_cell(px, py, 10)
    joined = np.zeros(len(px), dtype=bool)
    for i in range(len(px)):
        flag = cell_set.get(int(pcell[i]))
        if flag is True:
            joined[i] = True
        elif flag is False:
            joined[i] = truth[i]
    np.testing.assert_array_equal(joined, truth)


def test_hex_cover_exactness():
    for _ in range(5):
        cx, cy = RNG.uniform(-2, 6), RNG.uniform(43, 49)
        xs, ys, offs = _random_polygon(cx, cy, 0.05)
        cell_ids, is_full = hex_cover(xs, ys, offs, res=9)
        cell_set = dict(zip(cell_ids.tolist(), is_full.tolist()))
        px = RNG.uniform(cx - 0.1, cx + 0.1, 1000)
        py = RNG.uniform(cy - 0.1, cy + 0.1, 1000)
        from cadastre_pg_spark.kernels.mercator import wgs84_to_mercator

        mx, my = wgs84_to_mercator(xs, ys)
        pmx, pmy = wgs84_to_mercator(px, py)
        truth = points_in_polygon(pmx, pmy, mx, my, offs)
        pcell = C.hex_cell(px, py, 9)
        joined = np.zeros(len(px), dtype=bool)
        for i in range(len(px)):
            flag = cell_set.get(int(pcell[i]))
            if flag is True:
                assert truth[i]
                joined[i] = True
            elif flag is False:
                joined[i] = truth[i]
            else:
                assert not truth[i], "inside point in uncovered hex cell"
        np.testing.assert_array_equal(joined, truth)


def test_part1by1_lut_equals_orshift_all_widths(spark):
    """The byte-LUT spread must stay bit-identical to the canonical
    or-shift chain for every caller width (morton level, geohash
    half-width, full 32-bit)."""
    import pyspark.sql.functions as F

    from cadastre_pg_spark.functions.zorder import (
        _part1by1_col,
        _part1by1_lut_col,
    )

    for width in (1, 2, 10, 16, 20, 30, 32):
        hi = (1 << width) - 1
        edge = [0, 1, hi, max(hi - 1, 0), hi >> 1, 0x55555555 & hi]
        df = spark.range(0, 50000).select(
            (F.col("id") * 2654435761 % (hi + 1)).alias("v")
        ).union(spark.createDataFrame([(v,) for v in edge], "v long"))
        bad = (
            df.select(
                _part1by1_col(F.col("v")).alias("a"),
                _part1by1_lut_col(F.col("v"), width).alias("b"),
            )
            .filter("a != b")
            .count()
        )
        assert bad == 0, f"width {width}: {bad} diffs"


def test_grid_cell_col_matches_kernel_on_edges(spark):
    """The JVM grid index (grid_ix_col/grid_iy_col, and grid_cell_col
    built from them) equals kernels.cells on clamp edges and on exact
    cell boundaries: x = lon0 + 7k/64 and y = lat0 + 5k/64 are exact
    doubles whose scaled offsets are exact multiples of a cell width
    at every level up to 14."""
    import pyspark.sql.functions as F

    from cadastre_pg_spark.data import synthetic as S

    k = np.arange(-2, 131, dtype=np.float64)
    lon = np.concatenate(
        [
            C.GRID_LON0 + 7.0 * k / 64.0,
            [C.GRID_LON0, C.GRID_LON1, np.nextafter(C.GRID_LON0, -np.inf),
             np.nextafter(C.GRID_LON1, -np.inf), -1e300, 1e300, -180.0, 180.0],
            RNG.uniform(-6, 10, 200),
        ]
    )
    lat = np.concatenate(
        [
            C.GRID_LAT0 + 5.0 * k / 64.0,
            [C.GRID_LAT0, C.GRID_LAT1, np.nextafter(C.GRID_LAT0, -np.inf),
             np.nextafter(C.GRID_LAT1, -np.inf), -1e300, 1e300, -90.0, 90.0],
            RNG.uniform(40, 52, 200),
        ]
    )
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(lon, lat)], "lon double, lat double"
    )
    for level in (1, 7, 10, 14):
        rows = df.select(
            S.grid_ix_col(F.col("lon"), level).alias("ix"),
            S.grid_iy_col(F.col("lat"), level).alias("iy"),
            S.grid_cell_col(F.col("lon"), F.col("lat"), level).alias("cell"),
        ).collect()
        ix, iy = C.grid_cell_xy(lon, lat, level)
        assert [r["ix"] for r in rows] == ix.tolist(), level
        assert [r["iy"] for r in rows] == iy.tolist(), level
        assert [r["cell"] for r in rows] == C.grid_cell(lon, lat, level).tolist(), level
    assert df.select(S.grid_cell_col(F.col("lon"), F.col("lat"))).dtypes[0][1] == "bigint"
