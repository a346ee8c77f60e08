"""Spatial-join engine vs single-process NumPy brute force — general
polygons (concave, holes, stitched rings) and both cell schemes."""

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

import __spark_entry__ as E
from cadastre_pg_spark.data.parcels import generate_parcels, make_parcel
from cadastre_pg_spark.kernels.pip import points_in_polygon
from cadastre_pg_spark.operators import spatial_join as SJ
from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.operators.spatial_join import (
    cell_spatial_join,
    parcels_from_parts,
    points_from_docs,
)
from conftest import SF_UNIT


def _random_points(n, seed=7):
    rng = np.random.default_rng(seed)
    return rng.uniform(-4.5, 8.5, n), rng.uniform(41.2, 50.8, n)


@pytest.mark.parametrize(
    ("strategy", "kwargs"),
    [
        ("broadcast", {}),
        ("shuffle", {}),
        # HOT_CELL_THRESHOLD=0 forces the explicit salting path on EVERY cell
        ("shuffle", {"salt_hot": 4, "HOT_CELL_THRESHOLD": 0}),
        # auto: every side of the parcel-count and compact-cover gates
        *(
            ("auto", {"BROADCAST_PARCEL_LIMIT": limit, "COMPACT_CELLS_THRESHOLD": t})
            for limit in (SJ.BROADCAST_PARCEL_LIMIT, 0)
            for t in (float("inf"), -1)
        ),
        *(
            ("auto", {"BROADCAST_PARCEL_LIMIT": 0, "COMPACT_CELLS_THRESHOLD": t,
                      "HOT_CELL_THRESHOLD": 0})
            for t in (float("inf"), -1)
        ),
    ],
)
def test_general_polygon_join_vs_bruteforce(spark, monkeypatch, strategy, kwargs):
    """Upper-case kwargs monkeypatch spatial_join's gate constants; the
    rest go to cell_spatial_join. The plan the gates chose is recorded
    and checked, so each case pins the branch it names."""
    n_parcels, n_points = 120, 4000
    lon, lat = _random_points(n_points)
    points = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(n_points)],
        "point_id long, lon double, lat double",
    )
    parcels = generate_parcels(spark, n_parcels, partitions=4).select(
        F.xxhash64("parcel_id").alias("parcel_id"), "xs", "ys", "ring_offsets"
    )
    for name, value in kwargs.items():
        if name.isupper():
            monkeypatch.setattr(SJ, name, value)
    chosen = {}
    polyfill, cell_join = SJ.polyfill, SJ._cell_join

    def spy_polyfill(parcels, level, scheme, d):
        chosen["d"] = d
        return polyfill(parcels, level, scheme, d)

    def spy_cell_join(pts, build, keys, strategy, salt_hot):
        chosen["strategy"] = strategy
        return cell_join(pts, build, keys, strategy, salt_hot)

    monkeypatch.setattr(SJ, "polyfill", spy_polyfill)
    monkeypatch.setattr(SJ, "_cell_join", spy_cell_join)
    out = cell_spatial_join(
        points,
        parcels,
        level=10,
        strategy=strategy,
        **{k: v for k, v in kwargs.items() if not k.isupper()},
    )
    got = {(r.point_id, r.parcel_id) for r in out.collect()}
    if strategy == "auto":
        strategy = "shuffle" if SJ.BROADCAST_PARCEL_LIMIT == 0 else "broadcast"
    assert chosen == {
        "strategy": strategy,
        "d": SJ.COMPACT_D if SJ.COMPACT_CELLS_THRESHOLD < 0 else 0,
    }
    # single-process oracle
    exp = set()
    rows = parcels.collect()
    for r in rows:
        inside = points_in_polygon(
            lon, lat,
            np.asarray(r.xs), np.asarray(r.ys),
            np.asarray(r.ring_offsets, dtype=np.int64),
        )
        for i in np.nonzero(inside)[0]:
            exp.add((int(i), r.parcel_id))
    release_cached(out)
    assert got == exp
    assert len(exp) > 0


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_join_with_negative_parcel_ids(spark, strategy):
    """Parcel ids in a small range around zero: every candidate is
    refined against its own parcel's rings (a negative id must not
    alias a positive one's index)."""
    n_parcels = 120
    rank = F.row_number().over(Window.orderBy("parcel_id"))
    parcels = generate_parcels(spark, n_parcels, partitions=4).select(
        (rank - F.lit(n_parcels // 2)).cast("long").alias("parcel_id"),
        "xs",
        "ys",
        "ring_offsets",
    )
    rows = parcels.collect()
    # 40 points in each parcel's bbox: hits on both sides of zero
    rng = np.random.default_rng(3)
    lon = np.concatenate([rng.uniform(min(r.xs), max(r.xs), 40) for r in rows])
    lat = np.concatenate([rng.uniform(min(r.ys), max(r.ys), 40) for r in rows])
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "point_id long, lon double, lat double",
    )
    out = cell_spatial_join(points, parcels, level=10, strategy=strategy)
    got = {(r.point_id, r.parcel_id) for r in out.collect()}
    release_cached(out)
    exp = set()
    for r in rows:
        inside = points_in_polygon(
            lon, lat, np.asarray(r.xs), np.asarray(r.ys), np.asarray(r.ring_offsets)
        )
        exp.update((int(i), r.parcel_id) for i in np.nonzero(inside)[0])
    assert min(p for _, p in exp) < 0 < max(p for _, p in exp)
    assert got == exp


def test_hex_join_matches_grid_on_rectangles(spark):
    """Rectangles are mercator-stable, so hex (mercator-space PIP) and
    grid (lon/lat-space PIP) must produce identical pairs."""
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    points = points_from_docs(docs)
    parcels = parcels_from_parts(parts)
    grid = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, parcels, level=10).collect()
    }
    hexx = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, parcels, level=9, scheme="hex").collect()
    }
    assert grid == hexx
    assert len(grid) > 0


def test_pages_pipeline_query(spark):
    from cadastre_pg_spark.data.pages import make_page

    df = E.q_pages_pipeline(spark, SF_UNIT)
    rows = df.collect()
    assert len(rows) > 0
    # text_sha is the byte-identity fingerprint: recompute for one url
    import hashlib

    r0 = rows[0]
    i = int(r0.url.split("/")[-1])
    assert (
        hashlib.sha256(make_page(i)["text"].encode()).hexdigest() == r0.text_sha
    )


def test_merge_snapshot_matrix(spark):
    from cadastre_pg_spark.operators.scd2 import merge_snapshot

    current = spark.createDataFrame(
        [("a", "h1", "2026-01-01"), ("b", "h2", "2026-01-01"), ("c", "h3", "2026-01-01")],
        "k string, h string, valid_from string",
    ).select("k", "h", F.col("valid_from").cast("date").alias("valid_from"))
    incoming = spark.createDataFrame(
        [("a", "h1"), ("b", "h2x"), ("d", "h4")], "k string, h string"
    )
    out = merge_snapshot(
        current, incoming, key="k", hash_col="h", vintage=F.lit("2026-02-01")
    ).collect()
    by_change = {}
    for r in out:
        by_change.setdefault(r.change, []).append(r)
    assert {r.k for r in by_change["unchanged"]} == {"a"}
    assert {r.k for r in by_change["closed"]} == {"b"}
    assert {r.k for r in by_change["updated"]} == {"b"}
    assert {r.k for r in by_change["inserted"]} == {"d"}
    assert {r.k for r in by_change["ended"]} == {"c"}
    upd = by_change["updated"][0]
    assert upd.valid_to is None and str(upd.valid_from) == "2026-02-01"
    closed = by_change["closed"][0]
    assert str(closed.valid_to) == "2026-02-01"


def test_release_cached_unpersists_build_side(spark):
    """cell_spatial_join persists parcels+cover; release_cached(result)
    must free them (long sessions otherwise accumulate cache)."""
    from conftest import SF_UNIT, persisted_rdd_ids

    # a same-plan cache left by another test would absorb our persist()
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    before = persisted_rdd_ids(spark)
    out = cell_spatial_join(points_from_docs(docs), parcels_from_parts(parts))
    out.count()
    assert len(persisted_rdd_ids(spark) - before) == 2  # parcels + cover
    release_cached(out)
    assert not persisted_rdd_ids(spark) - before
    release_cached(out)  # idempotent


def _edge_case_parcels():
    """(parcel_id, xs, ys, ring_offsets) rows: a square with a hole
    whose sides lie on level-10 grid lines, a concave star, a polygon
    hanging over the grid domain's west border (its points clamp into
    border cells) and a triangle with a vertex on a grid corner; ids
    on both sides of zero."""
    from cadastre_pg_spark.kernels import cells as C
    from cadastre_pg_spark.kernels.rings import polygon_to_flat

    wx, wy = C.grid_cell_size(10)
    gx = C.GRID_LON0 + 300 * wx  # grid lines at level 10
    gy = C.GRID_LAT0 + 400 * wy

    def ring(pts):
        a = np.asarray(pts, dtype=np.float64)
        return np.vstack([a, a[:1]])

    square = ring([(gx, gy), (gx + 8 * wx, gy), (gx + 8 * wx, gy + 8 * wy), (gx, gy + 8 * wy)])
    hole = ring([(gx + 2 * wx, gy + 2 * wy), (gx + 5 * wx, gy + 2 * wy),
                 (gx + 5 * wx, gy + 6 * wy), (gx + 2 * wx, gy + 6 * wy)])
    ang = np.linspace(0, 2 * np.pi, 15, endpoint=False)
    rad = np.where(np.arange(15) % 2 == 0, 0.09, 0.03)
    star = ring(np.column_stack([3.0 + rad * np.cos(ang), 46.0 + rad * np.sin(ang)]))
    border = ring([(-5.6, 44.0), (-4.7, 44.05), (-4.8, 44.4), (-5.3, 44.3)])
    tri = ring([(gx + 20 * wx, gy), (gx + 31.5 * wx, gy + 3.3 * wy), (gx + 22.2 * wx, gy + 9 * wy)])
    polys = [(-7, [(square, [hole])]), (0, [(star, [])]), (5, [(border, [])]), (-2, [(tri, [])])]
    return [
        (pid, *(a.tolist() for a in polygon_to_flat(rings)[:2]),
         polygon_to_flat(rings)[2].astype(int).tolist())
        for pid, rings in polys
    ]


def _edge_case_points(rows, e_max):
    """Ring vertices, edge midpoints, points on the level-10 grid lines
    and on every sub-rectangle side cell_edge_lists draws at `e_max`,
    points outside the grid domain and random points around each
    parcel's bbox."""
    from cadastre_pg_spark.kernels import cells as C
    from cadastre_pg_spark.kernels.cover import cell_edge_lists, grid_cell_bands, grid_cover
    from cadastre_pg_spark.kernels.pip import build_edge_matrix

    rng = np.random.default_rng(5)
    wx, wy = C.grid_cell_size(10)
    lon = [np.array([-7.0, -5.2, -5.0, 9.5, 3.0])]
    lat = [np.array([44.2, 44.1, 44.2, 52.0, 40.0])]
    for _, xs, ys, offs in rows:
        xs, ys = np.asarray(xs), np.asarray(ys)
        lon += [xs, (xs[:-1] + xs[1:]) / 2]
        lat += [ys, (ys[:-1] + ys[1:]) / 2]
        x0, x1, y0, y1 = xs.min() - 0.01, xs.max() + 0.01, ys.min() - 0.01, ys.max() + 0.01
        lon.append(rng.uniform(x0, x1, 400))
        lat.append(rng.uniform(y0, y1, 400))
        for gxl in C.GRID_LON0 + wx * np.arange(np.floor((x0 - C.GRID_LON0) / wx), np.ceil((x1 - C.GRID_LON0) / wx)):
            lon.append(np.full(20, gxl))
            lat.append(rng.uniform(y0, y1, 20))
        for gyl in C.GRID_LAT0 + wy * np.arange(np.floor((y0 - C.GRID_LAT0) / wy), np.ceil((y1 - C.GRID_LAT0) / wy)):
            lon.append(rng.uniform(x0, x1, 20))
            lat.append(np.full(20, gyl))
        cells, _ = grid_cover(xs, ys, offs, 10)
        poly = (xs, ys, np.asarray(offs))
        _, _, (bx0, bx1, by0, by1), _ = cell_edge_lists(
            build_edge_matrix([poly]), np.zeros(len(cells), np.int64), *grid_cell_bands(cells, 10), e_max
        )
        xcuts, ycuts = np.concatenate([bx0, bx1]), np.concatenate([by0, by1])
        for v in np.unique(xcuts[np.isfinite(xcuts)]):
            lon.append(np.full(5, v))
            lat.append(rng.uniform(y0, y1, 5))
        for v in np.unique(ycuts[np.isfinite(ycuts)]):
            lon.append(rng.uniform(x0, x1, 5))
            lat.append(np.full(5, v))
    return np.concatenate(lon), np.concatenate(lat)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
@pytest.mark.parametrize("cover", ["grid", "compact", "hex"])
@pytest.mark.parametrize("e_max", [None, 2, 16])
def test_join_equals_kernel_pip_on_edge_cases(spark, monkeypatch, strategy, cover, e_max):
    """Differential test against kernels.pip.points_in_polygon on the
    points where an approximate test goes wrong: vertices, edges, cell
    and sub-rectangle boundaries, holes and the clamped border cells.
    E_MAX=2 splits the busiest cells into sub-rectangles and E_MAX=16
    keeps every cell whole: both sides of the split."""
    if e_max is not None:
        monkeypatch.setattr(SJ, "E_MAX", e_max)
    if cover == "compact":
        monkeypatch.setattr(SJ, "COMPACT_CELLS_THRESHOLD", -1)
    rows = _edge_case_parcels()
    lon, lat = _edge_case_points(rows, SJ.E_MAX)
    parcels = spark.createDataFrame(rows, "parcel_id long, xs array<double>, ys array<double>, ring_offsets array<int>")
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "point_id long, lon double, lat double",
    )
    scheme, level = ("hex", 9) if cover == "hex" else ("grid", 10)
    cover_df = SJ.polyfill(parcels, level, scheme, SJ.COMPACT_D if cover == "compact" else 0)
    bounds = [r.g[:4] for r in cover_df.filter(F.col("g").isNotNull()).select("g").collect()]
    if e_max is not None:  # a sub-rectangle has a finite side
        assert np.isfinite(bounds).any() == (e_max == 2)
    out = cell_spatial_join(points, parcels, level=level, scheme=scheme, strategy=strategy)
    got = {(r.point_id, r.parcel_id) for r in out.collect()}
    release_cached(out)
    exp = set()
    for pid, xs, ys, offs in rows:
        inside = points_in_polygon(lon, lat, np.asarray(xs), np.asarray(ys), np.asarray(offs))
        exp.update((int(i), pid) for i in np.nonzero(inside)[0])
    assert {p for _, p in exp} == {r[0] for r in rows}
    assert got == exp


def test_probe_columns_ride_through_the_join(spark):
    """With point_id unique on the probe side, carrying the probe's
    other columns through the join equals joining the pairs back on
    point_id; a probe column named like a join column is refused."""
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parcels = parcels_from_parts(spark.read.parquet(f"{SF_UNIT}/part.parquet"))
    points = points_from_docs(docs).withColumn("tag", F.concat(F.lit("p"), F.col("point_id")))
    carried = cell_spatial_join(points, parcels, level=10)
    pairs = cell_spatial_join(points.select("point_id", "lon", "lat"), parcels, level=10)
    assert carried.columns == ["point_id", "tag", "parcel_id"]
    back = pairs.join(points.select("point_id", "tag"), "point_id")
    got = sorted(carried.collect())
    assert got == sorted(back.select(*carried.columns).collect()) and got
    release_cached(carried)
    release_cached(pairs)
    with pytest.raises(ValueError, match="join column"):
        cell_spatial_join(points.withColumn("cell", F.lit(1)), parcels)
