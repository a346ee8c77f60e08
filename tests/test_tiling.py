"""raster_burn / tile_assign / tile_extract against a per-polygon
kernels.cover.grid_cover reference: exact equality on concave star
polygons with holes in hot clusters, polygons clamped at the grid
edge, one-cell polygons, bbox edges exactly on tile boundaries and
duplicate parcel_id rows."""

from collections import Counter

import numpy as np
import pytest

from cadastre_pg_spark.data.parcels import generate_star_parcels
from cadastre_pg_spark.kernels import cells as C
from cadastre_pg_spark.kernels.cover import grid_cover
from cadastre_pg_spark.operators.tiling import raster_burn, tile_assign, tile_extract

FINE, TILE = 10, 7
SCHEMA = "parcel_id long, xs array<double>, ys array<double>, ring_offsets array<int>"


def _rect(pid, x0, y0, x1, y1):
    return (pid, [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0], [0, 5])


# x = lon0 + 7k/64 and y = lat0 + 5k/64 are exact doubles that sit on a
# level-7 tile boundary (a multiple of 8 fine cells at level 10)
def _tx(k):
    return C.GRID_LON0 + 7.0 * k / 64.0


def _ty(k):
    return C.GRID_LAT0 + 5.0 * k / 64.0


E = 100_000  # edge-case ids, clear of the star parcel ids
EDGE_POLYS = [
    # partly outside the grid bbox: clamped to column 0 / the top row
    _rect(E + 1, -5.3, 45.0, -4.8, 45.2),
    _rect(E + 2, 8.7, 50.7, 9.4, 51.6),
    # wholly outside: clamps onto one corner cell
    _rect(E + 3, -20.0, 30.0, -19.0, 31.0),
    # one fine cell
    (E + 4, [2.0001, 2.0003, 2.0002, 2.0001], [45.0001, 45.0001, 45.0003, 45.0001], [0, 4]),
    # bbox edges exactly on tile boundaries, lower and upper
    _rect(E + 5, _tx(40), _ty(50), _tx(42), _ty(51)),
    _rect(E + 6, _tx(10), _ty(10), _tx(10) + 1e-3, _ty(10) + 1e-3),
    # duplicate parcel_id: two polygons counted together
    _rect(E + 7, 1.0, 44.0, 1.2, 44.1),
    _rect(E + 7, 1.15, 44.05, 1.4, 44.3),
    # a hole does not shrink the mask (bbox of the exterior ring)
    (
        E + 8,
        [0.0, 1.0, 1.0, 0.0, 0.0, 0.4, 0.6, 0.6, 0.4, 0.4],
        [45.0, 45.0, 46.0, 46.0, 45.0, 45.4, 45.4, 45.6, 45.6, 45.4],
        [0, 5, 10],
    ),
]


def _rows(df):
    return [(r["parcel_id"], r["xs"], r["ys"], r["ring_offsets"]) for r in df.collect()]


def _burn_ref(polys):
    """Counter{(parcel_id, tile): n_cells} from grid_cover per polygon."""
    nf, nt, d = 1 << FINE, 1 << TILE, FINE - TILE
    out = Counter()
    for pid, xs, ys, offs in polys:
        cells, _ = grid_cover(xs, ys, offs, FINE)
        t = ((cells // nf) >> d) * nt + ((cells % nf) >> d)
        for tile, n in zip(*np.unique(t, return_counts=True)):
            out[(int(pid), int(tile))] += int(n)
    return out


def _tiles_ref(polys):
    return {
        (int(pid), int(c))
        for pid, xs, ys, offs in polys
        for c in grid_cover(xs, ys, offs, TILE)[0]
    }


@pytest.fixture(scope="module")
def parcels(spark):
    stars = generate_star_parcels(spark, 300, partitions=4, size_scale=20.0)
    edges = spark.createDataFrame(EDGE_POLYS, SCHEMA)
    df = stars.unionByName(edges)
    return df, _rows(df)


def test_raster_burn_matches_grid_cover(spark, parcels):
    df, polys = parcels
    burn = raster_burn(df, fine_level=FINE, tile_level=TILE)
    assert burn.dtypes == [("parcel_id", "bigint"), ("tile", "bigint"), ("n_cells", "bigint")]
    got = {(r["parcel_id"], r["tile"]): r["n_cells"] for r in burn.collect()}
    ref = _burn_ref(polys)
    assert len(got) == len(ref)
    assert got == dict(ref)
    # the edge cases are in there: the clamped corner cell, one cell,
    # and the upper bbox edge spilling one fine column into tile x=42
    assert got[(E + 3, 0)] == 1
    assert [n for (p, _), n in got.items() if p == E + 4] == [1]
    assert got[(E + 5, 42 * (1 << TILE) + 50)] == 1 * 8


def test_tile_extract_matches_grid_cover(spark, parcels):
    df, polys = parcels
    ref = _burn_ref(polys)
    want_tiles = sorted({t for _, t in ref})[::3]
    tiles = spark.createDataFrame([(t,) for t in want_tiles + want_tiles[:5]], "tile long")
    burn = raster_burn(df, fine_level=FINE, tile_level=TILE)
    got = sorted(
        (r["tile"], r["parcel_id"], r["n_cells"]) for r in tile_extract(tiles, burn).collect()
    )
    keep = set(want_tiles)
    assert got == sorted((t, p, n) for (p, t), n in ref.items() if t in keep)


def test_tile_assign_matches_grid_cover_and_polyfill(spark, parcels):
    from cadastre_pg_spark.operators.spatial_join import polyfill

    df, polys = parcels
    got = tile_assign(df, tile_level=TILE)
    assert got.dtypes == [("parcel_id", "bigint"), ("tile", "bigint")]
    got = sorted((r["parcel_id"], r["tile"]) for r in got.collect())
    assert got == sorted(_tiles_ref(polys))
    cover = polyfill(df, level=TILE).select("parcel_id", "cell").distinct().collect()
    assert got == sorted((r["parcel_id"], r["cell"]) for r in cover)


def test_empty_and_null_rings_yield_no_rows(spark):
    bad = spark.createDataFrame(
        [
            (10, [], [], [0, 0]),
            (11, None, None, None),
            (12, [1.0, 1.1, 1.0], [45.0, 45.0, 45.1], [0]),
            (13, [1.0, 1.1, 1.0], [45.0, 45.0, 45.1], None),
            (14, [1.0, 1.1, 1.0], [45.0, 45.0, 45.1], []),
        ],
        SCHEMA,
    )
    good = spark.createDataFrame([_rect(20, 1.0, 45.0, 1.01, 45.01)], SCHEMA)
    df = bad.unionByName(good)
    burn = raster_burn(df, fine_level=FINE, tile_level=TILE).collect()
    assert {r["parcel_id"] for r in burn} == {20}
    assert {r["parcel_id"] for r in tile_assign(df, tile_level=TILE).collect()} == {20}


@pytest.mark.parametrize("missing", ["parcel_id", "xs", "ys", "ring_offsets"])
def test_missing_column_raises(spark, missing):
    df = spark.createDataFrame([_rect(1, 1.0, 45.0, 1.1, 45.1)], SCHEMA).drop(missing)
    for op in (raster_burn, tile_assign):
        with pytest.raises(ValueError, match=repr(missing)):
            op(df)


def test_fine_level_must_exceed_tile_level(spark):
    df = spark.createDataFrame([_rect(1, 1.0, 45.0, 1.1, 45.1)], SCHEMA)
    for fine, tile in ((7, 7), (6, 7)):
        with pytest.raises(ValueError, match="fine_level must exceed tile_level"):
            raster_burn(df, fine_level=fine, tile_level=tile)

