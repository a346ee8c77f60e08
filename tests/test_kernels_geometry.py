"""Ring stitching / topology / hull / PIP / hash kernel tests, mirroring
the reference's unit layer (SURVEY.md §5: ring.rs:117-150,
topology.rs:109-126, fallback.rs:28-42, diff.rs:126-201)."""

import numpy as np
import pytest

from cadastre_pg_spark.kernels.geomhash import geometry_hash, point_hash
from cadastre_pg_spark.kernels.hull import convex_hull
from cadastre_pg_spark.kernels.numparse import (
    parse_coord_pair,
    parse_edigeo_int,
    parse_edigeo_number,
    validate_date,
)
from cadastre_pg_spark.kernels.pip import points_in_polygon, points_in_ring
from cadastre_pg_spark.kernels.rings import (
    organize_rings,
    polygon_to_flat,
    reconstruct_rings,
    remove_dead_ends,
)

SQUARE = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)


def test_ring_from_four_unordered_arcs():
    arcs = [
        np.array([[1, 1], [0, 1]], float),
        np.array([[0, 0], [1, 0]], float),
        np.array([[0, 1], [0, 0]], float),
        np.array([[1, 0], [1, 1]], float),
    ]
    rings = reconstruct_rings(arcs)
    assert len(rings) == 1
    r = rings[0]
    assert np.array_equal(r[0], r[-1])
    assert len(np.unique(r[:-1], axis=0)) == 4


def test_self_closing_arc():
    rings = reconstruct_rings([SQUARE.copy()])
    assert len(rings) == 1


def test_ring_autoclose_gap():
    arcs = [np.array([[0, 0], [1, 0], [1, 1], [0, 0.9999999]], float)]
    rings = reconstruct_rings(arcs)
    assert len(rings) == 1
    assert np.array_equal(rings[0][0], rings[0][-1])


def test_no_ring_raises():
    with pytest.raises(ValueError):
        reconstruct_rings([])


def test_organize_single_ring():
    polys = organize_rings([SQUARE])
    assert len(polys) == 1
    assert polys[0][1] == []


def test_organize_hole():
    hole = np.array(
        [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]], float
    )
    polys = organize_rings([hole, SQUARE])
    assert len(polys) == 1
    ext, holes = polys[0]
    assert len(holes) == 1
    assert np.array_equal(ext, SQUARE)


def test_organize_multipolygon():
    far = SQUARE + 10.0
    polys = organize_rings([SQUARE, far])
    assert len(polys) == 2


def test_remove_dead_ends():
    loop = [
        np.array([[0, 0], [1, 0]], float),
        np.array([[1, 0], [1, 1]], float),
        np.array([[1, 1], [0, 0]], float),
    ]
    culdesac = np.array([[1, 1], [5, 5]], float)
    kept = remove_dead_ends(loop + [culdesac])
    assert len(kept) == 3


def test_convex_hull():
    xs = np.array([0, 1, 1, 0, 0.5])
    ys = np.array([0, 0, 1, 1, 0.5])
    hx, hy = convex_hull(xs, ys)
    assert len(hx) == 4
    with pytest.raises(ValueError):
        convex_hull([0, 1], [0, 1])


def test_pip_square():
    inside = points_in_ring([0.5, 1.5, -0.1], [0.5, 0.5, 0.5], SQUARE[:, 0], SQUARE[:, 1])
    assert inside.tolist() == [True, False, False]


def test_pip_with_hole():
    hole = np.array(
        [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]], float
    )
    xs, ys, offs = polygon_to_flat([(SQUARE, [hole])])
    res = points_in_polygon([0.5, 0.1, 2.0], [0.5, 0.1, 0.5], xs, ys, offs)
    assert res.tolist() == [False, True, False]  # center is in the hole


def test_empty_ring_is_inert():
    """A zero-length ring (offsets [0, 5, 5]) adds no edges: the
    reference PIP, the grid cover and the rowwise kernel all answer as
    for the exterior alone."""
    from cadastre_pg_spark.kernels.cover import grid_cover
    from cadastre_pg_spark.kernels.pip import (
        build_edge_matrix,
        points_in_polygons_rowwise,
    )

    xs = 2.0 + 0.01 * SQUARE[:, 0]
    ys = 48.0 + 0.01 * SQUARE[:, 1]
    px = np.array([2.005, 2.02, 1.99, 2.0001])
    py = np.array([48.005, 48.005, 48.005, 48.0099])
    want = points_in_polygon(px, py, xs, ys, [0, 5])
    assert want.tolist() == [True, False, False, True]
    assert points_in_polygon(px, py, xs, ys, [0, 5, 5]).tolist() == want.tolist()
    cells, full = grid_cover(xs, ys, [0, 5, 5])
    want_cells, want_full = grid_cover(xs, ys, [0, 5])
    assert len(cells) > 0
    assert cells.tolist() == want_cells.tolist()
    assert full.tolist() == want_full.tolist()
    edges = build_edge_matrix([(xs, ys, [0, 5, 5])])
    got = points_in_polygons_rowwise(px, py, np.zeros(len(px), np.int64), *edges)
    assert got.tolist() == want.tolist()


def test_hash_rotation_invariance():
    """Same square under ring rotation hashes identically (diff.rs:159-200)."""
    base = SQUARE[:-1]
    hashes = set()
    for k in range(4):
        ring = np.roll(base, k, axis=0)
        ring = np.vstack([ring, ring[:1]])
        xs, ys, offs = polygon_to_flat([(ring, [])])
        hashes.add(geometry_hash(xs, ys, offs))
    assert len(hashes) == 1
    h = hashes.pop()
    assert len(h) == 32


def test_hash_inequality_and_reflection():
    other = SQUARE.copy()
    other[:, 0] += 1.0
    xs1, ys1, o1 = polygon_to_flat([(SQUARE, [])])
    xs2, ys2, o2 = polygon_to_flat([(other, [])])
    assert geometry_hash(xs1, ys1, o1) != geometry_hash(xs2, ys2, o2)
    # reflection (reversed orientation) is NOT invariant (diff.rs semantics)
    rev = SQUARE[::-1].copy()
    xs3, ys3, o3 = polygon_to_flat([(rev, [])])
    assert geometry_hash(xs1, ys1, o1) != geometry_hash(xs3, ys3, o3)
    assert len(point_hash(1.0, 2.0)) == 32


def test_numparse_goldens():
    assert parse_edigeo_number("+1895.") == 1895.0
    assert parse_edigeo_int("01") == 1
    assert parse_edigeo_number("  +2.5 ") == 2.5
    assert parse_edigeo_number("abc") is None
    assert parse_coord_pair("+881824.53;+6663821.17;") == (881824.53, 6663821.17)
    assert validate_date("2024-01")
    assert not validate_date("2024-13")
    assert not validate_date("24-01")
    assert not validate_date("2024/01")


def test_cell_edge_lists_edges_through_one_point():
    """A hole touching its exterior at a vertex puts 4 edges through one
    point, 3 of them from below it: no split separates those 3, so at
    e_max=2 cell_edge_lists raises instead of splitting forever, and at
    e_max=3 (a split at the vertex's y leaves the 4th above) each row's
    base + local crossings equal points_in_polygon around the point."""
    from cadastre_pg_spark.kernels.cells import grid_cell
    from cadastre_pg_spark.kernels.cover import cell_edge_lists, grid_cell_bands, grid_cover
    from cadastre_pg_spark.kernels.pip import build_edge_matrix

    v = (2.0, 45.0)
    ext = np.array([[1.9, 44.9], [2.1, 44.95], [2.05, 45.1], v, [1.9, 44.9]])
    hole = np.array([v, [1.96, 44.99], [1.98, 44.97], v])
    xs, ys, offs = polygon_to_flat([(ext, [hole])])
    cells, _ = grid_cover(xs, ys, offs, 10)
    args = (build_edge_matrix([(xs, ys, offs)]), np.zeros(len(cells), np.int64), *grid_cell_bands(cells, 10))
    with pytest.raises(ValueError, match="meet in one point"):
        cell_edge_lists(*args, 2)
    row, base, bounds, (ax, ay, bx, by) = cell_edge_lists(*args, 3)
    rng = np.random.default_rng(2)
    px, py = rng.uniform(1.99, 2.01, 2000), rng.uniform(44.99, 45.01, 2000)
    pcell = grid_cell(px, py, 10)
    got = np.zeros(len(px), dtype=bool)
    for i in range(len(px)):
        for j in np.nonzero(cells[row] == pcell[i])[0]:
            x0, x1, y0, y1 = (b[j] for b in bounds)
            if x0 <= px[i] < x1 and y0 <= py[i] < y1:
                with np.errstate(invalid="ignore"):
                    xint = ax[j] + (py[i] - ay[j]) / (by[j] - ay[j]) * (bx[j] - ax[j])
                cross = ((ay[j] > py[i]) != (by[j] > py[i])) & (px[i] < xint)
                got[i] = (base[j] + cross.sum()) % 2 == 1
    np.testing.assert_array_equal(got, points_in_polygon(px, py, xs, ys, offs))
