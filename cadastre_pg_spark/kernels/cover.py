"""Polygon -> cell cover ("polyfill") with full/partial classification.

The build-side half of the cell-bucketed spatial join (SURVEY.md §7.3
step 4): every cell that can contain part of the polygon is emitted;
cells provably interior are flagged ``full`` so the join can skip the
exact point-in-polygon refinement for points landing in them. The
classification is CONSERVATIVE (a full cell is always truly interior;
some interior cells may be labeled partial) so join output equals the
exact PIP oracle regardless of classification quality.

Full test: all 4 cell corners inside the polygon (even-odd over all
rings) AND no polygon edge's bbox overlaps the cell bbox (overlap is a
necessary condition for an edge to cross the cell).
"""

import numpy as np

from . import cells as C
from .mercator import wgs84_to_mercator
from .pip import points_in_polygon, ring_edges


def grid_cover(xs, ys, ring_offsets, level: int = C.DEFAULT_LEVEL):
    """Cover of a lon/lat polygon by grid cells at `level`.

    Returns (cell_ids int64[k], is_full bool[k]).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    offs = np.asarray(ring_offsets, dtype=np.int64)
    ext = slice(offs[0], offs[1])
    ix0, iy0 = C.grid_cell_xy(xs[ext].min(), ys[ext].min(), level)
    ix1, iy1 = C.grid_cell_xy(xs[ext].max(), ys[ext].max(), level)
    # grid_cell_xy vectorizes; min/max scalars come back as 1-element
    # arrays — ravel()[0] extraction keeps NumPy >= 1.25 happy
    gx = np.arange(
        int(np.ravel(ix0)[0]), int(np.ravel(ix1)[0]) + 1, dtype=np.int64
    )
    gy = np.arange(
        int(np.ravel(iy0)[0]), int(np.ravel(iy1)[0]) + 1, dtype=np.int64
    )
    mx, my = np.meshgrid(gx, gy, indexing="ij")
    mx = mx.ravel()
    my = my.ravel()
    cell_ids = C.grid_cell_from_xy(mx, my, level)

    wx, wy = C.grid_cell_size(level)
    cx0 = C.GRID_LON0 + mx.astype(np.float64) * wx
    cy0 = C.GRID_LAT0 + my.astype(np.float64) * wy
    cx1 = cx0 + wx
    cy1 = cy0 + wy

    is_full = _classify_full(xs, ys, offs, cx0, cy0, cx1, cy1)
    return cell_ids, is_full


def _classify_full(xs, ys, offs, cx0, cy0, cx1, cy1):
    """Vectorized conservative interior test for k axis-aligned cells."""
    k = len(cx0)
    # corners inside?
    corner_x = np.concatenate([cx0, cx1, cx0, cx1])
    corner_y = np.concatenate([cy0, cy0, cy1, cy1])
    inside = points_in_polygon(corner_x, corner_y, xs, ys, offs)
    all_corners_in = inside[:k] & inside[k : 2 * k] & inside[2 * k : 3 * k] & inside[3 * k :]

    return all_corners_in & _no_edge_overlap(xs, ys, offs, cx0, cy0, cx1, cy1)


def grid_cover_compact(
    xs, ys, ring_offsets, fine_level: int = C.DEFAULT_LEVEL, d: int = 3
):
    """Multi-resolution cover (H3 'compact' analog): fine cells whose
    parent block at (fine_level - d) is ENTIRELY full collapse into one
    coarse full cell; boundary stays at fine resolution.

    Returns (cell_ids, is_full, lvl) where lvl is fine_level for fine
    rows and (fine_level - d) for coarse rows. Exactness: a coarse cell
    is emitted only when all (2^d)^2 children are provably interior, so
    any point in it is inside the polygon; no child is double-emitted.
    """
    cells_f, full_f = grid_cover(xs, ys, ring_offsets, fine_level)
    coarse_level = fine_level - d
    if d <= 0 or coarse_level < 0 or len(cells_f) == 0:
        return (
            cells_f,
            full_f,
            np.full(len(cells_f), fine_level, dtype=np.int64),
        )
    nf = np.int64(1) << fine_level
    nc = np.int64(1) << coarse_level
    side = np.int64(1) << d
    ix = cells_f // nf
    iy = cells_f % nf
    parent = (ix >> d) * nc + (iy >> d)
    # parents where every child cell is present AND full
    full_parents, counts = np.unique(parent[full_f], return_counts=True)
    complete = full_parents[counts == side * side]
    complete_set = np.isin(parent, complete)
    keep = ~(complete_set & full_f)  # drop children of complete blocks
    out_cells = np.concatenate([cells_f[keep], complete])
    out_full = np.concatenate([full_f[keep], np.ones(len(complete), dtype=bool)])
    out_lvl = np.concatenate(
        [
            np.full(keep.sum(), fine_level, dtype=np.int64),
            np.full(len(complete), coarse_level, dtype=np.int64),
        ]
    )
    return out_cells, out_full, out_lvl


def hex_cover(xs, ys, ring_offsets, res: int):
    """Cover of a lon/lat polygon by hex cells at `res` (conservative:
    all cells whose center-disk bounding region meets the polygon bbox;
    classification full/partial via corner sampling of the hex)."""
    xs_m, ys_m = wgs84_to_mercator(
        np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)
    )
    offs = np.asarray(ring_offsets, dtype=np.int64)
    ext = slice(offs[0], offs[1])
    a = C.hex_edge(res)
    # candidate axial range from mercator bbox, padded one cell
    bx0, bx1 = xs_m[ext].min() - 2 * a, xs_m[ext].max() + 2 * a
    by0, by1 = ys_m[ext].min() - 2 * a, ys_m[ext].max() + 2 * a
    corners_q, corners_r = C.hex_axial(
        np.array([bx0, bx1, bx0, bx1]), np.array([by0, by0, by1, by1]), res
    )
    q_range = np.arange(corners_q.min() - 1, corners_q.max() + 2, dtype=np.int64)
    r_range = np.arange(corners_r.min() - 1, corners_r.max() + 2, dtype=np.int64)
    mq, mr = np.meshgrid(q_range, r_range, indexing="ij")
    mq, mr = mq.ravel(), mr.ravel()
    cell_ids = C.hex_pack(mq, mr, res)
    hx, hy = C.hex_center(cell_ids)
    # keep cells whose center is within one hex diameter of the bbox
    keep = (hx >= bx0 - 2 * a) & (hx <= bx1 + 2 * a) & (hy >= by0 - 2 * a) & (hy <= by1 + 2 * a)
    cell_ids, hx, hy = cell_ids[keep], hx[keep], hy[keep]

    # full iff all 6 hex vertices inside polygon (tested in mercator
    # space) and no edge bbox overlaps the hex bbox
    angles = np.radians(np.arange(30, 390, 60, dtype=np.float64))
    vx = hx[:, None] + a * np.cos(angles)[None, :]
    vy = hy[:, None] + a * np.sin(angles)[None, :]
    inside = points_in_polygon(
        vx.ravel(), vy.ravel(), xs_m, ys_m, offs
    ).reshape(vx.shape)
    center_in = points_in_polygon(hx, hy, xs_m, ys_m, offs)
    all_in = inside.all(axis=1)

    is_full = np.zeros(len(cell_ids), dtype=bool)
    touched = np.zeros(len(cell_ids), dtype=bool)
    if len(cell_ids):
        # one overlap matrix serves both classifications (it was
        # computed twice before — the dominant cost of hex polyfill)
        no_ov = _no_edge_overlap(xs_m, ys_m, offs, hx - a, hy - a, hx + a, hy + a)
        is_full = all_in & no_ov
        touched = inside.any(axis=1) | center_in | ~no_ov
    return cell_ids[touched], is_full[touched]


def _no_edge_overlap(xs, ys, offs, cx0, cy0, cx1, cy1):
    """Per cell: no polygon edge's bbox overlaps the cell bbox (overlap
    is necessary for an edge to cross the cell)."""
    k = len(cx0)
    ex1, ey1, ex2, ey2 = ring_edges(xs, ys, offs)
    sminx = np.minimum(ex1, ex2)
    smaxx = np.maximum(ex1, ex2)
    sminy = np.minimum(ey1, ey2)
    smaxy = np.maximum(ey1, ey2)
    no_ov = np.ones(k, dtype=bool)
    step = max(1, 4_000_000 // max(len(ex1), 1))
    for s in range(0, k, step):
        e = min(k, s + step)
        ov = (
            (sminx[None, :] <= cx1[s:e, None])
            & (smaxx[None, :] >= cx0[s:e, None])
            & (sminy[None, :] <= cy1[s:e, None])
            & (smaxy[None, :] >= cy0[s:e, None])
        )
        no_ov[s:e] = ~ov.any(axis=1)
    return no_ov
