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
from .mercator import MAX_LAT, mercator_to_wgs84, wgs84_to_mercator
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


# ------------------------------------------------ cell-local edge lists

_BAND_MARGIN = 1e-6  # of the cell's size: far above the probe's rounding
_MAX_SPLITS = 40  # quadrant splits before an over-full cell is an error


def grid_cell_bands(cells, lvl):
    """Per grid cell id at level `lvl` (scalar or per row): the nominal
    rectangle (x0, x1, y0, y1) and the probe band, i.e. the rectangle
    holding every point the probe's floor arithmetic maps to the cell —
    the nominal one widened by a margin, unbounded on a side where the
    probe clamps (the grid border)."""
    cells = np.asarray(cells, dtype=np.int64)
    n = np.int64(1) << np.asarray(lvl, dtype=np.int64)
    ix, iy = cells // n, cells % n
    wx = (C.GRID_LON1 - C.GRID_LON0) / n.astype(np.float64)
    wy = (C.GRID_LAT1 - C.GRID_LAT0) / n.astype(np.float64)
    x0 = C.GRID_LON0 + ix.astype(np.float64) * wx
    y0 = C.GRID_LAT0 + iy.astype(np.float64) * wy
    nominal = (x0, x0 + wx, y0, y0 + wy)
    mx, my = _BAND_MARGIN * wx, _BAND_MARGIN * wy
    band = (
        np.where(ix == 0, -np.inf, x0 - mx),
        np.where(ix == n - 1, np.inf, x0 + wx + mx),
        np.where(iy == 0, -np.inf, y0 - my),
        np.where(iy == n - 1, np.inf, y0 + wy + my),
    )
    return nominal, band


def hex_cell_bands(cells):
    """grid_cell_bands for hex cells: the lon/lat image of the hex's
    mercator bounding box (mercator is monotone per axis), widened by a
    margin; unbounded in lat where the forward projection clamps."""
    hx, hy = C.hex_center(cells)
    a = C.HEX_BASE_EDGE * np.exp2(C.HEX_MIN_RES - C.hex_unpack(cells)[2].astype(np.float64))
    x0, y0 = mercator_to_wgs84(hx - a, hy - a)
    x1, y1 = mercator_to_wgs84(hx + a, hy + a)
    nominal = (x0, x1, y0, y1)
    mx, my = _BAND_MARGIN * (x1 - x0), _BAND_MARGIN * (y1 - y0)
    _, y_max = wgs84_to_mercator(0.0, MAX_LAT)
    band = (
        x0 - mx,
        x1 + mx,
        np.where(hy - a <= -y_max, -np.inf, y0 - my),
        np.where(hy + a >= y_max, np.inf, y1 + my),
    )
    return nominal, band


def cell_edge_lists(edges, poly, nominal, band, e_max: int):
    """Cell-local edge lists (S2ShapeIndex-style clipped edges): per
    cell, the ray-casting parity of `pip.points_in_ring` split into a
    constant and at most `e_max` edges to test per point.

    `edges` are `pip.build_edge_matrix`'s padded (P, E) matrices and
    `poly[i]` is cell i's row in them, so one call serves a batch of
    polygons. For a point in cell i's probe `band`, each edge of its
    polygon either crosses the point's +x ray for every such point (it
    spans the band's y-range and lies right of its x-range: counted in
    `base`), crosses for none (horizontal, outside the y-range or left
    of the x-range) or is LOCAL: tested per point, with its endpoints
    in ring order so the probe computes the crossing with the kernel's
    op order. The x tests read the edge's x-range over the band's
    y-range, widened by the crossing abscissa's rounding error, so
    `base + local crossings` equals the kernel's count for every point
    in the band, bit for bit.

    A cell with more than `e_max` local edges splits in two,
    recursively: at the median local-edge endpoint strictly inside its
    y-range (the child below holds no point at that y, so the edges
    ending there leave it), else at the midpoint of its longer nominal
    side (edges converging on a vertex part away from it). A
    sub-rectangle's bounds are the split lines inside the cell and ±inf
    on its outer sides, so `x0 <= px < x1 and y0 <= py < y1` sends
    every point of the cell to exactly one sub-rectangle. More than
    `e_max` edges through one point cannot be split apart: ValueError.

    Returns (row -> cell index, base, (x0, x1, y0, y1), (ax, ay, bx,
    by)): one row per cell or sub-rectangle, the edge arrays
    (rows, e_max), local edges first, NaN-padded."""
    X1, Y1, X2, Y2 = (np.asarray(e, dtype=np.float64) for e in edges)
    valid = (Y1 != Y2) & ~np.isnan(Y1)  # a horizontal edge never crosses
    # the kernel's abscissa and ours are each within 4 eps (|x1| + |x2|)
    # of the exact one
    SLACK = 8 * np.finfo(np.float64).eps * (np.abs(X1) + np.abs(X2))
    YLO, YHI = np.minimum(Y1, Y2), np.maximum(Y1, Y2)
    step = max(1, 4_000_000 // max(X1.shape[1], 1))

    k = len(poly)
    inf = np.full(k, np.inf)
    # per row: cell, polygon, nominal x0/x1/y0/y1, band x0/x1/y0/y1,
    # bounds x0/x1/y0/y1, and whether y1 is a split line (points lie
    # below it)
    rows = [np.arange(k), np.asarray(poly, dtype=np.int64),
            *(np.asarray(v, dtype=np.float64) for v in (*nominal, *band)),
            -inf, inf, -inf, inf, np.zeros(k, dtype=bool)]
    none = np.zeros(0, dtype=np.int64)
    out = [(none, none, [np.zeros(0)] * 4, (np.zeros((0, e_max)),) * 4)]
    for _ in range(_MAX_SPLITS + 1):
        todo = []
        for s in range(0, len(rows[0]), step):
            blk = [v[s : s + step] for v in rows]
            p = blk[1]
            ylo, yhi = YLO[p], YHI[p]
            bx0, bx1, by0, by1 = (v[:, None] for v in blk[6:10])
            xlo, xhi = _clipped_x(X1[p], Y1[p], X2[p], Y2[p], np.maximum(by0, ylo),
                                  np.minimum(by1, yhi), SLACK[p])
            below = blk[14][:, None]
            span = (ylo <= by0) & np.where(below, yhi >= by1, yhi > by1)
            base_e = valid[p] & span & (xlo > bx1)
            miss = (yhi <= by0) | np.where(below, ylo >= by1, ylo > by1) | (xhi < bx0)
            local = valid[p] & ~(base_e | miss)
            ok = local.sum(axis=1) <= e_max
            order = np.argsort(~local[ok], axis=1, kind="stable")[:, :e_max]
            keep = np.take_along_axis(local[ok], order, axis=1)
            pad = ((0, 0), (0, e_max - order.shape[1]))
            lists = tuple(
                np.pad(
                    np.where(keep, np.take_along_axis(e[p[ok]], order, axis=1), np.nan),
                    pad,
                    constant_values=np.nan,
                )
                for e in (X1, Y1, X2, Y2)
            )
            out.append((blk[0][ok], base_e[ok].sum(axis=1), [v[ok] for v in blk[10:14]], lists))
            if not ok.all():
                todo.append(_split([v[~ok] for v in blk], local[~ok], ylo[~ok], yhi[~ok]))
        if not todo:
            break
        rows = [np.concatenate(v) for v in zip(*todo)]
    else:
        raise ValueError(f"more than {e_max} ring edges meet in one point of a cell")
    return (
        np.concatenate([o[0] for o in out]),
        np.concatenate([o[1] for o in out]).astype(np.int64),
        tuple(np.concatenate([o[2][i] for o in out]) for i in range(4)),
        tuple(np.concatenate([o[3][i] for o in out]) for i in range(4)),
    )


def _clipped_x(x1, y1, x2, y2, ya, yb, slack):
    """x-range of each edge over its y-range clipped to [ya, yb], in the
    kernel's op order, widened by `slack`."""
    with np.errstate(divide="ignore", invalid="ignore"):
        xa = x1 + (ya - y1) / (y2 - y1) * (x2 - x1)
        xb = x1 + (yb - y1) / (y2 - y1) * (x2 - x1)
    return np.fmin(xa, xb) - slack, np.fmax(xa, xb) + slack


def _split(rows, local, ylo, yhi):
    """Two children per over-full row of cell_edge_lists (see there)."""
    cell, poly, nx0, nx1, ny0, ny1, bx0, bx1, by0, by1, sx0, sx1, sy0, sy1, below = rows
    r = len(cell)
    # endpoints of local edges strictly inside the band's y-range
    ys = np.concatenate([np.where(local, ylo, np.nan), np.where(local, yhi, np.nan)], axis=1)
    ys[~((ys > by0[:, None]) & (ys < by1[:, None]))] = np.nan
    cnt = np.sum(~np.isnan(ys), axis=1)
    ys.sort(axis=1)  # NaN last
    at_end = cnt > 0
    at_y = at_end | (ny1 - ny0 > nx1 - nx0)
    mid = np.where(at_y, (ny0 + ny1) / 2, (nx0 + nx1) / 2)
    cut = np.repeat(np.where(at_end, ys[np.arange(r), cnt // 2], mid), 2)
    at_y = np.repeat(at_y, 2)
    hi = np.tile([False, True], r)  # child 1 lies above / right of the cut
    up, down = hi & at_y, ~hi & at_y
    right, left = hi & ~at_y, ~hi & ~at_y

    def child(v, at):
        """v per child, the cut where `at` puts the child's side on it."""
        return np.where(at, cut, np.repeat(v, 2))

    return [
        np.repeat(cell, 2), np.repeat(poly, 2),
        child(nx0, right), child(nx1, left), child(ny0, up), child(ny1, down),
        child(bx0, right), child(bx1, left), child(by0, up), child(by1, down),
        child(sx0, right), child(sx1, left), child(sy0, up), child(sy1, down),
        np.repeat(below, 2) | down,
    ]
