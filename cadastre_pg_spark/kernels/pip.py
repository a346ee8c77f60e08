"""Exact ray-casting point-in-polygon, vectorized (points x edges).

The engine's refinement kernel for the cell-bucketed spatial join —
replaces the reference's use of geo::Contains
(edigeo/src/repair/topology.rs:3,34) and the PostGIS ST_Contains
workload its GIST index enables (postgres.rs:320-329).

Polygons use the flat representation carried in DataFrames:
``xs: float64[n], ys: float64[n], ring_offsets: int[r+1]`` where
ring 0 is the exterior and the rest are holes. The even-odd (crossing
number) rule over ALL rings handles holes with a single pass.
"""

import numpy as np

_MAX_PAIRS = 4_000_000  # cap on points*edges per vectorized block


def points_in_ring(px, py, rx, ry):
    """Crossing-number parity of points (N,) vs one ring (M,). Returns
    bool (N,). Ring need not repeat its closing vertex (edges wrap)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    if len(rx) > 1 and rx[0] == rx[-1] and ry[0] == ry[-1]:
        rx, ry = rx[:-1], ry[:-1]
    x1, y1 = rx, ry
    x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
    n, m = len(px), len(rx)
    inside = np.zeros(n, dtype=bool)
    # block over points so the (block x M) temp stays bounded
    step = max(1, _MAX_PAIRS // max(m, 1))
    for s in range(0, n, step):
        e = min(n, s + step)
        bx = px[s:e, None]
        by = py[s:e, None]
        cond = (y1[None, :] > by) != (y2[None, :] > by)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (by - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
                x2[None, :] - x1[None, :]
            )
        cross = cond & (bx < xint)
        inside[s:e] = (cross.sum(axis=1) % 2).astype(bool)
    return inside


def points_in_polygon(px, py, xs, ys, ring_offsets):
    """Even-odd containment of points (N,) vs a polygon with holes."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    ring_offsets = np.asarray(ring_offsets, dtype=np.int64)
    parity = np.zeros(len(px), dtype=np.int64)
    for i in range(len(ring_offsets) - 1):
        a, b = ring_offsets[i], ring_offsets[i + 1]
        parity += points_in_ring(px, py, xs[a:b], ys[a:b]).astype(np.int64)
    return (parity % 2).astype(bool)


def ring_edges(xs, ys, offs):
    """Edges (x1, y1, x2, y2) of every ring of one flat polygon, ring
    after ring. A repeated closing vertex is dropped and each ring's
    last vertex wraps to its first; an empty ring has no edges."""
    ex1, ey1, ex2, ey2 = [], [], [], []
    for i in range(len(offs) - 1):
        a, b = offs[i], offs[i + 1]
        rx, ry = xs[a:b], ys[a:b]
        if len(rx) > 1 and rx[0] == rx[-1] and ry[0] == ry[-1]:
            rx, ry = rx[:-1], ry[:-1]
        ex1.append(rx)
        ey1.append(ry)
        ex2.append(np.roll(rx, -1))
        ey2.append(np.roll(ry, -1))
    return tuple(np.concatenate(e) for e in (ex1, ey1, ex2, ey2))


def build_edge_matrix(polys):
    """Pack many polygons into padded edge matrices for row-vectorized
    PIP. polys: iterable of (xs, ys, ring_offsets). Returns
    (X1, Y1, X2, Y2) float64 (P, Emax), NaN-padded — a NaN edge can
    never satisfy the crossing condition, so padding is inert."""
    edges = [
        ring_edges(
            np.asarray(xs, dtype=np.float64),
            np.asarray(ys, dtype=np.float64),
            np.asarray(offs, dtype=np.int64),
        )
        for xs, ys, offs in polys
    ]
    emax = max((len(e[0]) for e in edges), default=0)
    out = tuple(np.full((len(edges), emax), np.nan) for _ in range(4))
    for i, poly in enumerate(edges):
        for m, e in zip(out, poly):
            m[i, : len(e)] = e
    return out


def points_in_polygons_rowwise(px, py, pidx, X1, Y1, X2, Y2, block_cells=8_000_000):
    """Row-vectorized even-odd PIP: point i is tested against polygon
    row pidx[i] of the padded edge matrices. One NumPy pass for an
    arbitrary mix of polygons — no per-polygon Python loop."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    pidx = np.asarray(pidx, dtype=np.int64)
    n = len(px)
    emax = X1.shape[1]
    out = np.zeros(n, dtype=bool)
    step = max(1, block_cells // max(emax, 1))
    for s in range(0, n, step):
        e = min(n, s + step)
        idx = pidx[s:e]
        x1 = X1[idx]
        y1 = Y1[idx]
        x2 = X2[idx]
        y2 = Y2[idx]
        by = py[s:e, None]
        bx = px[s:e, None]
        cond = (y1 > by) != (y2 > by)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (by - y1) / (y2 - y1) * (x2 - x1)
        cross = cond & (bx < xint)
        out[s:e] = (cross.sum(axis=1) % 2).astype(bool)
    return out
