"""Grid-density clustering (cell-granular DBSCAN): goldens, boundary
semantics, brute-force parity."""

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.density import dbscan_grid
from cadastre_pg_spark.operators.held import release_cached

LEVEL = 3  # 8x8 grid
N = 1 << LEVEL


def _cells_df(spark, cells):
    """cells: list of (pid, cell)"""
    return spark.createDataFrame(cells, "doc_id long, cell long")


def _run(spark, cells, min_pts=3):
    df = dbscan_grid(_cells_df(spark, cells), level=LEVEL, min_pts=min_pts)
    rows = {r.doc_id: (r.cluster, r.role) for r in df.collect()}
    release_cached(df)
    return rows


def cid(ix, iy):
    return ix * N + iy


def test_two_blobs_border_noise(spark):
    cells = []
    pid = 0
    # blob A: core cells (1,1) and (2,2) — diagonal-adjacent, one cluster
    for cell in (cid(1, 1),) * 3 + (cid(2, 2),) * 3:
        cells.append((pid, cell)); pid += 1
    # blob B: far away core cell (6, 6)
    for _ in range(4):
        cells.append((pid, cid(6, 6))); pid += 1
    # border point: next to blob A only
    cells.append((100, cid(0, 0)))
    # noise point: adjacent to nothing core
    cells.append((200, cid(4, 0)))
    rows = _run(spark, cells)

    a_label = min(cid(1, 1), cid(2, 2))
    assert rows[0] == (a_label, "core")
    assert rows[3] == (a_label, "core")  # diagonal adjacency merges
    assert rows[6] == (cid(6, 6), "core")
    assert rows[100] == (a_label, "border")
    assert rows[200] == (-1, "noise")


def test_no_wraparound_at_grid_edge(spark):
    # core cell in column iy = N-1; a point in column 0 of the next row
    # is NOT adjacent even though the flat ids differ by 1
    core_cell = cid(2, N - 1)
    cells = [(i, core_cell) for i in range(3)]
    cells.append((50, cid(3, 0)))  # flat id = core_cell + 1, not a neighbor
    rows = _run(spark, cells)
    assert rows[50] == (-1, "noise")
    assert rows[0] == (core_cell, "core")


def test_isolated_core_is_singleton_cluster(spark):
    cells = [(i, cid(5, 5)) for i in range(3)]
    rows = _run(spark, cells)
    assert rows[0] == (cid(5, 5), "core")


def test_border_tie_takes_min_cluster(spark):
    # two separate core cells both adjacent to the probe cell
    left, right = cid(3, 2), cid(3, 4)  # not adjacent to each other
    cells = [(i, left) for i in range(3)] + [(10 + i, right) for i in range(3)]
    cells.append((99, cid(3, 3)))  # between the two clusters
    rows = _run(spark, cells)
    assert rows[0][0] != rows[10][0]  # two distinct clusters
    assert rows[99] == (min(left, right), "border")


def _brute(cells, min_pts):
    from collections import Counter

    counts = Counter(c for _, c in cells)
    core = {c for c, k in counts.items() if k >= min_pts}

    def neigh(c):
        ix, iy = divmod(c, N)
        out = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                jx, jy = ix + dx, iy + dy
                if 0 <= jx < N and 0 <= jy < N:
                    out.append(jx * N + jy)
        return out

    label = {c: c for c in core}
    changed = True
    while changed:
        changed = False
        for c in core:
            for nb in neigh(c):
                if nb in core and label[nb] < label[c]:
                    label[c] = label[nb]
                    changed = True
    out = {}
    for pid, c in cells:
        if c in core:
            out[pid] = (label[c], "core")
        else:
            adj = [label[nb] for nb in neigh(c) if nb in core]
            out[pid] = (min(adj), "border") if adj else (-1, "noise")
    return out


def test_matches_bruteforce_on_hashed_points(spark):
    # deterministic pseudo-random layout over the full grid
    cells = [(i, (i * 2654435761 % 2**32) % (N * N)) for i in range(300)]
    rows = _run(spark, cells, min_pts=4)
    assert rows == _brute(cells, min_pts=4)
