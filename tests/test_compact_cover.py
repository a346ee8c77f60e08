"""Multi-resolution (compacted) cover: exactness vs brute force and
vs the flat cover; compaction actually collapses interior blocks."""

import numpy as np
import pyspark.sql.functions as F

from cadastre_pg_spark.kernels.cover import grid_cover, grid_cover_compact
from cadastre_pg_spark.kernels.pip import points_in_polygon
from cadastre_pg_spark.kernels.rings import polygon_to_flat
from cadastre_pg_spark.operators import spatial_join as SJ
from cadastre_pg_spark.operators.spatial_join import (
    cell_spatial_join,
    gate_stats,
    parcels_from_parts,
    points_from_docs,
)
from conftest import SF_UNIT


def _big_square():
    ring = np.array(
        [[1.0, 44.0], [2.0, 44.0], [2.0, 45.0], [1.0, 45.0], [1.0, 44.0]]
    )
    return polygon_to_flat([(ring, [])])


def test_compact_kernel_shrinks_and_partitions():
    xs, ys, offs = _big_square()
    flat_cells, flat_full = grid_cover(xs, ys, offs, 10)
    cc, cf, cl = grid_cover_compact(xs, ys, offs, 10, 3)
    assert len(cc) < len(flat_cells) / 2  # interior collapsed
    assert (cl[cf & (cl == 7)] == 7).all()
    # every coarse cell is full; fine rows cover the boundary
    assert cf[cl == 7].all()
    # no fine cell remains inside a complete coarse block
    nf, nc, side = 1 << 10, 1 << 7, 1 << 3
    coarse_set = set(cc[cl == 7].tolist())
    fine = cc[cl == 10]
    parents = ((fine // nf) >> 3) * nc + ((fine % nf) >> 3)
    assert not (np.isin(parents, list(coarse_set)) & cf[cl == 10]).any()


def test_compact_cover_join_exactness():
    """Simulated join over the compacted cover == brute-force PIP."""
    xs, ys, offs = _big_square()
    cc, cf, cl = grid_cover_compact(xs, ys, offs, 10, 3)
    rng = np.random.default_rng(11)
    px = rng.uniform(0.8, 2.2, 4000)
    py = rng.uniform(43.8, 45.2, 4000)
    truth = points_in_polygon(px, py, xs, ys, offs)
    from cadastre_pg_spark.kernels import cells as C

    joined = np.zeros(len(px), dtype=bool)
    for lvl in (7, 10):
        pcell = C.grid_cell(px, py, lvl)
        lookup = {
            int(c): bool(f) for c, f, l in zip(cc, cf, cl) if l == lvl
        }
        for i in range(len(px)):
            flag = lookup.get(int(pcell[i]))
            if flag is True:
                joined[i] = True
            elif flag is False:
                joined[i] = joined[i] or truth[i]
    np.testing.assert_array_equal(joined, truth)


def test_compact_join_matches_flat(spark, monkeypatch):
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    points = points_from_docs(docs)
    parcels = parcels_from_parts(parts)
    flat = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, parcels, level=10).collect()
    }
    # a negative threshold sends every parcel mix to the compact cover
    monkeypatch.setattr(SJ, "COMPACT_CELLS_THRESHOLD", -1)
    compact = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, parcels, level=10).collect()
    }
    assert flat == compact and len(flat) > 0


def test_compact_auto_gate(spark, monkeypatch):
    """The auto gate picks compact only for large-polygon regimes
    (measured statistics, not guesswork) — and both decisions produce
    the exact same join output."""
    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    parts = spark.read.parquet(f"{SF_UNIT}/part.parquet")
    points = points_from_docs(docs)
    small = parcels_from_parts(parts)
    # the sf test mix is small-polygon: auto must stay flat
    assert gate_stats(small, 10)[1] < SJ.COMPACT_CELLS_THRESHOLD
    # inflate the same parcels 8x: bbox spans >> threshold -> compact
    big = small.select(
        "parcel_id",
        F.transform("xs", lambda x: F.element_at("xs", 1) + (x - F.element_at("xs", 1)) * 8).alias("xs"),
        F.transform("ys", lambda y: F.element_at("ys", 1) + (y - F.element_at("ys", 1)) * 8).alias("ys"),
        "ring_offsets",
    )
    assert gate_stats(big, 10)[1] > SJ.COMPACT_CELLS_THRESHOLD
    auto_rows = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, big, level=10).collect()
    }
    # an infinite threshold keeps every parcel mix on the flat cover
    monkeypatch.setattr(SJ, "COMPACT_CELLS_THRESHOLD", float("inf"))
    flat_rows = {
        (r.point_id, r.parcel_id)
        for r in cell_spatial_join(points, big, level=10).collect()
    }
    assert auto_rows == flat_rows and len(auto_rows) > 0
