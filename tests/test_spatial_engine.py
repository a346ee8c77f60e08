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
    polyfill, refine = SJ.polyfill, SJ._pip_refine

    def spy_polyfill(parcels, level, scheme, d):
        chosen["d"] = d
        return polyfill(parcels, level, scheme, d)

    def spy_refine(cand, parcels, strategy):
        chosen["strategy"] = strategy
        return refine(cand, parcels, strategy)

    monkeypatch.setattr(SJ, "polyfill", spy_polyfill)
    monkeypatch.setattr(SJ, "_pip_refine", spy_refine)
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
