"""Deterministic polygon `parcels` generator (FIXTURES.md §2).

Analog of PARCELLE_id features (reference config/presets/full.json:35-46,
geometry construction edigeo/src/repair/mod.rs:17-107). Exercises the
full repair ladder: convex/concave quads, ~5% with one hole
(topology.rs:6-63), ~1% emitted as unordered arc sets that the engine
must stitch (ring.rs:8-109) with hull fallback (fallback.rs:8-26).
~20% of parcels cluster into 3 urban hot cells (salting/AQE path).
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels.geomhash import geometry_hash
from ..kernels.hull import convex_hull
from ..kernels.rings import polygon_to_flat, reconstruct_rings
from ..session import one_wave

PARCEL_SCHEMA = (
    "parcel_id string, dep string, commune_id string, section_id string, "
    "xs array<double>, ys array<double>, ring_offsets array<int>, "
    "contenance long, contenance_raw string, valid_from date, valid_to date, "
    "geometry_hash binary, repair_path string"
)

HOT_CENTERS = [(2.30, 48.85), (5.35, 43.30), (4.85, 45.75)]


def _rng(i: int):
    return np.random.default_rng(42 + i)  # per-parcel stream, seed fixed


def make_parcel(i: int, size_scale: float = 1.0) -> dict:
    r = _rng(i)
    if i % 5 == 0:  # hot cluster
        hx, hy = HOT_CENTERS[i % 3]
        cx = hx + r.uniform(-0.04, 0.04)
        cy = hy + r.uniform(-0.04, 0.04)
    else:
        cx = r.uniform(-4.0, 8.0)
        cy = r.uniform(41.6, 50.4)
    size = r.uniform(0.002, 0.02) * size_scale

    # equally spaced angles + bounded jitter: keeps every angular gap
    # < pi so the ring is star-shaped around (cx, cy) and the scaled
    # hole is guaranteed strictly inside the exterior
    m = 4 + (i % 4)
    ang = 2 * np.pi * np.arange(m) / m + r.uniform(-0.4, 0.4, m) * 2 * np.pi / m
    rad = r.uniform(0.4 * size, size, m)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring = np.vstack([ring, ring[:1]])

    repair_path = "direct"
    if i % 100 == 17:
        # unordered arc set -> ring stitching path (G1)
        k = len(ring) - 1
        arcs = [ring[j : j + 2] for j in range(k)]
        order = r.permutation(k)
        arcs = [arcs[j] if j % 2 == 0 else arcs[j][::-1] for j in order]
        try:
            rings = reconstruct_rings(arcs)
            ring = rings[0]
            repair_path = "stitched"
        except ValueError:
            hx_, hy_ = convex_hull(ring[:, 0], ring[:, 1])
            ring = np.column_stack([hx_, hy_])
            ring = np.vstack([ring, ring[:1]])
            repair_path = "hull_fallback"

    holes = []
    if i % 20 == 3:
        hscale = 0.3
        hole = (ring[:-1] - [cx, cy]) * hscale + [cx, cy]
        hole = np.vstack([hole, hole[:1]])
        holes = [hole]
        repair_path += "+hole"

    xs, ys, offs = polygon_to_flat([(ring, holes)])
    dep = f"{(i % 95) + 1:02d}"
    commune = f"{(i // 95) % 1000:03d}"
    section = chr(ord("A") + (i % 26))
    contenance = int(1000 + (i * 37) % 9000)
    raw = f"+{contenance}." if i % 3 == 0 else f"{contenance:05d}"
    return {
        "parcel_id": f"{dep}{commune}{section}{i:04d}",
        "dep": dep,
        "commune_id": f"{dep}{commune}",
        "section_id": f"{dep}{commune}{section}",
        "xs": xs.tolist(),
        "ys": ys.tolist(),
        "ring_offsets": offs.astype("int32").tolist(),
        "contenance": contenance,
        "contenance_raw": raw,
        "valid_from": pd.Timestamp("2026-01-01").date(),
        "valid_to": None,
        "geometry_hash": geometry_hash(xs, ys, offs),
        "repair_path": repair_path,
    }


def generate_parcels(
    spark: SparkSession, n: int, partitions: int | None = None, size_scale: float = 1.0
) -> DataFrame:
    """Distributed generator: spark.range -> mapInPandas building the
    rows make_parcel builds. The generator is a Python stage, so by
    default it runs in one wave: `one_wave(spark, n)` partitions, i.e.
    at most the session's cores and never more than n."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [make_parcel(int(i), size_scale) for i in pdf["id"].values]
            )

    if partitions is None:
        partitions = one_wave(spark, n)
    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=PARCEL_SCHEMA)


def generate_star_parcels(
    spark: SparkSession, n: int, partitions: int = 16, size_scale: float = 1.0
) -> DataFrame:
    """General star polygons (concave, periodic holes) built ENTIRELY
    JVM-side from exact arithmetic (data/synthetic.py star_parcel_cols)
    — unlike make_parcel's np.random rings these are reproducible in
    plain SQL, so pipelines over them get a full DuckDB oracle.
    Columns: (parcel_id, xs, ys, ring_offsets)."""
    from pyspark.sql import functions as F

    from .synthetic import star_parcel_cols

    key = F.col("id").cast("long")
    xs, ys, offs = star_parcel_cols(key, size_scale)
    return spark.range(0, n, 1, partitions).select(
        key.alias("parcel_id"),
        xs.alias("xs"),
        ys.alias("ys"),
        offs.alias("ring_offsets"),
    )
