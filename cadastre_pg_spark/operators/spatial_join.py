"""Cell-bucketed spatial join: the engine's core operator.

Replaces the reference's PostGIS GIST + ST_Contains workload
(cadastre-pg/src/export/postgres.rs:304-344 — SURVEY.md J9): the
R-tree probe becomes an equi-join on cell id, with exact ray-casting
point-in-polygon refinement (kernels/pip.py) only for points landing
in *partial* cover cells; points in *full* cells are accepted without
any Python touching them.

Scale design:
- probe side (points): cell id computed JVM-side (pure arithmetic,
  whole-stage codegen) — zero Python on the big side. The probe side
  may be a stream: streaming/placement runs this same plan per
  micro-batch against the static parcels.
- build side (polygons): polyfill via mapInPandas (NumPy per batch).
- every gate is chosen EXPLICITLY (north rule) from one measured
  parcel aggregate: broadcast while the parcel count is at most
  BROADCAST_PARCEL_LIMIT, else a shuffle hash join on cell with AQE
  skew-split, where cells whose cover fan-out exceeds
  HOT_CELL_THRESHOLD are salted across tasks; the multi-resolution
  cover when a parcel's bbox spans more than COMPACT_CELLS_THRESHOLD
  cells on average.
- PIP refinement is a mapInPandas over the partial-cell candidates;
  rings travel as a task broadcast (broadcast path) or are attached by
  a parcel-id join (shuffle path).
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import synthetic as S
from ..kernels import cells as C
from ..kernels.cover import grid_cover, grid_cover_compact, hex_cover
from ..kernels.pip import (
    build_edge_matrix,
    points_in_polygons_rowwise,
)
# release_cached is re-exported only for the frozen bench.py; new code
# imports it from operators.held
from .held import hold, release_cached  # noqa: F401

PARCEL_FLAT_SCHEMA = (
    "parcel_id long, xs array<double>, ys array<double>, ring_offsets array<int>"
)
COVER_SCHEMA = (
    "parcel_id long, cell long, is_full boolean, lvl int, "
    "x0 double, x1 double, y0 double, y1 double"
)


def parcels_from_parts(parts: DataFrame, id_col: str = "p_partkey") -> DataFrame:
    """Derive rectangle parcels from the `part` table, rings built
    JVM-side (F.array — no Python). Columns: parcel_id, xs, ys,
    ring_offsets, plus (cx, cy, hw, hh) for downstream filters."""
    key = F.col(id_col).cast("long")
    cx, cy, hw, hh = S.parcel_box_cols(key)
    df = parts.select(
        key.alias("parcel_id"),
        cx.alias("cx"),
        cy.alias("cy"),
        hw.alias("hw"),
        hh.alias("hh"),
    )
    x0, x1 = F.col("cx") - F.col("hw"), F.col("cx") + F.col("hw")
    y0, y1 = F.col("cy") - F.col("hh"), F.col("cy") + F.col("hh")
    return df.select(
        "parcel_id",
        "cx",
        "cy",
        "hw",
        "hh",
        F.array(x0, x1, x1, x0, x0).alias("xs"),
        F.array(y0, y0, y1, y1, y0).alias("ys"),
        F.array(F.lit(0), F.lit(5)).alias("ring_offsets"),
    )


def points_from_docs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic point per document (JVM-side arithmetic)."""
    key = F.col(id_col).cast("long")
    return docs.select(
        key.alias("point_id"),
        S.lon_col(key).alias("lon"),
        S.lat_col(key).alias("lat"),
    )


def polyfill(
    parcels: DataFrame, level: int = C.DEFAULT_LEVEL, scheme: str = "grid", d: int = 0
) -> DataFrame:
    """Polygon -> cell cover DataFrame: (parcel_id, cell, is_full, lvl)
    plus the parcel's bbox (x0, x1, y0, y1) on every row, so the bbox
    prefilter rung is join-free on the shuffle path.

    mapInPandas: vectorized NumPy cover kernel per polygon, batched by
    Arrow. The per-polygon loop mirrors the reference's per-feature
    repair loop (edigeo/src/lib.rs:133) — small-N geometry work.

    d > 0 (grid only) builds the multi-resolution cover (H3 'compact'
    analog): interior blocks collapse to cells d levels coarser, the
    boundary stays fine — shrinks the build side for large polygons
    without losing exactness. `lvl` is each row's level."""
    if d and scheme != "grid":
        raise ValueError("the compact cover (d > 0) is grid-only")

    def kernel(xa, ya, offs):
        if d:
            return grid_cover_compact(xa, ya, offs, level, d)
        cells, full = (grid_cover if scheme == "grid" else hex_cover)(
            xa, ya, offs, level
        )
        return cells, full, np.full(len(cells), level)

    # the build side often arrives as one small file -> one task; the
    # per-polygon cover kernel is CPU-bound, so spread it first, over
    # one wave (a Python task pays a fixed latency, see session.one_wave)
    sc = parcels.sparkSession.sparkContext
    parcels = parcels.repartition(sc.defaultParallelism)

    names = ("parcel_id", "cell", "is_full", "lvl", "x0", "x1", "y0", "y1")

    def gen(batches):
        for pdf in batches:
            rows = []
            for pid, xs, ys, offs in zip(
                pdf["parcel_id"].values,
                pdf["xs"].values,
                pdf["ys"].values,
                pdf["ring_offsets"].values,
            ):
                xa = np.asarray(xs, dtype=np.float64)
                ya = np.asarray(ys, dtype=np.float64)
                cells, full, lvl = kernel(xa, ya, np.asarray(offs, dtype=np.int64))
                k = len(cells)
                bbox = (xa.min(), xa.max(), ya.min(), ya.max())
                rows.append(
                    (np.full(k, pid, dtype=np.int64), cells, full, lvl.astype(np.int32))
                    + tuple(np.full(k, b) for b in bbox)
                )
            if rows:
                yield pd.DataFrame(
                    {n: np.concatenate(col) for n, col in zip(names, zip(*rows))}
                )

    cols = parcels.select("parcel_id", "xs", "ys", "ring_offsets")
    return cols.mapInPandas(gen, schema=COVER_SCHEMA)


def hot_cells(cover: DataFrame, threshold: int, keys=("cell",)) -> DataFrame:
    """Cells whose build-side fan-out exceeds `threshold` (dense urban
    parcels) — measured from the cover histogram, not guessed."""
    keys = list(keys)
    return (
        cover.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
        .select(*keys)
    )


def salted_cell_join(
    pts: DataFrame, cover: DataFrame, salt: int, hot: DataFrame, keys=("cell",)
) -> DataFrame:
    """Explicit skew salting for the shuffle path: probe rows in hot
    cells get a deterministic salt from their point id; build rows in
    hot cells are replicated across all `salt` buckets. Cold cells join
    on salt=0 with no replication. Exact — every (point, parcel) pair
    meets in exactly one (cell, salt) bucket."""
    keys = list(keys)
    hot = F.broadcast(hot.withColumn("is_hot", F.lit(True)))
    p = pts.join(hot, keys, "left").withColumn(
        "salt",
        F.when(
            F.col("is_hot").isNotNull(), F.pmod(F.hash("point_id"), F.lit(salt))
        ).otherwise(F.lit(0)),
    ).drop("is_hot")
    c = (
        cover.join(hot, keys, "left")
        .withColumn(
            "salts",
            F.when(
                F.col("is_hot").isNotNull(), F.sequence(F.lit(0), F.lit(salt - 1))
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("salt", F.explode("salts"))
        .drop("salts", "is_hot")
    )
    return p.join(c, [*keys, "salt"]).drop("salt")


def _pip_refine(
    cand: DataFrame, parcels: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """Exact refinement of partial-cell candidates — SHUFFLE-FREE.

    Broadcast path: ring arrays travel as a SparkContext broadcast
    variable (one deserialization per python worker), so the Arrow
    stream into the PIP kernel is only 4 narrow columns — ~10x less
    transfer than join-duplicating the ring arrays per candidate row.
    Shuffle path (build side too big to broadcast): rings are attached
    by a parcel-id shuffle join and read per batch. Either way the
    batch's rows find their parcel's row of the padded edge matrices
    by a binary search over sorted parcel ids, and the PIP kernel runs
    once per Arrow batch — no groupBy shuffle, no per-group task
    overhead, and a hot parcel's candidates stay spread across input
    partitions (natural salting)."""
    rings = parcels.select("parcel_id", "xs", "ys", "ring_offsets")

    def edge_table(pdf):
        """(sorted parcel ids, edge matrices) of rings sorted by id."""
        return pdf["parcel_id"].to_numpy(np.int64), build_edge_matrix(
            zip(pdf["xs"].values, pdf["ys"].values, pdf["ring_offsets"].values)
        )

    if strategy == "broadcast":
        bc = cand.sparkSession.sparkContext.broadcast(
            edge_table(rings.toPandas().sort_values("parcel_id"))
        )
        cand = cand.select("point_id", "lon", "lat", "parcel_id")

        def batch_edges(pdf, pid):
            return bc.value

    else:
        cand = cand.join(rings, "parcel_id")

        def batch_edges(pdf, pid):
            _, first = np.unique(pid, return_index=True)
            return edge_table(pdf.iloc[first])

    def refine(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pid = pdf["parcel_id"].to_numpy(np.int64)
            ids, edges = batch_edges(pdf, pid)
            inside = points_in_polygons_rowwise(
                pdf["lon"].to_numpy(np.float64),
                pdf["lat"].to_numpy(np.float64),
                np.searchsorted(ids, pid),
                *edges,
            )
            out = pdf.loc[inside, ["point_id", "parcel_id"]]
            if len(out):
                yield out

    return cand.mapInPandas(refine, schema="point_id long, parcel_id long")


BROADCAST_PARCEL_LIMIT = 300_000  # rings dict ~<150 MB broadcast ceiling

# compact-cover gate: measured round 1, the multi-resolution cover
# loses on small-polygon mixes (~64 cells/parcel at sf0.1: +40% wall
# from the doubled probe) and wins when interiors span many cells
COMPACT_CELLS_THRESHOLD = 256.0
COMPACT_D = 3

# shuffle path: cells with more cover rows than this are salted
HOT_CELL_THRESHOLD = 256


def gate_stats(parcels: DataFrame, level: int) -> tuple[int, float]:
    """(parcel count, average cells a parcel's bbox spans at `level`) —
    the one tiny aggregate every gate of cell_spatial_join reads (no
    polyfill needed)."""
    wx, wy = C.grid_cell_size(level)
    est = ((F.array_max("xs") - F.array_min("xs")) / F.lit(wx) + F.lit(1.0)) * (
        (F.array_max("ys") - F.array_min("ys")) / F.lit(wy) + F.lit(1.0)
    )
    n, cells = parcels.agg(F.count(F.lit(1)), F.avg(est)).first()
    return n, float(cells or 0.0)


def cell_spatial_join(
    points: DataFrame,
    parcels: DataFrame,
    level: int = C.DEFAULT_LEVEL,
    scheme: str = "grid",
    strategy: str = "auto",
    salt_hot: int = 8,
) -> DataFrame:
    """points (point_id, lon, lat) x parcels (parcel_id, rings) ->
    (point_id, parcel_id) pairs where the point is strictly inside.

    Exact: equals brute-force PIP (tests + DuckDB oracle assert this).
    Each point maps to exactly one cell, so (point, parcel) pairs are
    unique without a distinct.

    Strategy: 'broadcast' broadcasts the cell cover to the probe side
    and ships ring arrays as a task broadcast; 'shuffle' hash-joins on
    cell with AQE skew-split, salts cells with more than
    HOT_CELL_THRESHOLD cover rows over `salt_hot` buckets (salt_hot <= 1
    turns salting off) and attaches rings by a parcel-id join. 'auto'
    (default) picks broadcast while the parcel count is at most
    BROADCAST_PARCEL_LIMIT.

    The grid scheme switches to the multi-resolution cover (H3
    'compact' analog) when parcels span more than
    COMPACT_CELLS_THRESHOLD cells on average: interior blocks collapse
    COMPACT_D levels coarser and each point probes both resolutions.
    It wins when polygons span many cells (cover shrinks ~x4 for dense
    urban parcels); for small-polygon mixes the doubled probe
    outweighs it (measured: 3.77M -> 2.11M cover rows but +40% wall on
    the sf0.1 rect mix).

    Both gates read one driver job, `gate_stats`, which also fills the
    parcels' persist cache. `points` may be a streaming DataFrame."""
    for col, df, side in (
        ("point_id", points, "points"),
        ("lon", points, "points"),
        ("lat", points, "points"),
        ("parcel_id", parcels, "parcels"),
        ("xs", parcels, "parcels"),
        ("ys", parcels, "parcels"),
        ("ring_offsets", parcels, "parcels"),
    ):
        if col not in df.columns:
            raise ValueError(f"{side} side is missing required column {col!r}")
    parcels = parcels.persist()
    n_parcels, cells_per_parcel = gate_stats(parcels, level)
    if strategy == "auto":
        strategy = "broadcast" if n_parcels <= BROADCAST_PARCEL_LIMIT else "shuffle"
    compact = scheme == "grid" and cells_per_parcel > COMPACT_CELLS_THRESHOLD
    d = COMPACT_D if compact else 0
    # persist: the full-hit and partial branches of the union both
    # consume the cover — without this the polyfill kernel (and its
    # broadcast build) runs once per branch (seen in .explain)
    cover = polyfill(parcels, level, scheme, d).persist()

    keys = ["cell"]
    if d:
        # probe each point at BOTH resolutions (explode of 2 structs —
        # pure JVM); join key is (lvl, cell) so ids can't collide
        lc = [
            F.struct(
                F.lit(lvl).cast("int").alias("lvl"),
                S.grid_cell_col(F.col("lon"), F.col("lat"), lvl).alias("cell"),
            )
            for lvl in (level, level - d)
        ]
        pts = points.withColumn("lc", F.explode(F.array(*lc))).select(
            *points.columns, "lc.lvl", "lc.cell"
        )
        keys = ["lvl", "cell"]
    elif scheme == "grid":
        pts = points.withColumn(
            "cell", S.grid_cell_col(F.col("lon"), F.col("lat"), level)
        )
    else:
        pts = _with_hex_cell(points, level)

    # refinement ladder rung 1 (JVM, codegen): bbox prefilter. Points in
    # full cells trivially satisfy it (cell ⊂ polygon ⊂ bbox), so it
    # only prunes partial-cell candidates — before any Python runs.
    if strategy == "broadcast":
        # the broadcast cover stays narrow (bbox columns quadruple its
        # width); the bbox rung instead joins a per-PARCEL broadcast,
        # which is small by the same measured gate that chose broadcast
        parcel_bbox = parcels.select(
            "parcel_id",
            F.array_min("xs").alias("x0"),
            F.array_max("xs").alias("x1"),
            F.array_min("ys").alias("y0"),
            F.array_max("ys").alias("y1"),
        )
        cand = pts.join(
            F.broadcast(cover.select(*keys, "parcel_id", "is_full")), keys
        ).join(F.broadcast(parcel_bbox), "parcel_id")
    else:
        # the cover rows CARRY the bbox, so the rung is join-free here,
        # where a bbox broadcast would scale with parcel count
        build = cover.select(*keys, "parcel_id", "is_full", "x0", "x1", "y0", "y1")
        if salt_hot > 1:
            # explicit skew handling: measured hot cells get salted
            hot = hot_cells(build, HOT_CELL_THRESHOLD, keys)
            cand = salted_cell_join(pts, build, salt_hot, hot, keys)
        else:
            cand = pts.join(build, keys)
    cand = cand.filter(
        (F.col("lon") >= F.col("x0"))
        & (F.col("lon") <= F.col("x1"))
        & (F.col("lat") >= F.col("y0"))
        & (F.col("lat") <= F.col("y1"))
    )
    full_hits = cand.filter(F.col("is_full")).select("point_id", "parcel_id")
    partial = cand.filter(~F.col("is_full")).select(
        "point_id", "lon", "lat", "parcel_id"
    )
    out = full_hits.unionByName(_pip_refine(partial, parcels, strategy))
    # memory hygiene: the result holds the persisted build-side inputs
    # so a long-lived session can release them once the join
    # materializes (release_cached(out)) — persist() without unpersist()
    # accumulates cache across repeated calls (bench loops, pipelines).
    return hold(out, parcels, cover)


def _with_hex_cell(points: DataFrame, res: int) -> DataFrame:
    """Hex cell assignment needs the NumPy codec — vectorized pandas UDF."""

    @F.pandas_udf("long")
    def hex_cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            C.hex_cell(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        )

    return points.withColumn("cell", hex_cell_udf(F.col("lon"), F.col("lat")))
