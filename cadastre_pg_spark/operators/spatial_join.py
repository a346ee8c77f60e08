"""Cell-bucketed spatial join: the engine's core operator.

Replaces the reference's PostGIS GIST + ST_Contains workload
(cadastre-pg/src/export/postgres.rs:304-344 — SURVEY.md J9): the
R-tree probe becomes an equi-join on cell id, with exact ray-casting
point-in-polygon refinement (kernels/pip.py) only for points landing
in *partial* cover cells; points in *full* cells are accepted without
any Python touching them.

Scale design:
- probe side (points): cell id computed JVM-side (pure arithmetic,
  whole-stage codegen) — zero Python on the big side.
- build side (polygons): polyfill via mapInPandas (NumPy per batch).
- join strategy chosen EXPLICITLY (north rule) from the measured build
  size: broadcast when the cell cover fits under the threshold, else
  shuffle hash join with AQE skew-split; optional deterministic
  salting splits hot cells (dense urban parcels) across tasks.
- PIP refinement is an applyInPandas over (parcel, salt) groups so a
  giant parcel's candidates spread over `pip_salt` tasks.
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
    points_in_polygon,
    points_in_polygons_rowwise,
)
from .held import hold, release_cached  # noqa: F401  (re-exported)

PARCEL_FLAT_SCHEMA = (
    "parcel_id long, xs array<double>, ys array<double>, ring_offsets array<int>"
)
COVER_SCHEMA = (
    "parcel_id long, cell long, is_full boolean, "
    "x0 double, x1 double, y0 double, y1 double"
)

# cover rows (~20 B/row -> ~160 MB ceiling); above this the probe-side
# join shuffles on cell with AQE skew-split instead of broadcasting
BROADCAST_CELL_LIMIT = 8_000_000


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


COVER_COMPACT_SCHEMA = (
    "parcel_id long, cell long, is_full boolean, lvl int, "
    "x0 double, x1 double, y0 double, y1 double"
)


def polyfill_compact(
    parcels: DataFrame, level: int = C.DEFAULT_LEVEL, d: int = 3
) -> DataFrame:
    """Multi-resolution polygon cover (H3 'compact' analog): interior
    blocks collapse to coarse cells, boundary stays fine — shrinks the
    build side for large polygons (dense-urban skew) without losing
    exactness. Rows: (parcel_id, cell, is_full, lvl)."""
    sc = parcels.sparkSession.sparkContext
    parcels = parcels.repartition(sc.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            ids, cells_out, fulls, lvls = [], [], [], []
            bx0, bx1, by0, by1 = [], [], [], []
            for pid, xs, ys, offs in zip(
                pdf["parcel_id"].values,
                pdf["xs"].values,
                pdf["ys"].values,
                pdf["ring_offsets"].values,
            ):
                xa = np.asarray(xs, dtype=np.float64)
                ya = np.asarray(ys, dtype=np.float64)
                cc, ff, ll = grid_cover_compact(
                    xa, ya, np.asarray(offs, dtype=np.int64), level, d
                )
                k = len(cc)
                ids.append(np.full(k, pid, dtype=np.int64))
                cells_out.append(cc)
                fulls.append(ff)
                lvls.append(ll)
                bx0.append(np.full(k, xa.min()))
                bx1.append(np.full(k, xa.max()))
                by0.append(np.full(k, ya.min()))
                by1.append(np.full(k, ya.max()))
            if ids:
                yield pd.DataFrame(
                    {
                        "parcel_id": np.concatenate(ids),
                        "cell": np.concatenate(cells_out),
                        "is_full": np.concatenate(fulls),
                        "lvl": np.concatenate(lvls).astype(np.int32),
                        "x0": np.concatenate(bx0),
                        "x1": np.concatenate(bx1),
                        "y0": np.concatenate(by0),
                        "y1": np.concatenate(by1),
                    }
                )

    return parcels.select("parcel_id", "xs", "ys", "ring_offsets").mapInPandas(
        gen, schema=COVER_COMPACT_SCHEMA
    )


def polyfill(
    parcels: DataFrame, level: int = C.DEFAULT_LEVEL, scheme: str = "grid"
) -> DataFrame:
    """Polygon -> cell cover DataFrame: (parcel_id, cell, is_full).

    mapInPandas: vectorized NumPy cover kernel per polygon, batched by
    Arrow. The per-polygon loop mirrors the reference's per-feature
    repair loop (edigeo/src/lib.rs:133) — small-N geometry work."""
    cover_fn = grid_cover if scheme == "grid" else hex_cover
    res = level

    # the build side often arrives as one small file -> one task; the
    # per-polygon cover kernel is CPU-bound, so spread it first
    sc = parcels.sparkSession.sparkContext
    parcels = parcels.repartition(sc.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            ids, cells_out, fulls = [], [], []
            bx0, bx1, by0, by1 = [], [], [], []
            for pid, xs, ys, offs in zip(
                pdf["parcel_id"].values,
                pdf["xs"].values,
                pdf["ys"].values,
                pdf["ring_offsets"].values,
            ):
                xa = np.asarray(xs, dtype=np.float64)
                ya = np.asarray(ys, dtype=np.float64)
                cc, ff = cover_fn(
                    xa, ya, np.asarray(offs, dtype=np.int64), res
                )
                k = len(cc)
                ids.append(np.full(k, pid, dtype=np.int64))
                cells_out.append(cc)
                fulls.append(ff)
                # per-parcel bbox carried AS COLUMNS on the cover rows so
                # the bbox prefilter rung is join-free on the shuffle path
                # (no broadcast that scales with parcel count)
                bx0.append(np.full(k, xa.min()))
                bx1.append(np.full(k, xa.max()))
                by0.append(np.full(k, ya.min()))
                by1.append(np.full(k, ya.max()))
            if ids:
                yield pd.DataFrame(
                    {
                        "parcel_id": np.concatenate(ids),
                        "cell": np.concatenate(cells_out),
                        "is_full": np.concatenate(fulls),
                        "x0": np.concatenate(bx0),
                        "x1": np.concatenate(bx1),
                        "y0": np.concatenate(by0),
                        "y1": np.concatenate(by1),
                    }
                )

    cols = parcels.select("parcel_id", "xs", "ys", "ring_offsets")
    return cols.mapInPandas(gen, schema=COVER_SCHEMA)


def choose_strategy(n_cover_rows: int, limit: int = BROADCAST_CELL_LIMIT) -> str:
    """Explicit broadcast-vs-shuffle decision from measured build size
    (north rule: the choice is explicit, keyed on statistics)."""
    return "broadcast" if n_cover_rows <= limit else "shuffle"


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
    by a parcel-id shuffle join and read per batch. Either way the PIP
    kernel runs vectorized per parcel group WITHIN each Arrow batch —
    no groupBy shuffle, no per-group task overhead, and a hot parcel's
    candidates stay spread across input partitions (natural salting)."""
    if strategy == "broadcast":
        sc = cand.sparkSession.sparkContext
        rpdf = parcels.select("parcel_id", "xs", "ys", "ring_offsets").toPandas()
        pids = rpdf["parcel_id"].to_numpy(np.int64)
        X1, Y1, X2, Y2 = build_edge_matrix(
            zip(rpdf["xs"].values, rpdf["ys"].values, rpdf["ring_offsets"].values)
        )
        # dense LUT when ids are compact (vectorized index translation)
        max_pid = int(pids.max()) if len(pids) else 0
        if max_pid < 4 * len(pids) + 1024:
            lut = np.full(max_pid + 1, -1, dtype=np.int64)
            lut[pids] = np.arange(len(pids), dtype=np.int64)
            payload = (lut, None, X1, Y1, X2, Y2)
        else:
            payload = (None, {int(p): i for i, p in enumerate(pids)}, X1, Y1, X2, Y2)
        bc = sc.broadcast(payload)

        def refine(batches):
            lut, idx_map, x1, y1, x2, y2 = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                pid = pdf["parcel_id"].to_numpy(np.int64)
                if lut is not None:
                    pidx = lut[pid]
                else:
                    pidx = np.fromiter(
                        (idx_map[int(p)] for p in pid), dtype=np.int64, count=len(pid)
                    )
                inside = points_in_polygons_rowwise(
                    pdf["lon"].to_numpy(np.float64),
                    pdf["lat"].to_numpy(np.float64),
                    pidx,
                    x1,
                    y1,
                    x2,
                    y2,
                )
                out = pdf.loc[inside, ["point_id", "parcel_id"]]
                if len(out):
                    yield out

        return cand.select("point_id", "lon", "lat", "parcel_id").mapInPandas(
            refine, schema="point_id long, parcel_id long"
        )

    with_rings = cand.join(
        parcels.select("parcel_id", "xs", "ys", "ring_offsets"), "parcel_id"
    )

    def refine_joined(batches):
        # same row-vectorized kernel as the broadcast path: build the
        # padded edge matrices from the batch's distinct parcels, then
        # one NumPy pass over all rows
        for pdf in batches:
            if pdf.empty:
                continue
            firsts = pdf.drop_duplicates("parcel_id")
            pids = firsts["parcel_id"].to_numpy(np.int64)
            X1, Y1, X2, Y2 = build_edge_matrix(
                zip(
                    firsts["xs"].values,
                    firsts["ys"].values,
                    firsts["ring_offsets"].values,
                )
            )
            idx_map = {int(p): i for i, p in enumerate(pids)}
            pid = pdf["parcel_id"].to_numpy(np.int64)
            pidx = np.fromiter(
                (idx_map[int(p)] for p in pid), dtype=np.int64, count=len(pid)
            )
            inside = points_in_polygons_rowwise(
                pdf["lon"].to_numpy(np.float64),
                pdf["lat"].to_numpy(np.float64),
                pidx,
                X1,
                Y1,
                X2,
                Y2,
            )
            out = pdf.loc[inside, ["point_id", "parcel_id"]]
            if len(out):
                yield out

    return with_rings.mapInPandas(refine_joined, schema="point_id long, parcel_id long")


BROADCAST_PARCEL_LIMIT = 300_000  # rings dict ~<150 MB broadcast ceiling

# compact-cover auto gate: measured round 1, the multi-resolution cover
# loses on small-polygon mixes (~64 cells/parcel at sf0.1: +40% wall
# from the doubled probe) and wins when interiors span many cells
COMPACT_CELLS_THRESHOLD = 256.0
COMPACT_D = 3


def estimate_cells_per_parcel(parcels: DataFrame, level: int) -> float:
    """Average cells a parcel's bbox spans at `level` — one tiny
    aggregate over bbox extents (no polyfill needed)."""
    wx, wy = C.grid_cell_size(level)
    est = (
        ((F.array_max("xs") - F.array_min("xs")) / F.lit(wx) + F.lit(1.0))
        * ((F.array_max("ys") - F.array_min("ys")) / F.lit(wy) + F.lit(1.0))
    )
    row = parcels.agg(F.avg(est)).first()
    return float(row[0]) if row and row[0] is not None else 0.0


def cell_spatial_join(
    points: DataFrame,
    parcels: DataFrame,
    level: int = C.DEFAULT_LEVEL,
    scheme: str = "grid",
    strategy: str = "auto",
    cover: DataFrame | None = None,
    salt_hot: int = 8,
    hot_threshold: int = 256,
    compact_d: int | str = "auto",
) -> DataFrame:
    """points (point_id, lon, lat) x parcels (parcel_id, rings) ->
    (point_id, parcel_id) pairs where the point is strictly inside.

    Exact: equals brute-force PIP (tests + DuckDB oracle assert this).
    Each point maps to exactly one cell, so (point, parcel) pairs are
    unique without a distinct.

    Strategy (explicit, from measured build size — north rule):
    'broadcast' broadcasts the cell cover to the probe side and ships
    ring arrays as a task broadcast; 'shuffle' hash-joins on cell with
    AQE skew-split and attaches rings by a parcel-id join.

    compact_d > 0 enables the multi-resolution cover (H3 'compact'
    analog): interior blocks collapse d levels coarser and each point
    probes both resolutions. Wins when polygons span many cells
    (cover shrinks ~x4 for dense urban parcels); for small-polygon
    mixes the doubled probe outweighs it (measured: 3.77M -> 2.11M
    cover rows but +40% wall on the sf0.1 rect mix). 'auto' (default)
    decides from MEASURED parcel statistics — one tiny aggregate of
    bbox-derived cells/parcel against COMPACT_CELLS_THRESHOLD — the
    same statistics-first rule as the broadcast gate."""
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
    if (
        strategy == "auto"
        and compact_d == "auto"
        and scheme == "grid"
        and cover is None
    ):
        # both gates need one tiny parcel aggregate — fuse them into a
        # single driver job (it also fills the persist cache)
        wx, wy = C.grid_cell_size(level)
        est = (
            (F.array_max("xs") - F.array_min("xs")) / F.lit(wx) + F.lit(1.0)
        ) * ((F.array_max("ys") - F.array_min("ys")) / F.lit(wy) + F.lit(1.0))
        row = parcels.agg(F.count(F.lit(1)), F.avg(est)).first()
        n_parcels = row[0]
        cells_est = float(row[1]) if row[1] is not None else 0.0
        strategy = (
            "broadcast" if n_parcels <= BROADCAST_PARCEL_LIMIT else "shuffle"
        )
        compact_d = COMPACT_D if cells_est > COMPACT_CELLS_THRESHOLD else 0
    if strategy == "auto":
        strategy = "broadcast" if parcels.count() <= BROADCAST_PARCEL_LIMIT else "shuffle"
    if compact_d == "auto":
        compact_d = (
            COMPACT_D
            if scheme == "grid"
            and cover is None
            and estimate_cells_per_parcel(parcels, level) > COMPACT_CELLS_THRESHOLD
            else 0
        )

    compacted = scheme == "grid" and compact_d > 0 and cover is None
    if cover is None:
        # persist: the full-hit and partial branches of the union both
        # consume the cover — without this the polyfill kernel (and its
        # broadcast build) runs once per branch (seen in .explain)
        if compacted:
            cover = polyfill_compact(parcels, level=level, d=compact_d).persist()
        else:
            cover = polyfill(parcels, level=level, scheme=scheme).persist()

    if compacted:
        # probe each point at BOTH resolutions (explode of 2 structs —
        # pure JVM); join key is (lvl, cell) so ids can't collide
        coarse = level - compact_d
        pts = points.withColumn(
            "lc",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(level).cast("int").alias("lvl"),
                        S.grid_cell_col(F.col("lon"), F.col("lat"), level).alias(
                            "cell"
                        ),
                    ),
                    F.struct(
                        F.lit(coarse).cast("int").alias("lvl"),
                        S.grid_cell_col(F.col("lon"), F.col("lat"), coarse).alias(
                            "cell"
                        ),
                    ),
                )
            ),
        ).select(*points.columns, "lc.lvl", "lc.cell")
        keys = ["lvl", "cell"]
    elif scheme == "grid":
        pts = points.withColumn(
            "cell", S.grid_cell_col(F.col("lon"), F.col("lat"), level)
        )
        keys = ["cell"]
    else:
        pts = _with_hex_cell(points, level)
        keys = ["cell"]

    # refinement ladder rung 1 (JVM, codegen): bbox prefilter. The cover
    # rows built by polyfill CARRY the per-parcel bbox as columns, so the
    # rung is join-free — critical on the shuffle path, where a separate
    # bbox broadcast would scale with parcel count (the exact regime the
    # shuffle strategy exists for). Points in full cells trivially
    # satisfy it (cell ⊂ polygon ⊂ bbox), so it only prunes partial-cell
    # candidates — before any Python runs. A caller-provided cover
    # without bbox columns falls back to a parcels-derived broadcast.
    has_bbox = "x0" in cover.columns
    bbox_filter = (
        (F.col("lon") >= F.col("x0"))
        & (F.col("lon") <= F.col("x1"))
        & (F.col("lat") >= F.col("y0"))
        & (F.col("lat") <= F.col("y1"))
    )
    if strategy == "broadcast":
        # the broadcast cover stays narrow (bbox columns quadruple its
        # width); the bbox rung instead joins a per-PARCEL broadcast,
        # which is small by the same measured gate that chose broadcast
        if has_bbox:
            cover_bc = cover.drop("x0", "x1", "y0", "y1")
            has_bbox = False
        else:
            cover_bc = cover
        cand = pts.join(F.broadcast(cover_bc), keys)
    elif salt_hot > 1:
        # explicit skew handling: measured hot cells get salted
        cand = salted_cell_join(
            pts, cover, salt_hot, hot_cells(cover, hot_threshold, keys), keys
        )
    else:
        cand = pts.join(cover, keys)

    if has_bbox:
        cand = cand.filter(bbox_filter)
    else:
        small_bbox = parcels.select(
            "parcel_id",
            F.array_min("xs").alias("x0"),
            F.array_max("xs").alias("x1"),
            F.array_min("ys").alias("y0"),
            F.array_max("ys").alias("y1"),
        )
        cand = cand.join(F.broadcast(small_bbox), "parcel_id").filter(bbox_filter)
    full_hits = cand.filter(F.col("is_full")).select("point_id", "parcel_id")
    partial = cand.filter(~F.col("is_full")).select(
        "point_id", "lon", "lat", "parcel_id"
    )
    partial_hits = _pip_refine(partial, parcels, strategy)
    out = full_hits.unionByName(partial_hits)
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
