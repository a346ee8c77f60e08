"""Cell-bucketed spatial join: the engine's core operator.

Replaces the reference's PostGIS GIST + ST_Contains workload
(cadastre-pg/src/export/postgres.rs:304-344 — SURVEY.md J9): the
R-tree probe becomes ONE equi-join on cell id against a cover whose
rows carry cell-local edge lists (Raptor's build-side polygon/grid
intersection; S2's S2ShapeIndex clipped edges), and the exact
ray-casting test (kernels/pip.py) runs on them as one codegen'd JVM
expression.

Scale design:
- probe side (points): cell id computed JVM-side (pure arithmetic,
  whole-stage codegen) and the containment test on the joined cover
  row — zero Python on the big side. The probe side may be a stream:
  streaming/placement runs this same plan per micro-batch against the
  static parcels. Its other columns ride through the join.
- build side (polygons): polyfill via mapInArrow (NumPy per batch):
  per cover row a `base` crossing count and at most E_MAX local edges
  (kernels/cover.cell_edge_lists); rows that can hold no point of the
  parcel are dropped before the join.
- every gate is chosen EXPLICITLY (north rule) from one measured
  parcel aggregate: broadcast while the parcel count is at most
  BROADCAST_PARCEL_LIMIT, else a shuffle hash join on cell with AQE
  skew-split, where cells whose cover fan-out exceeds
  HOT_CELL_THRESHOLD are salted across tasks; the multi-resolution
  cover when a parcel's bbox spans more than COMPACT_CELLS_THRESHOLD
  cells on average.
"""

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data import synthetic as S
from ..kernels import cells as C
from ..kernels.cover import (
    cell_edge_lists,
    grid_cell_bands,
    grid_cover,
    grid_cover_compact,
    hex_cell_bands,
    hex_cover,
)
from ..kernels.pip import build_edge_matrix
# release_cached is re-exported only for the frozen bench.py; new code
# imports it from operators.held
from .held import hold, release_cached  # noqa: F401

# local edges a cover row carries at most: the probe unrolls this many
# crossing tests; a cell with more splits (cell_edge_lists). Measured
# at level 10 without splitting, cells hold at most 2 local edges for
# the registry's rectangles (grid and hex) and 7 for its star polygons
# and the import's parcels, where 4 covers 99.97 % of the cells.
E_MAX = 4
COVER_SCHEMA = "parcel_id long, cell long, lvl int, base int, g array<double>"
_COVER_ARROW = pa.schema(
    [
        ("parcel_id", pa.int64()),
        ("cell", pa.int64()),
        ("lvl", pa.int32()),
        ("base", pa.int32()),
        ("g", pa.list_(pa.field("element", pa.float64()))),
    ]
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
    """Polygon -> cell cover DataFrame (COVER_SCHEMA): per cell of the
    polygon's cover, (parcel_id, cell, lvl) and its local edge list —
    `base`, the crossings every point of the cell counts, and `g`: null
    when `base` alone decides the cell, else [x0, x1, y0, y1, ax0, ay0,
    bx0, by0, ...], the bounds of the row's sub-rectangle and its at
    most E_MAX local edges (kernels/cover.cell_edge_lists). A cell with
    more than E_MAX local edges appears once per sub-rectangle.

    mapInArrow: the cover kernel runs per polygon over zero-copy views
    of the ring arrays (the reference's per-feature loop,
    edigeo/src/lib.rs:133), the edge lists once per Arrow batch.

    d > 0 (grid only) builds the multi-resolution cover (H3 'compact'
    analog): interior blocks collapse to cells d levels coarser, the
    boundary stays fine — shrinks the build side for large polygons
    without losing exactness. `lvl` is each row's level."""
    if d and scheme != "grid":
        raise ValueError("the compact cover (d > 0) is grid-only")
    e_max = E_MAX

    def cover(xa, ya, offs):
        if d:
            cells, _, lvl = grid_cover_compact(xa, ya, offs, level, d)
            return cells, lvl
        cells, _ = (grid_cover if scheme == "grid" else hex_cover)(xa, ya, offs, level)
        return cells, np.full(len(cells), level)

    def flat(col):
        """(values, offsets) of a list column, zero-copy."""
        return col.values.to_numpy(zero_copy_only=False), col.offsets.to_numpy()

    def gen(batches):
        for b in batches:
            (xv, xo), (yv, yo), (rv, ro) = (flat(b.column(c)) for c in ("xs", "ys", "ring_offsets"))
            polys = [
                (xv[xo[i] : xo[i + 1]], yv[yo[i] : yo[i + 1]], rv[ro[i] : ro[i + 1]].astype(np.int64))
                for i in range(b.num_rows)
            ]
            if not polys:
                continue
            covers = [cover(*p) for p in polys]
            cells, lvl = (np.concatenate(c) for c in zip(*covers))
            owner = np.repeat(np.arange(len(polys)), [len(c[0]) for c in covers])
            bands = grid_cell_bands(cells, lvl) if scheme == "grid" else hex_cell_bands(cells)
            row, base, bounds, edges = cell_edge_lists(
                build_edge_matrix(polys), owner, *bands, e_max
            )
            pid = b.column("parcel_id").to_numpy()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pid[owner[row]]),
                    pa.array(cells[row]),
                    pa.array(lvl[row].astype(np.int32)),
                    pa.array(base.astype(np.int32)),
                    _edge_list_array(bounds, edges),
                ],
                schema=_COVER_ARROW,
            )

    # the build side often arrives as one small file -> one task; the
    # per-polygon cover kernel is CPU-bound, so spread it first, over
    # one wave (a Python task pays a fixed latency, see session.one_wave)
    sc = parcels.sparkSession.sparkContext
    parcels = parcels.repartition(sc.defaultParallelism)
    cols = parcels.select("parcel_id", "xs", "ys", "ring_offsets")
    return cols.mapInArrow(gen, schema=COVER_SCHEMA)


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


def _edge_list_array(bounds, edges) -> pa.ListArray:
    """polyfill's `g` column from cell_edge_lists' padded rows: null
    for an unsplit row without local edges, else its bounds followed by
    its local edges, endpoint after endpoint."""
    n = np.sum(~np.isnan(edges[0]), axis=1)
    need = (n > 0) | np.isfinite(np.stack(bounds)).any(axis=0)
    m = np.column_stack([*bounds, np.stack(edges, axis=2).reshape(len(n), -1)])
    length = np.where(need, 4 + 4 * n, 0)
    offsets = np.concatenate([[0], np.cumsum(length)]).astype(np.int32)
    values = m[np.arange(m.shape[1]) < length[:, None]]
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values), type=_COVER_ARROW.field("g").type, mask=pa.array(~need)
    )


def _contains() -> Column:
    """The probe's test against its joined cover row: the point lies in
    the row's sub-rectangle and `base` plus its crossings of the row's
    local edges is odd. Each crossing is `kernels.pip.points_in_ring`'s
    test in its op order; an edge past the end of `g` (or a null `g`)
    reads null and counts 0. One codegen'd expression, unrolled over
    E_MAX edges: no explode and no higher-order function. Built from
    one SQL string: a Column built op by op costs a Py4J round trip per
    op (~0.2 s for this one)."""
    crosses = []
    for k in range(4, 4 + 4 * E_MAX, 4):
        ax, ay, bx, by = (f"get(g, {k + i})" for i in range(4))
        crosses.append(
            f"CAST(coalesce(({ay} > lat) != ({by} > lat) AND "
            f"lon < {ax} + (lat - {ay}) / ({by} - {ay}) * ({bx} - {ax}), false) AS INT)"
        )
    within = "get(g, 0) <= lon AND lon < get(g, 1) AND get(g, 2) <= lat AND lat < get(g, 3)"
    return F.expr(f"(base + {' + '.join(crosses)}) % 2 = 1 AND coalesce({within}, true)")


def _cell_join(pts: DataFrame, build: DataFrame, keys: list, strategy: str, salt_hot: int):
    """The one equi-join of probe rows with cover rows on `keys`."""
    if strategy == "broadcast":
        return pts.join(F.broadcast(build), keys)
    if salt_hot > 1:
        # explicit skew handling: measured hot cells get salted
        hot = hot_cells(build, HOT_CELL_THRESHOLD, keys)
        return salted_cell_join(pts, build, salt_hot, hot, keys)
    return pts.join(build, keys)


# the broadcast is the cover itself: measured 263.6 MiB for the 20,000
# rectangles of sf0.1 at level 10 (3.77M rows, ~13.8 KB per parcel), so
# 75,000 such parcels keep it near 1 GiB
BROADCAST_PARCEL_LIMIT = 75_000

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
    """points (point_id, lon, lat, ...) x parcels (parcel_id, rings) ->
    (point_id, ..., parcel_id) rows where the point is strictly inside:
    the probe side's columns other than lon/lat ride through the join.
    That equals joining (point_id, parcel_id) pairs back to the points
    on point_id only while point_id is unique on the probe side.

    Exact: equals brute-force PIP (tests + DuckDB oracle assert this).
    Each point maps to exactly one cell (and sub-rectangle), so
    (point, parcel) pairs are unique without a distinct.

    Strategy: 'broadcast' broadcasts the cell cover to the probe side;
    'shuffle' hash-joins on cell with AQE skew-split and salts cells
    with more than HOT_CELL_THRESHOLD cover rows over `salt_hot`
    buckets (salt_hot <= 1 turns salting off). 'auto' (default) picks
    broadcast while the parcel count is at most BROADCAST_PARCEL_LIMIT.
    Either way one join, then one containment expression (_contains).

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
    point_cols, parcel_cols = points.columns, parcels.columns
    for col, cols, side in (
        *((c, point_cols, "points") for c in ("point_id", "lon", "lat")),
        *((c, parcel_cols, "parcels") for c in ("parcel_id", "xs", "ys", "ring_offsets")),
    ):
        if col not in cols:
            raise ValueError(f"{side} side is missing required column {col!r}")
    taken = set(point_cols) & {"parcel_id", "cell", "lvl", "base", "g", "salt"}
    if taken:
        raise ValueError(f"points side carries join column(s) {sorted(taken)}")
    parcels = parcels.persist()
    n_parcels, cells_per_parcel = gate_stats(parcels, level)
    if strategy == "auto":
        strategy = "broadcast" if n_parcels <= BROADCAST_PARCEL_LIMIT else "shuffle"
    compact = scheme == "grid" and cells_per_parcel > COMPACT_CELLS_THRESHOLD
    d = COMPACT_D if compact else 0
    # persist: a streaming probe re-plans the join per micro-batch and
    # the salted shuffle path reads the cover twice (hot cells + join)
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
            *point_cols, "lc.lvl", "lc.cell"
        )
        keys = ["lvl", "cell"]
    elif scheme == "grid":
        pts = points.withColumn(
            "cell", S.grid_cell_col(F.col("lon"), F.col("lat"), level)
        )
    else:
        pts = _with_hex_cell(points, level)

    # a row with an even base and no local edge holds no point of its parcel
    build = cover.filter((F.col("base") % 2 == 1) | F.col("g").isNotNull()).select(
        *keys, "parcel_id", "base", "g"
    )
    out = _cell_join(pts, build, keys, strategy, salt_hot).filter(_contains())
    out = out.select(*(c for c in point_cols if c not in ("lon", "lat")), "parcel_id")
    # memory hygiene: the result holds the persisted build-side inputs
    # so a long-lived session can release them once the join
    # materializes (release_cached(out)) — persist() without unpersist()
    # accumulates cache across repeated calls (bench loops, pipelines).
    return hold(out, parcels, cover)


def _with_hex_cell(points: DataFrame, res: int) -> DataFrame:
    """points + `cell`, the hex cell at `res` (NumPy codec), appended by
    one mapInArrow. The cell is then a column of the pass's output, so
    the join's inferred isnotnull(cell) filter reads it instead of
    evaluating a projected UDF a second time below the projection."""

    def gen(batches):
        for b in batches:
            lon, lat = (
                b.column(c).to_numpy(zero_copy_only=False).astype(np.float64)
                for c in ("lon", "lat")
            )
            yield b.append_column("cell", pa.array(C.hex_cell(lon, lat, res), pa.int64()))

    schema = T.StructType(points.schema.fields + [T.StructField("cell", T.LongType())])
    return points.mapInArrow(gen, schema)
