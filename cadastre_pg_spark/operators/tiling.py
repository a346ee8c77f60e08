"""Raster <-> vector tiling (north-star op; the reference's PostGIS
raster would be the downstream analog — no reference implementation).

A polygon's mask at a grid level is the cell range of its exterior
ring's bbox — exactly the cells kernels.cover.grid_cover emits (its
is_full flag labels cells, it never drops one). tile_assign and
raster_burn therefore work in closed form on four clamped cell indices per
polygon: JVM Column arithmetic only, no polyfill, no Python worker and
no per-cell rows.

- tile_assign: polygon -> covering tiles at a coarse grid level (the
  bbox tile range, which is what the SQL oracle enumerates with
  lateral ranges).
- raster_burn: polygon -> per-tile fine-cell mask counts at `fine`
  level, tile = parent cell at `tile_level` (ix >> d, iy >> d); each
  count is the overlap of the fine range with the tile's 2^d block.
- tile_extract (vector extraction): tile set -> parcels whose burn
  mask intersects those tiles (semi-join on tile id).

A row whose exterior ring is empty or null (null xs/ys/ring_offsets,
fewer than two offsets, or a zero-vertex ring) has no mask and yields
no rows.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import synthetic as S


def _require_parcel_cols(parcels: DataFrame) -> None:
    for col in ("parcel_id", "xs", "ys", "ring_offsets"):
        if col not in parcels.columns:
            raise ValueError(f"parcels side is missing required column {col!r}")


def _tile_ranges(parcels: DataFrame, level: int, d: int) -> DataFrame:
    """(parcel_id, fx0, fx1, fy0, fy1, tx, ty, tile): the clamped
    cell-index range of each exterior-ring bbox at `level`, one row per
    parent tile (tx, ty) = (ix >> d, iy >> d) it meets; tile is that
    parent's cell id at level - d."""
    _require_parcel_cols(parcels)
    o = F.col("ring_offsets")
    start = (F.get(o, 0) + F.lit(1)).cast("int")
    # a missing second offset reads as a zero-length ring
    length = F.greatest(F.get(o, 1) - F.get(o, 0), F.lit(0)).cast("int")
    ex = F.slice("xs", start, length)
    ey = F.slice("ys", start, length)
    bbox = parcels.select(
        F.col("parcel_id").cast("long").alias("parcel_id"),
        F.array_min(ex).alias("x0"),
        F.array_max(ex).alias("x1"),
        F.array_min(ey).alias("y0"),
        F.array_max(ey).alias("y1"),
    ).where(F.col("x0").isNotNull() & F.col("y0").isNotNull())
    cells = bbox.select(
        "parcel_id",
        S.grid_ix_col(F.col("x0"), level).alias("fx0"),
        S.grid_ix_col(F.col("x1"), level).alias("fx1"),
        S.grid_iy_col(F.col("y0"), level).alias("fy0"),
        S.grid_iy_col(F.col("y1"), level).alias("fy1"),
    )
    tile = F.col("tx") * F.lit(1 << (level - d)) + F.col("ty")
    return (
        cells.withColumn(
            "tx", F.explode(F.sequence(F.shiftright("fx0", d), F.shiftright("fx1", d)))
        )
        .withColumn(
            "ty", F.explode(F.sequence(F.shiftright("fy0", d), F.shiftright("fy1", d)))
        )
        .withColumn("tile", tile)
    )


def tile_assign(parcels: DataFrame, tile_level: int = 7) -> DataFrame:
    """(parcel_id, tile) — every tile the polygon touches."""
    return _tile_ranges(parcels, tile_level, 0).select("parcel_id", "tile").distinct()


def raster_burn(
    parcels: DataFrame, fine_level: int = 10, tile_level: int = 7
) -> DataFrame:
    """(parcel_id, tile, n_cells): count of fine-level mask cells per
    tile. The mask is the bbox cell range of the exterior ring, so the
    count is computed in closed form without Python:
    n_cells = (min(fx1, tile's last x) - max(fx0, tile's first x) + 1)
    times the same in y. The final groupBy sums the counts of rows
    that share a parcel_id, so each (parcel_id, tile) appears once."""
    d = fine_level - tile_level
    if d <= 0:
        raise ValueError("fine_level must exceed tile_level")
    side = 1 << d

    def overlap(lo: str, hi: str, t: str):
        first = F.col(t) * F.lit(side)
        last = first + F.lit(side - 1)
        return F.least(F.col(hi), last) - F.greatest(F.col(lo), first) + F.lit(1)

    return (
        _tile_ranges(parcels, fine_level, d)
        .select(
            "parcel_id",
            "tile",
            (overlap("fx0", "fx1", "tx") * overlap("fy0", "fy1", "ty")).alias("n"),
        )
        .groupBy("parcel_id", "tile")
        .agg(F.sum("n").alias("n_cells"))
    )


def tile_extract(tiles: DataFrame, burn: DataFrame) -> DataFrame:
    """Vector extraction: for each requested tile, the parcels whose
    mask intersects it. tiles: (tile); burn: raster_burn output."""
    return burn.join(tiles.select("tile").distinct(), "tile").select(
        "tile", "parcel_id", "n_cells"
    )


def top_per_cell(
    points: DataFrame,
    k: int,
    cell_col: str = "cell",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Top-k rows per grid cell by (score DESC, id ASC) — the tile
    labeling / per-tile feature selection primitive (which k documents
    to render or keep per map tile). The id tiebreak makes the ranking
    total, hence deterministic and exactly SQL-replayable.

    Scale shape: one window partitioned BY THE CELL (thousands of
    partitions — parallel, never the single-task global-sort shape);
    rank <= k filter pushes nothing extra through the exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(cell_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        points.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(cell_col, F.col("rank").cast("long").alias("rank"), id_col, score_col)
    )
