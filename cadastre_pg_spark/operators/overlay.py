"""2D overlay: all-pairs rectangle (bbox) overlap self-join.

The parcel-vs-parcel companion to the point-in-polygon join (SURVEY.md
J9): which parcels overlap each other, and by how much — the overlay/
conflation primitive (duplicate-parcel detection across vintages,
boundary-dispute candidates, multi-source map merge).

Same engineering as the interval overlap join (operators/intervals.py)
lifted to 2D: candidates meet in grid cells of their bbox COVER at a
fixed level, and a pair sharing k cells is kept only in its FIRST
shared cell — for axis-aligned rectangles the shared cover is itself a
rectangle, so the first shared cell is simply (max(a_ix0, b_ix0),
max(a_iy0, b_iy0)) — an arithmetic residual instead of a distinct
stage (one exchange, dedup-free).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data import synthetic as S
from ..kernels import cells as C
from .held import hold


def rect_overlap_join(
    rects: DataFrame,
    level: int = 7,
    id_col: str = "rect_id",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    max_cells_per_rect: int = 4096,
    max_per_cell: int | None = None,
) -> DataFrame:
    """All pairs of rectangles with strictly-positive overlap area
    (touching edges do NOT pair). Output (a_id, b_id, area) with
    a_id < b_id, each pair exactly once; area = ow * oh where
    ow = min(x1) - max(x0) (one subtraction each axis, one product —
    deterministic IEEE, replayed bitwise by the SQL oracle).

    Scale shape (100 TB): cover explode is per-rect bounded (loud
    raise_error above max_cells_per_rect — no silent fan-out), the
    pair join is a narrow-key equi-join on the cell id with the
    first-shared-cell residual, and hot cells (urban parcel clusters)
    ride AQE's skew split. For adversarial density, max_per_cell SKIPS
    cells whose population exceeds it and reports them as
    `skipped(result)` (cell, n) — the engine's no-silent-cap rule.
    The per-cell candidate grid is quadratic BEFORE the residual, so
    `level` (cell size) is the first lever, the cap the last resort.
    """
    n = 1 << level

    def side(tag):
        ix0 = S.grid_ix_col(F.col(x0), level)
        ix1 = S.grid_ix_col(F.col(x1), level)
        iy0 = S.grid_iy_col(F.col(y0), level)
        iy1 = S.grid_iy_col(F.col(y1), level)
        fan = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
        guard = F.when(
            fan > F.lit(max_cells_per_rect),
            F.raise_error(
                F.concat(
                    F.lit("rect_overlap_join: rect "),
                    F.col(id_col).cast("string"),
                    F.lit(
                        f" covers more than {max_cells_per_rect} cells at"
                        f" level {level}; coarsen level or raise the bound"
                    ),
                )
            ).cast("array<bigint>"),
        ).otherwise(F.sequence(ix0, ix1))
        return (
            rects.select(
                F.col(id_col).alias(f"{tag}_id"),
                F.col(x0).alias(f"{tag}_x0"),
                F.col(y0).alias(f"{tag}_y0"),
                F.col(x1).alias(f"{tag}_x1"),
                F.col(y1).alias(f"{tag}_y1"),
                ix0.alias(f"{tag}_ix0"),
                iy0.alias(f"{tag}_iy0"),
                iy1.alias(f"{tag}_iy1"),
                F.explode(guard).alias("cix"),
            )
            .select(
                "*",
                F.explode(
                    F.sequence(F.col(f"{tag}_iy0"), F.col(f"{tag}_iy1"))
                ).alias("ciy"),
            )
            .select(
                f"{tag}_id",
                f"{tag}_x0",
                f"{tag}_y0",
                f"{tag}_x1",
                f"{tag}_y1",
                f"{tag}_ix0",
                f"{tag}_iy0",
                (F.col("cix") * F.lit(n) + F.col("ciy")).alias("cell"),
                F.col("cix").alias(f"{tag}_cix"),
                F.col("ciy").alias(f"{tag}_ciy"),
            )
        )

    left, right = side("a"), side("b")
    skipped = None
    if max_per_cell is not None:
        from pyspark.sql import Window

        wc = Window.partitionBy("cell")
        sized = left.withColumn("_n", F.count(F.lit(1)).over(wc))
        skipped = (
            sized.filter(F.col("_n") > max_per_cell)
            .select("cell", F.col("_n").alias("n"))
            .distinct()
        )
        left = sized.filter(F.col("_n") <= max_per_cell).drop("_n")
        right = right.join(
            skipped.select("cell", F.lit(True).alias("_skip")), "cell", "left"
        ).filter(F.col("_skip").isNull()).drop("_skip")

    ow = F.least(F.col("a_x1"), F.col("b_x1")) - F.greatest(
        F.col("a_x0"), F.col("b_x0")
    )
    oh = F.least(F.col("a_y1"), F.col("b_y1")) - F.greatest(
        F.col("a_y0"), F.col("b_y0")
    )
    cond = (
        (F.col("a_id") < F.col("b_id"))
        & (ow > 0)
        & (oh > 0)
        & (F.col("a_cix") == F.greatest(F.col("a_ix0"), F.col("b_ix0")))
        & (F.col("a_ciy") == F.greatest(F.col("a_iy0"), F.col("b_iy0")))
    )
    out = (
        left.join(right, "cell")
        .filter(cond)
        .select("a_id", "b_id", (ow * oh).alias("area"))
    )
    return hold(out, skipped=skipped)


def dissolve_rects(
    rects: DataFrame,
    level: int = 7,
    id_col: str = "rect_id",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    max_cells_per_rect: int = 4096,
    max_per_cell: int | None = None,
) -> DataFrame:
    """Dissolve: merge transitively-overlapping rectangles into
    regions (the polygon-union analog on bboxes — vintage conflation,
    contiguous-zone building). Clusters are connected components of
    the strictly-positive-overlap graph; rectangles overlapping
    nothing form singleton clusters. Output per cluster:
    (cluster, n_rects, x0, y0, x1, y1) — cluster = min member id,
    extent = min/max of member bounds (exact double min/max, order-
    independent, so the SQL twin needs no rounding grid).

    Pure composition: rect_overlap_join (cell-bucketed, dedup-free
    first-shared-cell pairs) -> connected_components (pointer-jumping
    min-label) -> one hash aggregate. Each stage keeps its own scale
    guards (cover fan-out raise, optional mega-cell cap, O(log d)
    CC rounds).
    """
    from .graph import connected_components

    pairs = rect_overlap_join(
        rects,
        level=level,
        id_col=id_col,
        x0=x0,
        y0=y0,
        x1=x1,
        y1=y1,
        max_cells_per_rect=max_cells_per_rect,
        max_per_cell=max_per_cell,
    )
    cc = connected_components(pairs, a="a_id", b="b_id")
    lab = rects.join(
        cc, rects[id_col].cast("long") == cc["node"], "left"
    ).select(
        F.coalesce(F.col("cluster"), F.col(id_col).cast("long")).alias("cluster"),
        F.col(x0).alias("_x0"),
        F.col(y0).alias("_y0"),
        F.col(x1).alias("_x1"),
        F.col(y1).alias("_y1"),
    )
    out = lab.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_rects"),
        F.min("_x0").alias("x0"),
        F.min("_y0").alias("y0"),
        F.max("_x1").alias("x1"),
        F.max("_y1").alias("y1"),
    )
    return hold(out, cc, pairs)


def areal_interpolate(
    rects: DataFrame,
    level: int = 7,
    id_col: str = "rect_id",
    value_col: str = "value",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    unit: float = 1e12,
    max_cells_per_rect: int = 4096,
) -> DataFrame:
    """Areal-weighted interpolation (the dasymetric rollup): each
    rectangle's value is redistributed onto the grid cells it covers
    proportionally to the FRACTION of the rectangle's area inside
    each cell, then summed per cell — population/price surfaces from
    parcel attributes, the raster side of overlay analysis. Output
    (cell, n_rects, units, est): `units` is the exact BIGINT sum of
    floor(contribution * unit), `est` = units / unit.

    Exactness contract: per (rect, cell) the clipped width/height are
    one min/max/subtract chain, frac = (ow*oh) / ((x1-x0)*(y1-y0)),
    contribution = value * frac — fixed-order IEEE identical in the
    SQL twin — and floor(contribution * unit) lands on a BIGINT, so
    the per-cell SUM is order-independent (the house quantize-then-sum
    rule; double summation would be partition-order-dependent).

    Scale shape: per-rect bounded cover explode (loud raise above
    max_cells_per_rect), then ONE hash aggregate on the narrow cell
    key with map-side partials. No join, no window; skewed cells ride
    AQE. Cell-boundary-touching covers contribute zero-area slivers
    and are filtered before the agg.
    """
    n = 1 << level
    wx = (C.GRID_LON1 - C.GRID_LON0) / float(n)
    wy = (C.GRID_LAT1 - C.GRID_LAT0) / float(n)
    ix0 = S.grid_ix_col(F.col(x0), level)
    ix1 = S.grid_ix_col(F.col(x1), level)
    iy0 = S.grid_iy_col(F.col(y0), level)
    iy1 = S.grid_iy_col(F.col(y1), level)
    fan = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    guard = F.when(
        fan > F.lit(max_cells_per_rect),
        F.raise_error(
            F.concat(
                F.lit("areal_interpolate: rect "),
                F.col(id_col).cast("string"),
                F.lit(
                    f" covers more than {max_cells_per_rect} cells at"
                    f" level {level}; coarsen level or raise the bound"
                ),
            )
        ).cast("array<bigint>"),
    ).otherwise(F.sequence(ix0, ix1))
    cov = (
        rects.select(
            F.col(value_col).alias("_v"),
            F.col(x0).alias("_x0"),
            F.col(y0).alias("_y0"),
            F.col(x1).alias("_x1"),
            F.col(y1).alias("_y1"),
            F.col(id_col).alias("_id"),
            F.explode(guard).alias("cix"),
            iy0.alias("_iy0"),
            iy1.alias("_iy1"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.col("_iy0"), F.col("_iy1"))).alias("ciy"),
        )
    )
    cx0 = F.lit(C.GRID_LON0) + F.col("cix").cast("double") * F.lit(wx)
    cx1 = F.lit(C.GRID_LON0) + (F.col("cix") + F.lit(1)).cast("double") * F.lit(wx)
    cy0 = F.lit(C.GRID_LAT0) + F.col("ciy").cast("double") * F.lit(wy)
    cy1 = F.lit(C.GRID_LAT0) + (F.col("ciy") + F.lit(1)).cast("double") * F.lit(wy)
    ow = F.least(F.col("_x1"), cx1) - F.greatest(F.col("_x0"), cx0)
    oh = F.least(F.col("_y1"), cy1) - F.greatest(F.col("_y0"), cy0)
    frac = (ow * oh) / (
        (F.col("_x1") - F.col("_x0")) * (F.col("_y1") - F.col("_y0"))
    )
    units = F.floor(F.col("_v") * frac * F.lit(float(unit)))
    out = (
        cov.select(
            (F.col("cix") * F.lit(n) + F.col("ciy")).alias("cell"),
            ow.alias("_ow"),
            oh.alias("_oh"),
            units.alias("_u"),
        )
        .filter((F.col("_ow") > 0) & (F.col("_oh") > 0))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_rects"),
            F.sum("_u").alias("units"),
        )
    )
    return out.select(
        "cell",
        "n_rects",
        "units",
        (F.col("units").cast("double") / F.lit(float(unit))).alias("est"),
    )


def segment_intersection_join(
    segs: DataFrame,
    level: int = 8,
    id_col: str = "seg_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    max_cells_per_seg: int = 1024,
) -> DataFrame:
    """All pairs of 2D line segments that intersect (share at least
    one point: proper crossings, T-touches, endpoint touches, and
    collinear overlaps) — the road-network / boundary-conflation
    primitive. Output (a_id, b_id, proper, px, py) with a_id < b_id:
    `proper` = 1 for a strict transversal crossing, in which case
    (px, py) is the crossing point; touch/collinear cases report
    proper = 0 and NULL coordinates (a collinear overlap has no
    single point to report).

    Predicate: the CLRS orientation test — four cross products
    d = (bx-ax)*(cy-ay) - (by-ay)*(cx-ax), straddle both ways, plus
    the d == 0 on-segment bbox checks. Intersection point by the
    parametric form t = ((cx-ax)*(dy-cy) - (cy-ay)*(dx-cx)) / denom,
    px = ax + t*(bx-ax). Every operand chain is fixed-order IEEE —
    the brute-force SQL oracle replays it bitwise.

    Scale shape: identical to rect_overlap_join — per-segment bounded
    bbox cover (loud raise over max_cells_per_seg), narrow-key cell
    equi-join, first-shared-cell residual instead of a distinct, hot
    cells ride AQE. Choose `level` so a cell is about a segment
    length: the candidate grid within a cell is the quadratic term.
    """
    n = 1 << level

    def side(tag):
        x0 = F.least(F.col(ax), F.col(bx))
        x1 = F.greatest(F.col(ax), F.col(bx))
        y0 = F.least(F.col(ay), F.col(by))
        y1 = F.greatest(F.col(ay), F.col(by))
        ix0 = S.grid_ix_col(x0, level)
        ix1 = S.grid_ix_col(x1, level)
        iy0 = S.grid_iy_col(y0, level)
        iy1 = S.grid_iy_col(y1, level)
        fan = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
        guard = F.when(
            fan > F.lit(max_cells_per_seg),
            F.raise_error(
                F.concat(
                    F.lit("segment_intersection_join: segment "),
                    F.col(id_col).cast("string"),
                    F.lit(
                        f" covers more than {max_cells_per_seg} cells at"
                        f" level {level}; coarsen level or raise the bound"
                    ),
                )
            ).cast("array<bigint>"),
        ).otherwise(F.sequence(ix0, ix1))
        return (
            segs.select(
                F.col(id_col).alias(f"{tag}_id"),
                F.col(ax).alias(f"{tag}_ax"),
                F.col(ay).alias(f"{tag}_ay"),
                F.col(bx).alias(f"{tag}_bx"),
                F.col(by).alias(f"{tag}_by"),
                ix0.alias(f"{tag}_ix0"),
                iy0.alias(f"{tag}_iy0"),
                iy1.alias(f"{tag}_iy1"),
                F.explode(guard).alias("cix"),
            )
            .select(
                "*",
                F.explode(
                    F.sequence(F.col(f"{tag}_iy0"), F.col(f"{tag}_iy1"))
                ).alias("ciy"),
            )
            .select(
                f"{tag}_id", f"{tag}_ax", f"{tag}_ay", f"{tag}_bx", f"{tag}_by",
                f"{tag}_ix0", f"{tag}_iy0",
                (F.col("cix") * F.lit(n) + F.col("ciy")).alias("cell"),
                F.col("cix").alias(f"{tag}_cix"),
                F.col("ciy").alias(f"{tag}_ciy"),
            )
        )

    left, right = side("a"), side("b")

    def cross(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    a1x, a1y = F.col("a_ax"), F.col("a_ay")
    a2x, a2y = F.col("a_bx"), F.col("a_by")
    b1x, b1y = F.col("b_ax"), F.col("b_ay")
    b2x, b2y = F.col("b_bx"), F.col("b_by")
    d1 = cross(b1x, b1y, b2x, b2y, a1x, a1y)
    d2 = cross(b1x, b1y, b2x, b2y, a2x, a2y)
    d3 = cross(a1x, a1y, a2x, a2y, b1x, b1y)
    d4 = cross(a1x, a1y, a2x, a2y, b2x, b2y)
    straddle_a = ((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))
    straddle_b = ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))

    def on_seg(sx, sy, ex, ey, px_, py_):
        return (
            (F.least(sx, ex) <= px_) & (px_ <= F.greatest(sx, ex))
            & (F.least(sy, ey) <= py_) & (py_ <= F.greatest(sy, ey))
        )

    touch = (
        ((d1 == 0) & on_seg(b1x, b1y, b2x, b2y, a1x, a1y))
        | ((d2 == 0) & on_seg(b1x, b1y, b2x, b2y, a2x, a2y))
        | ((d3 == 0) & on_seg(a1x, a1y, a2x, a2y, b1x, b1y))
        | ((d4 == 0) & on_seg(a1x, a1y, a2x, a2y, b2x, b2y))
    )
    proper = straddle_a & straddle_b
    denom = (a2x - a1x) * (b2y - b1y) - (a2y - a1y) * (b2x - b1x)
    t = ((b1x - a1x) * (b2y - b1y) - (b1y - a1y) * (b2x - b1x)) / denom
    cond = (
        (F.col("a_id") < F.col("b_id"))
        & (proper | touch)
        & (F.col("a_cix") == F.greatest(F.col("a_ix0"), F.col("b_ix0")))
        & (F.col("a_ciy") == F.greatest(F.col("a_iy0"), F.col("b_iy0")))
    )
    return (
        left.join(right, "cell")
        .filter(cond)
        .select(
            "a_id",
            "b_id",
            proper.cast("int").alias("proper"),
            F.when(proper, a1x + t * (a2x - a1x)).alias("px"),
            F.when(proper, a1y + t * (a2y - a1y)).alias("py"),
        )
    )


def snap_to_segments(
    points: DataFrame,
    segs: DataFrame,
    radius: float,
    level: int = 7,
    pt_id: str = "point_id",
    px: str = "px",
    py: str = "py",
    seg_id: str = "seg_id",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    max_cells_per_seg: int = 4096,
) -> DataFrame:
    """Map-matching snap: for every point, the NEAREST segment within
    `radius` (euclidean point-to-segment distance), with the exact
    distance² and the clamped projection parameter t — GPS-trace to
    road-network matching, address-to-street assignment. Points with
    no segment within radius are absent. Output (point_id, seg_id,
    d2, t); nearest ties break on the smaller seg_id.

    Lossless blocking: each segment's bbox is PADDED by radius before
    cell covering, so any point within radius of the segment lies in
    a covered cell — the cell equi-join candidate set is a superset
    of the true within-radius set, then the exact distance filter and
    per-point argmin close it. (A point may meet a segment in only
    its own single cell, so no pair dedup is needed at all.)

    Exactness: t_raw = dot/len2 (one fused expression order), t
    clamped to [0,1] via least/greatest, d2 = (px-qx)^2 + (py-qy)^2
    with q = a + t*(b-a); degenerate zero-length segments take t = 0.
    The argmin is a row_number window ordered (d2, seg_id) — every
    piece replays bitwise in the SQL twin.

    Scale shape: bounded cover explode on the segment side (loud
    raise), points carry ONE cell each, the join is a narrow-key cell
    equi-join (probe side never explodes), then one window partitioned
    by point (single exchange on point_id). Hot cells ride AQE.
    """
    from pyspark.sql import Window

    n = 1 << level
    r = F.lit(float(radius))
    x0 = F.least(F.col(ax), F.col(bx)) - r
    x1 = F.greatest(F.col(ax), F.col(bx)) + r
    y0 = F.least(F.col(ay), F.col(by)) - r
    y1 = F.greatest(F.col(ay), F.col(by)) + r
    ix0 = S.grid_ix_col(x0, level)
    ix1 = S.grid_ix_col(x1, level)
    iy0 = S.grid_iy_col(y0, level)
    iy1 = S.grid_iy_col(y1, level)
    fan = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    guard = F.when(
        fan > F.lit(max_cells_per_seg),
        F.raise_error(
            F.concat(
                F.lit("snap_to_segments: segment "),
                F.col(seg_id).cast("string"),
                F.lit(
                    f" covers more than {max_cells_per_seg} cells at"
                    f" level {level}; coarsen level or shrink radius"
                ),
            )
        ).cast("array<bigint>"),
    ).otherwise(F.sequence(ix0, ix1))
    s = (
        segs.select(
            F.col(seg_id).alias("_sid"),
            F.col(ax).alias("_ax"), F.col(ay).alias("_ay"),
            F.col(bx).alias("_bx"), F.col(by).alias("_by"),
            F.explode(guard).alias("cix"),
            iy0.alias("_iy0"), iy1.alias("_iy1"),
        )
        .select(
            "_sid", "_ax", "_ay", "_bx", "_by", "cix",
            F.explode(F.sequence(F.col("_iy0"), F.col("_iy1"))).alias("ciy"),
        )
        .select(
            "_sid", "_ax", "_ay", "_bx", "_by",
            (F.col("cix") * F.lit(n) + F.col("ciy")).alias("cell"),
        )
    )
    pix = S.grid_ix_col(F.col(px), level)
    piy = S.grid_iy_col(F.col(py), level)
    p = points.select(
        F.col(pt_id).alias("_pid"),
        F.col(px).cast("double").alias("_px"),
        F.col(py).cast("double").alias("_py"),
        (pix * F.lit(n) + piy).alias("cell"),
    )
    ex = F.col("_bx") - F.col("_ax")
    ey = F.col("_by") - F.col("_ay")
    len2 = ex * ex + ey * ey
    dot = (F.col("_px") - F.col("_ax")) * ex + (F.col("_py") - F.col("_ay")) * ey
    t = F.when(len2 == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(dot / len2, F.lit(0.0)), F.lit(1.0))
    )
    qx = F.col("_ax") + t * ex
    qy = F.col("_ay") + t * ey
    d2 = (F.col("_px") - qx) * (F.col("_px") - qx) + (
        F.col("_py") - qy
    ) * (F.col("_py") - qy)
    cand = (
        p.join(s, "cell")
        .select("_pid", "_sid", d2.alias("d2"), t.alias("t"))
        .where(F.col("d2") <= F.lit(float(radius) * float(radius)))
    )
    w = Window.partitionBy("_pid").orderBy(F.col("d2").asc(), F.col("_sid").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("_pid").alias("point_id"),
            F.col("_sid").alias("seg_id"),
            "d2",
            "t",
        )
    )


def group_hull_edges(
    points: DataFrame,
    group_col: str = "grp",
    x_col: str = "xq",
    y_col: str = "yq",
) -> DataFrame:
    """Per-group STRICT convex hull, emitted as directed CCW edge rows
    (grp, x1, y1, x2, y2) — the geometry-census companion of the G4
    hull fallback (kernels/hull.py), lifted to a distributed operator.

    Coordinates must be pre-quantized BIGINTs: every orientation test
    is then exact integer arithmetic, identical in any engine — the
    SQL oracle re-derives each edge independently via the supporting-
    line predicate (all other points strictly left, or collinear
    strictly between the endpoints), so Spark/oracle equality PROVES
    the chain and the predicate define the same hull.

    Scale shape (the heavy-hitters pattern for geometry): stage 1 runs
    a per-partition, per-group incremental hull via mapInPandas — NO
    exchange; convexity is monotone, so a point that is not a corner
    of its partition-local hull can never be a global corner, and each
    partition forwards only O(hull) candidate rows per group. Stage 2
    shuffles just those candidates (applyInPandas on the group key)
    and runs the exact integer monotone chain. The point cloud itself
    never enters the exchange.

    Degenerate groups follow the kernel's contract: single-point
    groups emit nothing; two-point / all-collinear groups emit the
    segment's two directed edges.
    """
    from ..kernels.hull import hull_edges_int

    sel = points.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("long").alias("xq"),
        F.col(y_col).cast("long").alias("yq"),
    )

    def _prune(batches):
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("grp"):
                pts = list(zip(sub["xq"], sub["yq"]))
                prev = state.get(g, [])
                edges = hull_edges_int(prev + pts)
                if edges:
                    state[g] = [e[0] for e in edges]
                else:
                    # < 2 distinct points so far: carry them verbatim
                    state[g] = sorted(
                        {(int(x), int(y)) for x, y in prev + pts}
                    )
        yield pd.DataFrame(
            {
                "grp": [g for g, pts in state.items() for _ in pts],
                "xq": [p[0] for pts in state.values() for p in pts],
                "yq": [p[1] for pts in state.values() for p in pts],
            }
        )

    cand = sel.mapInPandas(_prune, schema="grp string, xq long, yq long")

    def _edges(pdf):
        import pandas as pd

        g = pdf["grp"].iloc[0]
        edges = hull_edges_int(zip(pdf["xq"], pdf["yq"]))
        return pd.DataFrame(
            {
                "grp": [g] * len(edges),
                "x1": [e[0][0] for e in edges],
                "y1": [e[0][1] for e in edges],
                "x2": [e[1][0] for e in edges],
                "y2": [e[1][1] for e in edges],
            }
        )

    return cand.groupBy("grp").applyInPandas(
        _edges, schema="grp string, x1 long, y1 long, x2 long, y2 long"
    )
