"""Grid-density clustering — the cell-granular DBSCAN variant that
scales (GriDBSCAN / cell-based DBSCAN family): density is measured per
grid cell instead of per eps-ball, so the whole algorithm is
aggregates + narrow-key equi-joins + connected components, never a
pairwise distance join.

Semantics (deterministic, exactly SQL-replayable):
- CORE cell  : grid cell holding >= min_pts points
- cluster    : connected component of core cells under 8-neighbor
               grid adjacency; label = min core-cell id in the
               component (graph.connected_components)
- core point : point in a core cell -> that cell's cluster
- border pt  : point whose cell is not core but 8-adjacent to >= 1
               core cell -> MIN cluster label among adjacent core
               cells (deterministic tie rule)
- noise      : everything else, cluster = -1

Scale shape: one groupBy(cell) count (narrow long key, map-side
partials), an 8-way offset explode over CORE CELLS ONLY (the census,
orders of magnitude smaller than the points), equi-joins on cell ids
that AQE broadcasts when the core set is small, and the O(log d)
pointer-jumping CC. Points are never self-joined; the only thing that
ever fans out 8x is the core-cell census. Resolution (`level`) sets
the density granularity exactly like DBSCAN's eps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components
from .held import hold
from .stats import entropy_census, ln_u


def _neighbors8(cell, n: int):
    """Array of the up-to-8 grid-adjacent cell ids (bounds-checked,
    no wraparound): cell = ix*n + iy."""
    iy = F.pmod(cell, F.lit(n))
    ix = (cell - iy) / F.lit(n)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    arr = F.array(
        *[
            F.when(
                (ix + F.lit(dx) >= 0)
                & (ix + F.lit(dx) < n)
                & (iy + F.lit(dy) >= 0)
                & (iy + F.lit(dy) < n),
                ((ix + F.lit(dx)) * n + iy + F.lit(dy)).cast("long"),
            )
            for dx, dy in offs
        ]
    )
    return F.filter(arr, lambda c: c.isNotNull())


def dbscan_grid(
    points: DataFrame,
    level: int,
    min_pts: int,
    id_col: str = "doc_id",
    cell_col: str = "cell",
) -> DataFrame:
    """points(id, cell) -> (id, cell, cluster, role) per the module
    contract. `cell` must be a level-`level` grid cell id (ix*n + iy);
    pass points through data/synthetic.grid_cell_col or
    kernels.cells.grid_cell first."""
    n = 1 << level
    pid = F.col(id_col)
    cell = F.col(cell_col).cast("long")
    pts = points.select(pid.alias("pid"), cell.alias("cell"))

    counts = pts.groupBy("cell").agg(F.count("*").alias("n_pts"))
    core = counts.filter(F.col("n_pts") >= F.lit(min_pts)).select("cell")
    # consumed three times (edges probe+build, own-cell join, singleton
    # anti-join) — persist so the census aggregation runs once
    core = core.persist()

    # core-cell adjacency edges: explode the 8 neighbors of each core
    # cell, keep those that are themselves core (equi-join on the id)
    nbr = core.select(
        F.col("cell").alias("a"),
        F.explode(_neighbors8(F.col("cell"), n)).alias("b"),
    )
    edges = nbr.join(core.select(F.col("cell").alias("b")), "b").select("a", "b")

    cc = connected_components(edges, a="a", b="b")
    # isolated core cells form their own singleton cluster
    singles = core.join(cc.select(F.col("node").alias("cell")), "cell", "left_anti")
    clus = cc.select(F.col("node").alias("cell"), "cluster").unionByName(
        singles.select("cell", F.col("cell").alias("cluster"))
    )
    clus = clus.persist()

    own = pts.join(clus, "cell", "left").select(
        "pid", "cell", F.col("cluster").alias("own_cluster")
    )
    # border resolution: min adjacent core cluster per point — only for
    # points without a core cell of their own
    pending = own.filter(F.col("own_cluster").isNull()).select(
        "pid", F.explode(_neighbors8(F.col("cell"), n)).alias("cell")
    )
    border = (
        pending.join(clus, "cell")
        .groupBy("pid")
        .agg(F.min("cluster").alias("border_cluster"))
    )

    out = (
        own.join(border, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "cell",
            F.coalesce("own_cluster", "border_cluster", F.lit(-1).cast("long")).alias(
                "cluster"
            ),
            F.when(F.col("own_cluster").isNotNull(), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )
    return hold(out, core, clus, cc)


def smooth_cell_counts(
    points: DataFrame, level: int, cell_col: str = "cell"
) -> DataFrame:
    """3x3 kernel-smoothed cell density (the heatmap/KDE-lite pass
    before tile rendering): smoothed(c) = n(c)/4 + edge-neighbors/8 +
    diagonal-neighbors/16. POWER-OF-TWO weights make every
    contribution an exact multiple of 1/16, so the double sum is
    exact and order-independent — the oracle replays it with no
    rounding grid. Cells outside the grid contribute nothing (zero
    padding; border mass shrinks, documented).

    Scale shape: one (cell) count aggregate, then a 9-way offset
    explode of the CELL CENSUS (not the points) re-aggregated on the
    target cell — both narrow-key hash aggregates with map-side
    partials."""
    n = 1 << level
    counts = (
        points.select(F.col(cell_col).cast("long").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    iy = F.pmod(F.col("cell"), F.lit(n))
    ix = (F.col("cell") - iy) / F.lit(n)
    contribs = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            w = 4 if (dx, dy) == (0, 0) else (8 if dx == 0 or dy == 0 else 16)
            tgt = ((ix + F.lit(dx)) * n + iy + F.lit(dy)).cast("long")
            ok = (
                (ix + F.lit(dx) >= 0)
                & (ix + F.lit(dx) < n)
                & (iy + F.lit(dy) >= 0)
                & (iy + F.lit(dy) < n)
            )
            contribs.append(
                F.when(
                    ok,
                    F.struct(
                        tgt.alias("t"),
                        (F.col("n").cast("double") / F.lit(w)).alias("c"),
                    ),
                )
            )
    arr = F.filter(F.array(*contribs), lambda s: s.isNotNull())
    return (
        counts.select(F.explode(arr).alias("s"))
        .groupBy(F.col("s.t").alias("cell"))
        .agg(F.sum("s.c").alias("density"))
    )


def idw_grid(
    points: DataFrame,
    level: int,
    cell_col: str = "cell",
    x_col: str = "x",
    y_col: str = "y",
    value_col: str = "v",
    hit_eps: float = 1e-8,
    unit: float = 1e4,
) -> DataFrame:
    """Inverse-distance-weighted (power-2 Shepard) interpolation of a
    sample value surface onto grid-cell centers: for every cell with at
    least one sample in its 3x3 neighborhood, est = sum(v/d^2) /
    sum(1/d^2) over those samples (no sqrt anywhere — power 2 uses the
    squared distance directly). A sample within hit_eps of the center
    short-circuits to the MIN such sample value (the deterministic
    exact-hit rule; it also bounds every weight by 1/hit_eps).

    Numeric rule: weights are quantized to integer `unit`ths with
    floor(w * unit) -> BIGINT (floor-on-the-same-double is portable
    across engines), so both weighted sums are exact integer sums and
    the final single division is bitwise identical in the DuckDB twin.
    With the defaults, per-pair units fit ~95k samples per 3x3
    neighborhood in int64 — raise hit_eps or lower unit for denser
    grids.

    Scale shape (100 TB): a 9-way offset explode of the SAMPLES (narrow
    rows: target cell + x,y,v) followed by one hash aggregate on the
    target cell id — no join, no window, map-side partials throughout.
    """
    from ..kernels import cells as C

    n = 1 << level
    wx = (C.GRID_LON1 - C.GRID_LON0) / n  # exact Python float, shared
    wy = (C.GRID_LAT1 - C.GRID_LAT0) / n  # with the SQL twin via repr
    pts = points.select(
        F.col(cell_col).cast("long").alias("cell"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
        F.col(value_col).alias("v"),
    )
    iy = F.pmod(F.col("cell"), F.lit(n))
    ix = (F.col("cell") - iy) / F.lit(n)
    offs = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            tx, ty = ix + F.lit(dx), iy + F.lit(dy)
            ok = (tx >= 0) & (tx < n) & (ty >= 0) & (ty < n)
            offs.append(
                F.when(ok, F.struct(tx.alias("tx"), ty.alias("ty")))
            )
    tgt = pts.select(
        "x",
        "y",
        "v",
        F.explode(F.filter(F.array(*offs), lambda s: s.isNotNull())).alias("t"),
    )
    cx = F.lit(C.GRID_LON0) + (F.col("t.tx") + F.lit(0.5)) * F.lit(wx)
    cy = F.lit(C.GRID_LAT0) + (F.col("t.ty") + F.lit(0.5)) * F.lit(wy)
    dx_, dy_ = F.col("x") - cx, F.col("y") - cy
    d2 = dx_ * dx_ + dy_ * dy_
    w = F.when(d2 > F.lit(hit_eps), F.lit(1.0) / d2)
    pairs = tgt.select(
        (F.col("t.tx") * n + F.col("t.ty")).cast("long").alias("cell"),
        F.col("v"),
        d2.alias("d2"),
        F.floor(w * F.col("v") * F.lit(unit)).alias("uu"),
        F.floor(w * F.lit(unit)).alias("uw"),
    )
    agg = pairs.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.min(F.when(F.col("d2") <= F.lit(hit_eps), F.col("v"))).alias("hit_v"),
        F.sum("uu").alias("su"),
        F.sum("uw").alias("sw"),
    )
    return agg.select(
        "cell",
        "n_samples",
        F.when(F.col("hit_v").isNotNull(), F.col("hit_v"))
        .otherwise(F.col("su").cast("double") / F.col("sw").cast("double"))
        .alias("est"),
    )


def morans_i(
    points: DataFrame, level: int, cell_col: str = "cell", unit: float = 1e9
) -> DataFrame:
    """Global Moran's I spatial autocorrelation of the point-count
    surface on the full 2^level x 2^level lattice under queen
    (8-neighbor) adjacency with binary weights. One-row output:
    (n_cells, n_points, w_pairs, num_units, den_units, morans_i).

    Exactness contract: deviations (count - mean) are IEEE doubles
    computed in a fixed operation order; every cross/self product is
    quantized via floor(term * unit) to BIGINT before the SUM, so both
    aggregations are exact integer sums (order-independent) and the
    whole statistic replays bitwise in plain SQL (floor-on-the-same-
    double is the portable quantizer — double->DECIMAL casts round
    differently across engines). The final ratio is three IEEE ops in
    a fixed order on integers exactly representable as doubles.

    Scale shape: one (cell) count aggregate over the points, then all
    work is LATTICE-sized: an 8-way neighbor explode of the cell
    census re-joined on cell id (narrow long keys, AQE-broadcastable),
    two scalar aggregates. The points are never self-joined.
    """
    n = 1 << level
    ncells = n * n
    spark = points.sparkSession
    counts = (
        points.select(F.col(cell_col).cast("long").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    npts = counts.agg(F.sum("cnt")).first()[0] or 0
    mean = npts / ncells  # python double == SQL BIGINT/BIGINT double division
    full = (
        spark.range(ncells)
        .select(F.col("id").alias("cell"))
        .join(counts, "cell", "left")
        .select(
            "cell",
            (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") - F.lit(mean)).alias(
                "dev"
            ),
        )
    )
    den = full.agg(
        F.sum(F.floor(F.col("dev") * F.col("dev") * F.lit(unit))).alias("den_units")
    )
    nbr = full.select(
        F.explode(_neighbors8(F.col("cell"), n)).alias("cell"),
        F.col("dev").alias("dev_i"),
    )
    num = (
        nbr.join(full, "cell")
        .agg(
            F.count(F.lit(1)).alias("w_pairs"),
            F.sum(F.floor(F.col("dev_i") * F.col("dev") * F.lit(unit))).alias(
                "num_units"
            ),
        )
    )
    out = num.crossJoin(den).select(
        F.lit(ncells).cast("long").alias("n_cells"),
        F.lit(npts).cast("long").alias("n_points"),
        F.col("w_pairs").cast("long").alias("w_pairs"),
        F.col("num_units").cast("long").alias("num_units"),
        F.col("den_units").cast("long").alias("den_units"),
        F.when(
            F.col("den_units") != 0,
            (F.lit(float(ncells)) * F.col("num_units").cast("double"))
            / (F.col("w_pairs").cast("double") * F.col("den_units").cast("double")),
        ).alias("morans_i"),
    )
    return hold(out, counts)


def _neighbors9(cell, n: int):
    """Array of the up-to-9 grid cells in the 3x3 window INCLUDING the
    center (bounds-checked, no wraparound): cell = ix*n + iy."""
    iy = F.pmod(cell, F.lit(n))
    ix = ((cell - iy) / F.lit(n)).cast("long")
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    arr = F.array(
        *[
            F.when(
                (ix + F.lit(dx) >= 0)
                & (ix + F.lit(dx) < n)
                & (iy + F.lit(dy) >= 0)
                & (iy + F.lit(dy) < n),
                ((ix + F.lit(dx)) * n + iy + F.lit(dy)).cast("long"),
            )
            for dx, dy in offs
        ]
    )
    return F.filter(arr, lambda c: c.isNotNull())


def local_gi(
    points: DataFrame, level: int, cell_col: str = "cell"
) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores of the point-count surface on
    the full 2^level x 2^level lattice: for each cell, how far its
    3x3-window count sum (center INCLUDED — the * variant) sits above
    or below the global mean, in units of the window-sum standard
    deviation. Output one row per lattice cell: (cell, cnt, k_win,
    w_sum, gi_z) — the local sibling of morans_i (global).

        gi_z = (W_i - xbar*k_i) / (s * sqrt((n*k_i - k_i^2)/(n - 1)))

    with W_i the window count sum, k_i the bounds-clipped window size,
    n the lattice cell count, xbar/s the global mean/std of the count
    surface.

    Exactness contract: every sufficient statistic (counts, window
    sums, window sizes, sum of squared counts) is an exact BIGINT —
    counts need no quantizer at all — and the z expression is a FIXED
    tree of single correctly-rounded IEEE ops (div/mul/sub/sqrt), so
    the doubles replay bitwise in SQL with the same tree (the morans_i
    final-ratio rule, extended per-row). xbar and s are computed
    driver-side as Python doubles — bit-identical to the SQL division/
    sqrt chain on the same integers.

    Scale shape: one (cell) count agg over the points, then all work
    is CENSUS-sized: a 9-way neighbor explode of the NONZERO cells
    only (window sums via scatter, not gather — empty cells get their
    sums by left join), one narrow-key agg, one lattice-range join.
    The points are never self-joined; a degenerate all-equal surface
    (s == 0) yields NULL z, not a crash.
    """
    import math

    n = 1 << level
    ncells = n * n
    spark = points.sparkSession
    counts = (
        points.select(F.col(cell_col).cast("long").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    row = counts.agg(
        F.sum("cnt").alias("np"), F.sum(F.col("cnt") * F.col("cnt")).alias("sq")
    ).first()
    npts = int(row["np"] or 0)
    sumsq = int(row["sq"] or 0)
    xbar = npts / ncells
    svar = sumsq / ncells - xbar * xbar
    s_val = math.sqrt(svar) if svar > 0 else 0.0
    nbr = counts.select(
        F.explode(_neighbors9(F.col("cell"), n)).alias("cell"),
        F.col("cnt").alias("c"),
    )
    wsum = nbr.groupBy("cell").agg(F.sum("c").alias("w_sum"))
    iy = F.pmod(F.col("cell"), F.lit(n))
    ix = ((F.col("cell") - iy) / F.lit(n)).cast("long")
    kx = F.least(ix + 1, F.lit(n - 1)) - F.greatest(ix - 1, F.lit(0)) + 1
    ky = F.least(iy + 1, F.lit(n - 1)) - F.greatest(iy - 1, F.lit(0)) + 1
    k = (kx * ky).cast("long")
    full = (
        spark.range(ncells)
        .select(F.col("id").alias("cell"))
        .join(counts, "cell", "left")
        .join(wsum, "cell", "left")
        .select(
            "cell",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"),
            k.alias("k_win"),
            F.coalesce(F.col("w_sum"), F.lit(0)).cast("long").alias("w_sum"),
        )
    )
    kd = F.col("k_win").cast("double")
    num = F.col("w_sum").cast("double") - F.lit(xbar) * kd
    den = F.lit(s_val) * F.sqrt(
        (F.lit(ncells) * F.col("k_win") - F.col("k_win") * F.col("k_win")).cast(
            "double"
        )
        / F.lit(float(ncells - 1))
    )
    out = full.select(
        "cell",
        "cnt",
        "k_win",
        "w_sum",
        (F.when(F.lit(s_val) != 0.0, num / den)).alias("gi_z"),
    )
    return hold(out, counts)


def cell_entropy(
    points: DataFrame,
    cell_col: str = "cell",
    cat_col: str = "event_type",
) -> DataFrame:
    """Per-cell categorical diversity: Shannon entropy of the
    category mix inside each grid cell, in integer MICRO-NATS — the
    land-use-mix / activity-diversity surface (is this cell all
    'error' traffic or a healthy blend?). Output (cell, n, n_cats,
    ent_u) where entropy in nats = ent_u / (n * 1e6) and
    ent_u = n * ln_u(n) - sum_t n_t * ln_u(n_t) over category counts.

    Exactness: `stats.entropy_census` over (cell, category) — the
    micro-nat quantizer `stats.ln_u` once per count — turns the
    entropy into exact integer products and sums: order-independent,
    bitwise in the SQL twin.

    Scale shape: the census's two narrow-key exchanges; no window, no
    join.
    """
    census = points.select(
        F.col(cell_col).alias("cell"), F.col(cat_col).alias("cat")
    )
    return entropy_census(census, ["cell"], "cat").select(
        "cell",
        "n",
        F.col("n_distinct").alias("n_cats"),
        (F.col("n") * ln_u(F.col("n")) - F.col("s")).alias("ent_u"),
    )
