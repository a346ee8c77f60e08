"""Deterministic point/polygon derivations over the driver tables.

Every page/document gets a reproducible location (FIXTURES.md §1:
"every page has a reproducible location"), and every `part` row
becomes a rectangular parcel. The SAME arithmetic is emitted twice:

- as JVM-side Spark Column expressions (codegen'd, zero Python), and
- as ANSI-SQL strings for the DuckDB oracle,

with identical operation order so IEEE double results match bitwise.
This module is the single source of truth for those formulas — the
engine and oracle can only drift if this file does.

The multiplicative hashes are Knuth/Weyl-style LCG mixes on the int64
key — chosen over sha256 so the derivation stays SQL-expressible and
JVM-side (SURVEY.md: "UDFs are the slow path").
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels import cells as C

MOD = 4294967296  # 2^32
MULT_LON = 2654435761  # Knuth multiplicative hash
MULT_LAT = 1597334677
MULT_W = 2246822519
MULT_H = 3266489917
MULT_HOT = 668265263

LON0, LON1 = C.GRID_LON0, C.GRID_LON1
LAT0, LAT1 = C.GRID_LAT0, C.GRID_LAT1

# parcel geometry envelope (kept strictly inside the grid bbox so cell
# clamping never merges out-of-range columns — see operators/spatial_join)
P_CX0, P_CX_SPAN = -4.0, 12.0
P_CY0, P_CY_SPAN = 41.6, 8.8
P_HW0, P_HW_SPAN = 0.01, 0.09  # half-width degrees
P_HH0, P_HH_SPAN = 0.008, 0.06
HOT_PERIOD = 5  # every 5th parcel is pulled into a hot cluster
HOT_SCALE_PERIOD = 37  # every 37th parcel is a big polygon (skew)
HOT_CENTERS = [(2.30, 48.85), (5.35, 43.30), (4.85, 45.75)]  # urban hot spots


# ------------------------------------------------------------- Spark side


def u_col(key: Column, mult: int) -> Column:
    """Uniform [0,1) double from an int64 key — JVM-side arithmetic."""
    return ((key * F.lit(mult)) % F.lit(MOD)) / F.lit(float(MOD))


def lon_col(key: Column) -> Column:
    return F.lit(LON0) + F.lit(LON1 - LON0) * u_col(key, MULT_LON)


def lat_col(key: Column) -> Column:
    return F.lit(LAT0) + F.lit(LAT1 - LAT0) * u_col(key, MULT_LAT)


def _grid_axis_col(v: Column, lo: float, span: float, level: int) -> Column:
    n = 1 << level
    i = F.floor((v - F.lit(lo)) / F.lit(span) * F.lit(float(n)))
    return F.least(F.greatest(i, F.lit(0)), F.lit(n - 1)).cast("long")


def grid_ix_col(x: Column, level: int = C.DEFAULT_LEVEL) -> Column:
    """Clamped x cell index — same op order as kernels.cells.grid_cell_xy
    and grid_ix_sql below."""
    return _grid_axis_col(x, LON0, LON1 - LON0, level)


def grid_iy_col(y: Column, level: int = C.DEFAULT_LEVEL) -> Column:
    return _grid_axis_col(y, LAT0, LAT1 - LAT0, level)


def grid_cell_col(lon: Column, lat: Column, level: int = C.DEFAULT_LEVEL) -> Column:
    """JVM-side grid cell id — identical floor arithmetic to
    kernels.cells.grid_cell (and to grid_cell_sql below)."""
    return grid_ix_col(lon, level) * F.lit(1 << level) + grid_iy_col(lat, level)


def parcel_box_cols(key: Column):
    """(cx, cy, hw, hh) Columns for the rectangle parcel derived from an
    int64 key. ~20% of parcels cluster near 3 urban hot centers and
    every 37th parcel is 8x larger (exercises salting/AQE — FIXTURES §2)."""
    base_cx = F.lit(P_CX0) + F.lit(P_CX_SPAN) * u_col(key, MULT_LON)
    base_cy = F.lit(P_CY0) + F.lit(P_CY_SPAN) * u_col(key, MULT_LAT)
    jitter_x = F.lit(0.08) * u_col(key, MULT_HOT) - F.lit(0.04)
    jitter_y = F.lit(0.08) * u_col(key, MULT_W) - F.lit(0.04)
    hot_idx = key % F.lit(3)
    hot_cx = (
        F.when(hot_idx == 0, F.lit(HOT_CENTERS[0][0]))
        .when(hot_idx == 1, F.lit(HOT_CENTERS[1][0]))
        .otherwise(F.lit(HOT_CENTERS[2][0]))
    )
    hot_cy = (
        F.when(hot_idx == 0, F.lit(HOT_CENTERS[0][1]))
        .when(hot_idx == 1, F.lit(HOT_CENTERS[1][1]))
        .otherwise(F.lit(HOT_CENTERS[2][1]))
    )
    is_hot = (key % F.lit(HOT_PERIOD)) == F.lit(0)
    cx = F.when(is_hot, hot_cx + jitter_x).otherwise(base_cx)
    cy = F.when(is_hot, hot_cy + jitter_y).otherwise(base_cy)
    scale = F.when((key % F.lit(HOT_SCALE_PERIOD)) == F.lit(0), F.lit(8.0)).otherwise(
        F.lit(1.0)
    )
    hw = (F.lit(P_HW0) + F.lit(P_HW_SPAN) * u_col(key, MULT_W)) * scale
    hh = (F.lit(P_HH0) + F.lit(P_HH_SPAN) * u_col(key, MULT_H)) * scale
    return cx, cy, hw, hh


# ------------------------------------------------- star parcels (general)

# General star-shaped polygons (concave, optional hole) parameterized on
# the SQUARE perimeter instead of trig: vertex direction is a piecewise-
# linear walk of the unit square, so the whole construction is +,-,*,/
# and floor — bit-identical between Spark codegen, NumPy, and DuckDB SQL
# (cos/sin differ by ~1 ulp between libms, which PIP boundary tests
# can't tolerate). Radius jitter makes ~half the shapes concave; every
# 20th parcel gets a 0.3-scaled interior hole (even-odd PIP).
STAR_SIZE0, STAR_SIZE_SPAN = 0.002, 0.018
STAR_HOLE_PERIOD = 20
STAR_HOLE_RESIDUE = 3
STAR_HOLE_SCALE = 0.3


def _star_m_col(key: Column) -> Column:
    return key % F.lit(4) + F.lit(4)  # 4..7 vertices


def star_parcel_cols(key: Column, size_scale: float = 1.0):
    """(xs, ys, ring_offsets) Columns for the star parcel of `key` —
    pure JVM arithmetic (transform over sequence; no Python, no trig).
    Rings are closed (first vertex repeated), matching PARCEL_SCHEMA."""
    cx, cy, _, _ = parcel_box_cols(key)
    hw = (F.lit(STAR_SIZE0) + F.lit(STAR_SIZE_SPAN) * u_col(key, MULT_W)) * F.lit(
        float(size_scale)
    )
    hh = (F.lit(STAR_SIZE0) + F.lit(STAR_SIZE_SPAN) * u_col(key, MULT_H)) * F.lit(
        float(size_scale)
    )
    m = _star_m_col(key)
    ks = F.sequence(F.lit(0).cast("long"), m - 1)

    def sxy(k):
        vkey = key * F.lit(8) + k + F.lit(1)
        t = (
            k.cast("double")
            + F.lit(0.5)
            + F.lit(0.8) * (u_col(vkey, MULT_HOT) - F.lit(0.5))
        ) / m.cast("double")
        s = t * F.lit(4.0)
        side = F.floor(s)
        f = s - side.cast("double")
        sx = (
            F.when(side == 0, F.lit(1.0))
            .when(side == 1, F.lit(1.0) - F.lit(2.0) * f)
            .when(side == 2, F.lit(-1.0))
            .otherwise(F.lit(-1.0) + F.lit(2.0) * f)
        )
        sy = (
            F.when(side == 0, F.lit(-1.0) + F.lit(2.0) * f)
            .when(side == 1, F.lit(1.0))
            .when(side == 2, F.lit(1.0) - F.lit(2.0) * f)
            .otherwise(F.lit(-1.0))
        )
        r = F.lit(0.4) + F.lit(0.6) * u_col(vkey, MULT_W)
        return cx + r * hw * sx, cy + r * hh * sy

    xs_open = F.transform(ks, lambda k: sxy(k)[0])
    ys_open = F.transform(ks, lambda k: sxy(k)[1])
    xs_ext = F.concat(xs_open, F.slice(xs_open, 1, 1))
    ys_ext = F.concat(ys_open, F.slice(ys_open, 1, 1))
    has_hole = (key % F.lit(STAR_HOLE_PERIOD)) == F.lit(STAR_HOLE_RESIDUE)
    hx = F.transform(xs_ext, lambda x: cx + F.lit(STAR_HOLE_SCALE) * (x - cx))
    hy = F.transform(ys_ext, lambda y: cy + F.lit(STAR_HOLE_SCALE) * (y - cy))
    xs = F.when(has_hole, F.concat(xs_ext, hx)).otherwise(xs_ext)
    ys = F.when(has_hole, F.concat(ys_ext, hy)).otherwise(ys_ext)
    n_ext = (m + 1).cast("int")
    offsets = F.when(
        has_hole,
        F.array(F.lit(0), n_ext, n_ext + n_ext),
    ).otherwise(F.array(F.lit(0), n_ext))
    return xs, ys, offsets


def star_vertices_sql(expr: str, size_scale: float = 1.0):
    """SQL fragments mirroring star_parcel_cols: returns
    (m, cx, cy, hw, hh, vx, vy) where vx/vy are list expressions of the
    OPEN ring vertices (1-based indexing in DuckDB)."""
    cx, cy, _, _ = parcel_box_sql(expr)
    hw = f"(({STAR_SIZE0} + {STAR_SIZE_SPAN} * ({u_sql(expr, MULT_W)})) * CAST('{float(size_scale)!r}' AS DOUBLE))"
    hh = f"(({STAR_SIZE0} + {STAR_SIZE_SPAN} * ({u_sql(expr, MULT_H)})) * CAST('{float(size_scale)!r}' AS DOUBLE))"
    m = f"(({expr}) % 4 + 4)"
    vkey = f"(({expr}) * 8 + k + 1)"
    t = (
        f"((CAST(k AS DOUBLE) + 0.5 + 0.8 * (({u_sql(vkey, MULT_HOT)}) - 0.5))"
        f" / CAST({m} AS DOUBLE))"
    )
    s = f"({t} * 4.0)"
    side = f"floor({s})"
    f_ = f"({s} - {side})"
    sx = (
        f"(CASE {side} WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 - 2.0 * {f_} "
        f"WHEN 2 THEN -1.0 ELSE -1.0 + 2.0 * {f_} END)"
    )
    sy = (
        f"(CASE {side} WHEN 0 THEN -1.0 + 2.0 * {f_} WHEN 1 THEN 1.0 "
        f"WHEN 2 THEN 1.0 - 2.0 * {f_} ELSE -1.0 END)"
    )
    r = f"(0.4 + 0.6 * ({u_sql(vkey, MULT_W)}))"
    vx = f"[{cx} + {r} * {hw} * {sx} for k in range(0, {m})]"
    vy = f"[{cy} + {r} * {hh} * {sy} for k in range(0, {m})]"
    return m, cx, cy, hw, hh, vx, vy


# --------------------------------------------------------------- SQL side


def u_sql(expr: str, mult: int) -> str:
    # CAST to DOUBLE: a bare 4294967296.0 literal is DECIMAL in DuckDB and
    # decimal division would diverge from Spark's IEEE double division.
    return f"((({expr}) * {mult}) % {MOD}) / CAST({MOD} AS DOUBLE)"


def lon_sql(expr: str) -> str:
    return f"({LON0} + {LON1 - LON0} * ({u_sql(expr, MULT_LON)}))"


def lat_sql(expr: str) -> str:
    return f"({LAT0} + {LAT1 - LAT0} * ({u_sql(expr, MULT_LAT)}))"


def grid_cell_sql(lon_expr: str, lat_expr: str, level: int = C.DEFAULT_LEVEL) -> str:
    n = 1 << level
    ix = f"floor(({lon_expr} - {LON0}) / {LON1 - LON0} * {float(n)})"
    iy = f"floor(({lat_expr} - {LAT0}) / {LAT1 - LAT0} * {float(n)})"
    ix = f"least(greatest({ix}, 0), {n - 1})"
    iy = f"least(greatest({iy}, 0), {n - 1})"
    return f"CAST({ix} * {n} + {iy} AS BIGINT)"


def grid_ix_sql(x_expr: str, level: int = C.DEFAULT_LEVEL) -> str:
    """Clamped x cell index — same op order as kernels.cells.grid_cell_xy."""
    n = 1 << level
    ix = f"floor(({x_expr} - ({LON0})) / ({LON1 - LON0}) * {float(n)})"
    return f"CAST(least(greatest({ix}, 0), {n - 1}) AS BIGINT)"


def grid_iy_sql(y_expr: str, level: int = C.DEFAULT_LEVEL) -> str:
    n = 1 << level
    iy = f"floor(({y_expr} - ({LAT0})) / ({LAT1 - LAT0}) * {float(n)})"
    return f"CAST(least(greatest({iy}, 0), {n - 1}) AS BIGINT)"


def parcel_box_sql(expr: str):
    """(cx, cy, hw, hh) SQL strings — mirrors parcel_box_cols exactly."""
    base_cx = f"({P_CX0} + {P_CX_SPAN} * ({u_sql(expr, MULT_LON)}))"
    base_cy = f"({P_CY0} + {P_CY_SPAN} * ({u_sql(expr, MULT_LAT)}))"
    jitter_x = f"(0.08 * ({u_sql(expr, MULT_HOT)}) - 0.04)"
    jitter_y = f"(0.08 * ({u_sql(expr, MULT_W)}) - 0.04)"
    hot_cx = (
        f"(CASE ({expr}) % 3 WHEN 0 THEN {HOT_CENTERS[0][0]} "
        f"WHEN 1 THEN {HOT_CENTERS[1][0]} ELSE {HOT_CENTERS[2][0]} END)"
    )
    hot_cy = (
        f"(CASE ({expr}) % 3 WHEN 0 THEN {HOT_CENTERS[0][1]} "
        f"WHEN 1 THEN {HOT_CENTERS[1][1]} ELSE {HOT_CENTERS[2][1]} END)"
    )
    is_hot = f"(({expr}) % {HOT_PERIOD} = 0)"
    cx = f"(CASE WHEN {is_hot} THEN {hot_cx} + {jitter_x} ELSE {base_cx} END)"
    cy = f"(CASE WHEN {is_hot} THEN {hot_cy} + {jitter_y} ELSE {base_cy} END)"
    scale = f"(CASE WHEN ({expr}) % {HOT_SCALE_PERIOD} = 0 THEN 8.0 ELSE 1.0 END)"
    hw = f"(({P_HW0} + {P_HW_SPAN} * ({u_sql(expr, MULT_W)})) * {scale})"
    hh = f"(({P_HH0} + {P_HH_SPAN} * ({u_sql(expr, MULT_H)})) * {scale})"
    return cx, cy, hw, hh


# ----------------------------------------------- derived partsupp twins
#
# The driver's trimmed TPC-H schema ships no partsupp table, which
# excluded TPC-H q2/q11/q20. This section derives one deterministically
# from `part` x a 0..3 slot index — all-INTEGER arithmetic (no IEEE
# concerns), emitted as both Spark Columns and a DuckDB CTE so engine
# and oracle read the identical relation. Supplier keys are spread with
# the TPC-H generator's own stride trick (base + k * n//4, distinct mod
# n for n >= 4) so (ps_partkey, ps_suppkey) is a real primary key.
# Costs are integer CENTS: aggregates like q11's sum(cost * qty) stay
# exact BIGINTs in both engines, divided by 100.0 only at the surface.

PS_PER_PART = 4
PS_QTY_MOD = 9999  # availqty in 1..9999
PS_COST_MOD = 99900  # cost cents in 100..99999 (1.00 .. 999.99)


def ps_suppkey_col(pk: Column, k: Column, n_supp: int) -> Column:
    base = (pk * F.lit(MULT_W)) % F.lit(MOD) % F.lit(n_supp)
    return (base + k * F.lit(n_supp // PS_PER_PART)) % F.lit(n_supp)


def ps_availqty_col(pk: Column, k: Column) -> Column:
    return 1 + (pk * F.lit(MULT_LON) + k * F.lit(MULT_LAT)) % F.lit(MOD) % F.lit(
        PS_QTY_MOD
    )


def ps_cost_cents_col(pk: Column, k: Column) -> Column:
    return 100 + (pk * F.lit(MULT_HOT) + k * F.lit(MULT_H)) % F.lit(MOD) % F.lit(
        PS_COST_MOD
    )


def partsupp_sql() -> str:
    """Two CTE definitions (splice after WITH): the supplier-count
    scalar `ns` and the derived `partsupp` relation over `part`.
    SF-generic — n_supp comes from the supplier view, mirroring the
    Spark side's supplier.count(); all other arithmetic mirrors the
    three *_col derivations exactly (same op order, all integer)."""
    return f"""
    ns AS (SELECT count(*) AS n, count(*) // {PS_PER_PART} AS stride
           FROM supplier),
    partsupp AS MATERIALIZED (
      SELECT p_partkey AS ps_partkey,
             (((p_partkey * {MULT_W}) % {MOD}) % ns.n
               + k * ns.stride) % ns.n AS ps_suppkey,
             1 + ((p_partkey * {MULT_LON} + k * {MULT_LAT}) % {MOD})
               % {PS_QTY_MOD} AS ps_availqty,
             100 + ((p_partkey * {MULT_HOT} + k * {MULT_H}) % {MOD})
               % {PS_COST_MOD} AS ps_cost_cents
      FROM part, range(0, {PS_PER_PART}) t(k), ns
    )"""
