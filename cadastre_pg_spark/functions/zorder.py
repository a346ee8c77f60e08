"""Morton (Z-order) cell encoding as JVM Column expressions — the
locality-preserving id used to cluster output files so downstream
range scans of nearby cells touch few files (the engine's replacement
for the reference's 'indexes built last' physical technique,
postgres.rs:304-344 — SURVEY.md §4).

The identical magic-mask interleave exists in three forms that must
agree bit-for-bit: NumPy (kernels/cells.morton_cell), these Spark
Columns (whole-stage codegen), and the DuckDB oracle SQL below.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..data import synthetic as S
from ..kernels import cells as C

_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _part1by1_col(v: Column) -> Column:
    v = v.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in _MASKS:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def _spread8(b: int) -> int:
    out = 0
    for i in range(8):
        out |= ((b >> i) & 1) << (2 * i)
    return out


# 256-entry byte -> 16-bit spread table, built once at import
_SPREAD8 = [_spread8(b) for b in range(256)]


def _part1by1_lut_col(v: Column, width: int) -> Column:
    """Bit spread via per-byte lookups in a 256-entry literal table —
    binds `v` ONCE per byte, keeping the Catalyst tree LINEAR where
    the or-shift form doubles it per mask round (2^5 inlined copies of
    the whole index derivation made driver-side ANALYSIS the dominant
    cost of the codec queries — the expression-duplication trap;
    geohash read 10.3 s at sf0.1 for 5000 rows of pure codegen).
    element_at on an array literal is whole-stage-codegen'd; output is
    bit-identical to _part1by1_col (pytest-asserted across widths)."""
    assert 1 <= width <= 32, width
    table = F.array(*[F.lit(x) for x in _SPREAD8])
    nbytes = (width + 7) // 8
    out = None
    for i in range(nbytes):
        byte = F.shiftrightunsigned(v, 8 * i).bitwiseAND(F.lit(255))
        term = F.element_at(table, (byte + F.lit(1)).cast("int")).cast("long")
        term = F.shiftleft(term, 16 * i) if i else term
        out = term if out is None else out.bitwiseOR(term)
    return out


def morton_col(lon: Column, lat: Column, level: int = C.DEFAULT_LEVEL) -> Column:
    """Z-order code of the grid cell — same (ix, iy) mapping as
    grid_cell_col, bits interleaved (linear-tree byte-LUT spread)."""
    ix = S.grid_ix_col(lon, level)
    iy = S.grid_iy_col(lat, level)
    return _part1by1_lut_col(ix, level).bitwiseOR(
        F.shiftleft(_part1by1_lut_col(iy, level), 1)
    ).cast("long")


def _part1by1_sql(v: str) -> str:
    out = f"(({v}) & {0xFFFFFFFF})"
    for shift, mask in _MASKS:
        out = f"((({out}) | (({out}) << {shift})) & {mask})"
    return out


def morton_sql(lon_expr: str, lat_expr: str, level: int = C.DEFAULT_LEVEL) -> str:
    ix = S.grid_ix_sql(lon_expr, level)
    iy = S.grid_iy_sql(lat_expr, level)
    return (
        f"CAST(({_part1by1_sql(ix)}) | (({_part1by1_sql(iy)}) << 1) AS BIGINT)"
    )


def zorder_write(df, out_dir: str, lon: str = "lon", lat: str = "lat",
                 level: int = C.DEFAULT_LEVEL, mode: str = "overwrite"):
    """Cluster output files by Z-order: sort within partitions by the
    morton code (no extra shuffle) so nearby cells co-locate in files."""
    return (
        df.withColumn("_z", morton_col(F.col(lon), F.col(lat), level))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(out_dir)
    )


def with_hilbert(
    df,
    lon: str,
    lat: str,
    level: int = C.DEFAULT_LEVEL,
    out: str = "hcell",
):
    """Hilbert-curve cell code as a chain of JVM projections — the
    stronger clustering key (consecutive codes are always
    grid-adjacent; Morton jumps diagonally at power-of-two seams).

    Why a DataFrame transform and not a Column: the xy->d recurrence
    references each intermediate (x, y) more than once per bit plane,
    so a single inlined expression tree grows ~3^level nodes; named
    per-level projections keep it linear and CollapseProject leaves
    duplicated-reference projections alone. All integer arithmetic —
    the NumPy kernel (kernels/cells.hilbert_cell) and the DuckDB CTE
    chain (hilbert_sql_query) replay it bit-for-bit.
    """
    df = df.withColumns(
        {
            "_hx": S.grid_ix_col(F.col(lon), level),
            "_hy": S.grid_iy_col(F.col(lat), level),
            "_hd": F.lit(0).cast("long"),
        }
    )
    s = 1 << (level - 1)
    while s > 0:
        x, y = F.col("_hx"), F.col("_hy")
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry_zero = y.bitwiseAND(F.lit(s)) == 0
        rx_one = x.bitwiseAND(F.lit(s)) > 0
        # withColumns evaluates every expression against the PRE-update
        # row, so x/y/d advance simultaneously like the kernel's vectors
        df = df.withColumns(
            {
                "_hx": F.when(
                    ry_zero,
                    F.when(rx_one, F.lit(s - 1) - y).otherwise(y),
                ).otherwise(x),
                "_hy": F.when(
                    ry_zero,
                    F.when(rx_one, F.lit(s - 1) - x).otherwise(x),
                ).otherwise(y),
                "_hd": F.col("_hd")
                + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry),
            }
        )
        s >>= 1
    return df.withColumn(out, F.col("_hd")).drop("_hx", "_hy", "_hd")


def hilbert_sql_query(
    id_expr: str,
    lon_expr: str,
    lat_expr: str,
    level: int,
    table: str,
    id_name: str = "doc_id",
    out: str = "hcell",
) -> str:
    """DuckDB twin of with_hilbert: one CTE per bit plane (SQL SELECTs
    are naturally simultaneous, mirroring the kernel's vector step)."""
    ix = S.grid_ix_sql(lon_expr, level)
    iy = S.grid_iy_sql(lat_expr, level)
    parts = [
        f"h0 AS (SELECT {id_expr} AS {id_name}, "
        f"CAST({ix} AS BIGINT) AS hx, CAST({iy} AS BIGINT) AS hy, "
        f"CAST(0 AS BIGINT) AS hd FROM {table})"
    ]
    s = 1 << (level - 1)
    i = 0
    while s > 0:
        i += 1
        rx1 = f"(hx & {s}) > 0"
        ry0 = f"(hy & {s}) = 0"
        inc = (
            f"{s * s} * xor(3 * (CASE WHEN {rx1} THEN 1 ELSE 0 END), "
            f"CASE WHEN NOT ({ry0}) THEN 1 ELSE 0 END)"
        )
        parts.append(
            f"h{i} AS (SELECT {id_name}, "
            f"CASE WHEN {ry0} THEN (CASE WHEN {rx1} THEN {s - 1} - hy "
            f"ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN {ry0} THEN (CASE WHEN {rx1} THEN {s - 1} - hx "
            f"ELSE hx END) ELSE hy END AS hy, "
            f"hd + {inc} AS hd FROM h{i - 1})"
        )
        s >>= 1
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT {id_name}, hd AS {out} FROM h{i}"
    )
