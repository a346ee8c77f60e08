"""Reference results for the benchmark's correctness gate.

Each workload's output is reduced to (row count, order-independent
checksum). The reference side is computed once per run, outside the
timed region, through a path independent of the Spark engine:

- tile_burn: the single-process kernels.cover NumPy path per polygon;
- import_resume: kernels.textextract + kernels.pip in plain Python,
  with Spark's xxhash64 reimplemented below.

The checksum mixes the columns of a row into one 32-bit value with the
same integer arithmetic in Spark Columns and NumPy, so it binds the
pairing of columns (a swapped pair changes the sum) and never
overflows a signed 64-bit long under ANSI mode.
"""

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_M1, _M2, _M3 = 2654435761, 1597334677, 668265263  # M3 < 2^31
_P31, _P32 = 1 << 31, 1 << 32


def _mix_col(a: Column, b: Column) -> Column:
    x = F.pmod(F.pmod(a, F.lit(_P31)) * F.lit(_M1), F.lit(_P32))
    y = F.pmod(F.pmod(b, F.lit(_P31)) * F.lit(_M2), F.lit(_P32))
    return F.pmod(x.bitwiseXOR(y) * F.lit(_M3), F.lit(_P32))


def _mix_np(a, b):
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    x = np.mod(np.mod(a, _P31) * _M1, _P32)
    y = np.mod(np.mod(b, _P31) * _M2, _P32)
    return np.mod((x ^ y) * _M3, _P32)


def digest_cols(*cols: str) -> list:
    """Aggregate Columns (count, checksum) over long-typed columns; the
    terminal action of every timed iteration."""
    h = _mix_col(F.col(cols[0]), F.col(cols[1]))
    for c in cols[2:]:
        h = _mix_col(h, F.col(c))
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("checksum")]


def digest_np(*arrays) -> tuple:
    """(count, checksum) of the same rows held as NumPy columns."""
    h = _mix_np(arrays[0], arrays[1])
    for a in arrays[2:]:
        h = _mix_np(h, a)
    return int(len(h)), int(h.sum())


def digest_of(df) -> tuple:
    row = df.agg(*digest_cols(*df.columns)).collect()[0]
    return int(row["n"]), int(row["checksum"] or 0)


# ------------------------------------------------------------- burn


def points_np(lo: int, hi: int) -> tuple:
    """(lon, lat) of point keys [lo, hi): NumPy replay of
    data/synthetic.py lon_col/lat_col in the same operation order."""
    return _lonlat(np.arange(lo, hi, dtype=np.int64))


def _lonlat(key) -> tuple:
    from cadastre_pg_spark.data import synthetic as S

    u_lon = (key * S.MULT_LON % S.MOD) / float(S.MOD)
    u_lat = (key * S.MULT_LAT % S.MOD) / float(S.MOD)
    return S.LON0 + (S.LON1 - S.LON0) * u_lon, S.LAT0 + (S.LAT1 - S.LAT0) * u_lat


def burn_reference(polys, tiles, fine_level: int, tile_level: int) -> dict:
    """raster_burn + tile_extract via kernels.cover.grid_cover, one
    polygon at a time. polys: iterable of (parcel_id, xs, ys, offsets);
    tiles: int64 tile ids requested from tile_extract."""
    from cadastre_pg_spark.kernels.cover import grid_cover

    nf, nt, d = 1 << fine_level, 1 << tile_level, fine_level - tile_level
    pids, tile_ids, counts = [], [], []
    for pid, xs, ys, offs in polys:
        cells, _ = grid_cover(xs, ys, offs, fine_level)
        t = ((cells // nf) >> d) * nt + ((cells % nf) >> d)
        u, c = np.unique(t, return_counts=True)
        pids.append(np.full(len(u), pid, dtype=np.int64))
        tile_ids.append(u)
        counts.append(c.astype(np.int64))
    pid = np.concatenate(pids)
    tile = np.concatenate(tile_ids)
    n = np.concatenate(counts)
    keep = np.isin(tile, np.unique(np.asarray(tiles, dtype=np.int64)))
    return {
        "burn": digest_np(pid, tile, n),
        "extract": digest_np(tile[keep], pid[keep], n[keep]),
    }


# ----------------------------------------------------------- import

_X1 = 0x9E3779B185EBCA87
_X2 = 0xC2B2AE3D27D4EB4F
_X3 = 0x165667B19E3779F9
_X4 = 0x85EBCA77C2B2AE63
_X5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _X2) & _U64, 31) * _X1) & _U64


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _X1 + _X4) & _U64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's xxhash64 of a byte string (XXH64, default seed 42), as
    the signed long Spark returns."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _X1 + _X2) & _U64,
            (seed + _X2) & _U64,
            seed & _U64,
            (seed - _X1) & _U64,
        ]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little")
                v[k] = _round(v[k], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _U64
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + _X5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        k1 = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h ^ k1, 27) * _X1) + _X4) & _U64
        i += 8
    if i + 4 <= n:
        h = (h ^ (int.from_bytes(data[i : i + 4], "little") * _X1)) & _U64
        h = ((_rotl(h, 23) * _X2) + _X3) & _U64
        i += 4
    while i < n:
        h = (h ^ (data[i] * _X5)) & _U64
        h = (_rotl(h, 11) * _X1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _X2) & _U64
    h ^= h >> 29
    h = (h * _X3) & _U64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def import_reference(urls, htmls, n_parcels: int, size_scale: float) -> tuple:
    """(count, checksum) of run_import's placement output over
    (point_id, parcel_id), rebuilt without Spark: text extraction and
    sha dedup (min url survives), the stage-1 point derivation, then
    brute-force even-odd PIP against run_import's parcel set."""
    import hashlib

    from cadastre_pg_spark.data.parcels import make_parcel
    from cadastre_pg_spark.kernels.pip import points_in_polygon
    from cadastre_pg_spark.kernels.textextract import extract_text

    survivor = {}
    for url, html in zip(urls, htmls):
        sha = hashlib.sha256(extract_text(html, "8859-15").encode("utf-8")).digest()
        if sha not in survivor or url < survivor[sha]:
            survivor[sha] = url
    kept = sorted(survivor.values())
    pid = np.array([xxhash64(u.encode("utf-8")) for u in kept], dtype=np.int64)
    lon, lat = _lonlat(np.abs(pid) % (1 << 22))
    pts, pars = [], []
    for i in range(n_parcels):
        p = make_parcel(i, size_scale)
        inside = points_in_polygon(lon, lat, p["xs"], p["ys"], p["ring_offsets"])
        pts.append(pid[inside])
        parcel = xxhash64(p["parcel_id"].encode("utf-8"))
        pars.append(np.full(int(inside.sum()), parcel, dtype=np.int64))
    return digest_np(np.concatenate(pts), np.concatenate(pars))
