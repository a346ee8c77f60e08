"""Geometry measures operator — per-polygon area / perimeter / centroid
entirely JVM-side (ST_Area / ST_Perimeter / ST_Centroid analog; the
reference computes these through its geometry walker, geo/src/geom.rs).

Scale shape: a MAP-ONLY plan. Every measure is a per-row fold over the
polygon's own vertex arrays (Catalyst ArrayAggregate — strictly
left-to-right, so the sequential-double kernel and DuckDB's
list_reduce replay it bitwise; see kernels/measures.py docstring for
the parity contract). No explode, no groupBy, no exchange: at 100 TB
this runs as one whole-stage-codegen pass over the parquet scan, and
partial results never leave their input partition. The usual
explode+DECIMAL-SUM shape would be exact too but costs a shuffle keyed
on (polygon, ring) for zero benefit — rings are bounded-size arrays
already colocated in the row. Each ring is walked ONCE: the fold
accumulator is a struct of all four running sums (a2, perim, mx, my),
not four separate folds.

Rings follow the engine's flat-array model (closed rings segmented by
ring_offsets; ring 0 exterior, rest even-odd holes wound the same
way). Degenerate rings (< 2 vertices between offsets) contribute
nothing — F.sequence(start, end-2) with end-2 < start would yield a
DESCENDING sequence, so they are masked explicitly rather than
relying on an empty fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .stats import entropy_census, ln_u


def _zero4() -> Column:
    # built lazily — F.lit at module import would require a live session
    return F.struct(
        F.lit(0.0).alias("a2"),
        F.lit(0.0).alias("perim"),
        F.lit(0.0).alias("mx"),
        F.lit(0.0).alias("my"),
    )


def _ring_sums(xs: Column, ys: Column, start: Column, end: Column) -> Column:
    """One left-to-right pass over the closed ring's edges (i in
    [start, end-2], 0-based) accumulating struct(a2, perim, mx, my)."""
    idx = F.when(
        end - start >= F.lit(2),
        F.sequence(start.cast("int"), (end - F.lit(2)).cast("int")),
    ).otherwise(F.array().cast("array<int>"))

    def step(acc, i):
        x1 = F.element_at(xs, i + F.lit(1))
        y1 = F.element_at(ys, i + F.lit(1))
        x2 = F.element_at(xs, i + F.lit(2))
        y2 = F.element_at(ys, i + F.lit(2))
        cross = x1 * y2 - x2 * y1
        dx = x2 - x1
        dy = y2 - y1
        return F.struct(
            (acc.a2 + cross).alias("a2"),
            (acc.perim + F.sqrt(dx * dx + dy * dy)).alias("perim"),
            (acc.mx + (x1 + x2) * cross).alias("mx"),
            (acc.my + (y1 + y2) * cross).alias("my"),
        )

    return F.aggregate(idx, _zero4(), step)


def geometry_measures(
    df: DataFrame,
    id_col: str = "parcel_id",
    xs: str = "xs",
    ys: str = "ys",
    offsets: str = "ring_offsets",
) -> DataFrame:
    """-> (id, n_rings, area, perimeter, cx, cy); cx/cy null for
    zero-area polygons. All arithmetic is IEEE-double in fixed order —
    see module docstring for the oracle-parity contract."""
    x = F.col(xs)
    y = F.col(ys)
    off = F.col(offsets)
    n_rings = (F.size(off) - F.lit(1)).cast("int")

    rings_expr = F.transform(
        F.sequence(F.lit(1), F.size(off) - F.lit(1)),
        lambda r: F.struct(
            r.alias("r"),
            _ring_sums(
                x, y, F.element_at(off, r), F.element_at(off, r + F.lit(1))
            ).alias("s"),
        ),
    )
    # Hoist into its own projection: the four combining folds below each
    # reference the rings array, and CollapseProject keeps a
    # multi-referenced non-cheap alias in its own Project instead of
    # inlining four copies of the per-ring edge walk.
    df = df.withColumn("_rings", rings_expr)
    rings = F.col("_rings")

    def signed(ring, m):
        # orientation-correct the moment, then even-odd weight by ring pos
        s = F.when(ring.s.a2 < F.lit(0.0), -m).otherwise(m)
        return F.when(ring.r == F.lit(1), s).otherwise(-s)

    area2_eff = F.aggregate(
        rings,
        F.lit(0.0),
        lambda acc, ring: acc
        + F.when(ring.r == F.lit(1), F.abs(ring.s.a2)).otherwise(-F.abs(ring.s.a2)),
    )
    perimeter = F.aggregate(rings, F.lit(0.0), lambda acc, ring: acc + ring.s.perim)
    numx = F.aggregate(
        rings, F.lit(0.0), lambda acc, ring: acc + signed(ring, ring.s.mx)
    )
    numy = F.aggregate(
        rings, F.lit(0.0), lambda acc, ring: acc + signed(ring, ring.s.my)
    )

    zero = area2_eff == F.lit(0.0)
    return df.select(
        F.col(id_col),
        n_rings.alias("n_rings"),
        (area2_eff / F.lit(2)).alias("area"),
        perimeter.alias("perimeter"),
        F.when(zero, F.lit(None).cast("double"))
        .otherwise(numx / (F.lit(3.0) * area2_eff))
        .alias("cx"),
        F.when(zero, F.lit(None).cast("double"))
        .otherwise(numy / (F.lit(3.0) * area2_eff))
        .alias("cy"),
    )



# -------------------------------------------------------- Arrow fast path

MEASURE_SCHEMA = (
    "id long, n_rings int, area double, perimeter double, cx double, cy double"
)


def geometry_measures_vec(
    df: DataFrame,
    id_col: str = "parcel_id",
    xs: str = "xs",
    ys: str = "ys",
    offsets: str = "ring_offsets",
) -> DataFrame:
    """Arrow-native vectorized fast path for geometry_measures — the
    same numbers, produced ~100x faster than the interpreted Catalyst
    fold (playbook: vectorized batches >> per-row interpretation).

    mapInArrow, NOT mapInPandas: pandas conversion boxes every vertex
    into a Python float (measured to dominate end-to-end time); Arrow
    RecordBatches expose the flat float64 value buffer and the list
    offsets as zero-copy NumPy views, so the whole batch is a handful
    of vectorized ops with no per-row Python at all.

    Parity contract: edge terms are elementwise IEEE ops; ring and
    polygon sums accumulate over padded matrices — vectorized across
    rings, strictly SEQUENTIAL along the edge axis — replaying the
    0.0-seeded left-to-right fold bit-for-bit. (np.add.reduce/reduceat
    are unusable: numpy unrolls even tiny reductions 8-wide, changing
    the summation tree in the last ulp.) Trailing zero padding adds
    `acc + 0.0`, identical except an acc of exactly -0.0 (possible
    only for all-degenerate-moment rings, where the centroid is null
    anyway): outputs are IEEE-equal and bitwise except signed zeros.

    Scale shape: identical to the fold path — map-only, no exchange.
    """
    import numpy as np
    import pyarrow as pa

    cols = [id_col, xs, ys, offsets]

    def batches(it):
        for rb in it:
            nrow = rb.num_rows
            if nrow == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            xs_a = rb.column(1)
            ys_a = rb.column(2)
            off_a = rb.column(3)
            xcat = xs_a.values.to_numpy(zero_copy_only=False)
            ycat = ys_a.values.to_numpy(zero_copy_only=False)
            xoff = xs_a.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            off_val = off_a.values.to_numpy(zero_copy_only=False).astype(np.int64)
            ooff = off_a.offsets.to_numpy(zero_copy_only=False).astype(np.int64)

            base = xoff[:-1]  # flat start of each row's vertex block
            o_counts = ooff[1:] - ooff[:-1]  # offsets-list length per row
            lens = o_counts - 1  # rings per row
            # ring starts/ends: drop the last / first offset of each row
            idx = np.arange(len(off_val))
            is_last = np.zeros(len(off_val), bool)
            is_last[ooff[1:] - 1] = True
            is_first = np.zeros(len(off_val), bool)
            is_first[ooff[:-1]] = True
            base_rep = np.repeat(base, lens)
            ring_starts = base_rep + off_val[~is_last]
            ring_ends = base_rep + off_val[~is_first]
            n_rings_total = len(ring_starts)
            ring_pos = idx[~is_last] - np.repeat(ooff[:-1], lens)

            ecount = np.maximum(ring_ends - ring_starts - 1, 0)
            etotal = int(ecount.sum())
            ecum = np.zeros(n_rings_total, np.int64)
            np.cumsum(ecount[:-1], out=ecum[1:])
            eoff = np.arange(etotal) - np.repeat(ecum, ecount)
            ei = np.repeat(ring_starts, ecount) + eoff
            x1 = xcat[ei]
            y1 = ycat[ei]
            x2 = xcat[ei + 1]
            y2 = ycat[ei + 1]
            cross = x1 * y2 - x2 * y1
            dx = x2 - x1
            dy = y2 - y1
            elen = np.sqrt(dx * dx + dy * dy)
            emx = (x1 + x2) * cross
            emy = (y1 + y2) * cross

            def seq_sum(vals, seg_row, seg_off, n_seg, width):
                # vectorized across segments, sequential along the axis:
                # bitwise == the 0.0-seeded fold (see docstring)
                acc = np.zeros(n_seg)
                if width == 0:
                    return acc
                mat = np.zeros((n_seg, width))
                mat[seg_row, seg_off] = vals
                for k in range(width):
                    acc = acc + mat[:, k]
                return acc

            e_row = np.repeat(np.arange(n_rings_total), ecount)
            e_w = int(ecount.max(initial=0))
            a2 = seq_sum(cross, e_row, eoff, n_rings_total, e_w)
            perim = seq_sum(elen, e_row, eoff, n_rings_total, e_w)
            mx = seq_sum(emx, e_row, eoff, n_rings_total, e_w)
            my = seq_sum(emy, e_row, eoff, n_rings_total, e_w)

            w = np.where(ring_pos == 0, 1.0, -1.0)
            sgn = np.where(a2 < 0, -1.0, 1.0)
            r_row = np.repeat(np.arange(nrow), lens)
            r_w = int(lens.max(initial=0))
            area2_eff = seq_sum(w * np.abs(a2), r_row, ring_pos, nrow, r_w)
            perimeter = seq_sum(perim, r_row, ring_pos, nrow, r_w)
            numx = seq_sum(w * sgn * mx, r_row, ring_pos, nrow, r_w)
            numy = seq_sum(w * sgn * my, r_row, ring_pos, nrow, r_w)

            zero = area2_eff == 0.0
            with np.errstate(divide="ignore", invalid="ignore"):
                cx = numx / (3.0 * area2_eff)
                cy = numy / (3.0 * area2_eff)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(lens.astype(np.int32), pa.int32()),
                    pa.array(area2_eff / 2, pa.float64()),
                    pa.array(perimeter, pa.float64()),
                    pa.array(cx, pa.float64(), mask=zero),
                    pa.array(cy, pa.float64(), mask=zero),
                ],
                names=["id", "n_rings", "area", "perimeter", "cx", "cy"],
            )

    narrow = df.select(*[F.col(c) for c in cols])
    out = narrow.mapInArrow(batches, schema=MEASURE_SCHEMA)
    return out.withColumnRenamed("id", id_col)


def haversine_legs(
    pts: "DataFrame",
    key_col: str = "user_id",
    order_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
) -> "DataFrame":
    """Per-key great-circle travel legs over an ordered point stream
    — the geodesic counterpart of the planar measures above (the
    engine's other distances are all planar; a geotagged web corpus
    needs the spherical metric). Each consecutive pair within a key
    contributes one leg; distance is the PORTABLE truncated-series
    haversine (kernels/geodesic.py: fixed Horner polynomials, bitwise
    identical across Spark/DuckDB/NumPy, <0.1mm from true haversine
    on the engine bbox), quantized to floor(millimetres) so all
    downstream aggregates are exact BIGINT arithmetic.

    Output: (key, n_legs, total_mm, max_mm, mean_leg_m) — keys with a
    single point have no legs and are absent by definition.

    Scale shape: ONE exchange on the key (the lag window); the
    groupBy reuses the window's hash partitioning so no second
    shuffle; per-key group size is bounded (events/user is constant
    as the corpus grows), so no skew salting is needed. The distance
    itself is a single codegen projection — no trig library calls,
    no Python.
    """
    from pyspark.sql import Window

    from ..kernels import geodesic as GD

    w = Window.partitionBy(key_col).orderBy(order_col)
    legs = pts.select(
        F.col(key_col),
        F.col(lon),
        F.col(lat),
        F.lag(lon).over(w).alias("_plon"),
        F.lag(lat).over(w).alias("_plat"),
    ).where(F.col("_plon").isNotNull())
    d_m = GD.haversine_m(
        F.col("_plon"), F.col("_plat"), F.col(lon), F.col(lat), F.sqrt
    )
    mm = F.floor(d_m * 1000.0).cast("long")
    per = (
        legs.select(F.col(key_col), mm.alias("leg_mm"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_legs"),
            F.sum("leg_mm").cast("long").alias("total_mm"),
            F.max("leg_mm").cast("long").alias("max_mm"),
        )
    )
    return per.select(
        key_col,
        "n_legs",
        "total_mm",
        "max_mm",
        # exact-BIGINT inputs + correctly-rounded IEEE divisions in a
        # fixed op order are bitwise portable — no rounding grid needed
        (
            (F.col("total_mm").cast("double") / F.col("n_legs").cast("double"))
            / F.lit(1000.0)
        ).alias("mean_leg_m"),
    )


def radius_of_gyration(
    pts: "DataFrame",
    key_col: str = "user_id",
    lon: str = "lon",
    lat: str = "lat",
) -> "DataFrame":
    """Per-key radius of gyration — the canonical human-mobility
    spread metric (Gonzalez et al. 2008): rg = sqrt(mean over points
    of d(point, centroid)^2), with d the portable series haversine
    (kernels/geodesic.py). Complements haversine_legs (sequential
    travel) with the ORDER-FREE spatial dispersion of each key.

    Portability spec (every step replays bitwise in DuckDB):
    coordinates quantize to exact 1e-7-degree BIGINT units (~1cm) so
    the centroid comes from order-independent integer sums; the
    per-row centroid division and the series haversine are fixed-order
    correctly-rounded IEEE ops; per-point distances floor to whole
    metres (BIGINT) so the second moment is again an exact integer
    sum; the final sqrt(mean) is two correctly-rounded ops. Overflow
    bounds (ANSI errors loudly, never corrupts): |unit| <= 9e7 so
    coordinate sums hold to ~1e11 points/key; floor-metre d^2 <= 4e12
    holds to ~2e6 points/key and stays < 2^53 for the exact
    double cast — events/user is bounded as the corpus scales.

    Scale shape: ONE exchange. The window over the key attaches the
    group's integer sums to every row (no agg+join-back pass), the
    distance is a codegen projection, and the final groupBy reuses
    the window's hash partitioning — same topology as haversine_legs.

    Output: (key, n_points, centroid_lon, centroid_lat, rg_m).
    """
    from pyspark.sql import Window

    from ..kernels import geodesic as GD

    U = 1.0e7
    w = Window.partitionBy(key_col)
    ux = F.floor(F.col(lon) * F.lit(U)).cast("long")
    uy = F.floor(F.col(lat) * F.lit(U)).cast("long")
    base = pts.select(
        F.col(key_col),
        F.col(lon),
        F.col(lat),
        F.sum(ux).over(w).alias("_sx"),
        F.sum(uy).over(w).alias("_sy"),
        F.count(F.lit(1)).over(w).alias("_n"),
    )
    nd = F.col("_n").cast("double")
    clon = (F.col("_sx").cast("double") / nd) / F.lit(U)
    clat = (F.col("_sy").cast("double") / nd) / F.lit(U)
    d_m = GD.haversine_m(clon, clat, F.col(lon), F.col(lat), F.sqrt)
    dm = F.floor(d_m).cast("long")
    per = (
        base.select(
            F.col(key_col),
            clon.alias("_clon"),
            clat.alias("_clat"),
            (dm * dm).alias("_d2"),
        )
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.first("_clon").alias("centroid_lon"),
            F.first("_clat").alias("centroid_lat"),
            F.sum("_d2").cast("long").alias("_sd2"),
        )
    )
    return per.select(
        key_col,
        "n_points",
        "centroid_lon",
        "centroid_lat",
        F.sqrt(
            F.col("_sd2").cast("double") / F.col("n_points").cast("double")
        ).alias("rg_m"),
    )


def trip_segments(
    pts: "DataFrame",
    key_col: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
    gap_minutes: int = 60,
) -> "DataFrame":
    """Gap-split trips with geodesic distance and speed — completes
    the mobility family (user_path length, path_interp, stay_points,
    haversine_legs, radius_of_gyration, THIS): the sessionize gap rule
    (new trip strictly beyond gap_minutes between consecutive points)
    segments each key's timeline, then every within-trip leg gets the
    portable series-haversine distance floor-quantized to mm.

    Output per (key, trip_id): n_points, total_mm (exact BIGINT, 0
    for single-point trips), duration_us (exact integer micros), and
    speed_mps — ((total_mm / duration_us) * 1000) in fixed-order IEEE
    doubles, NULL for zero-duration trips (ANSI 0/0 gate).

    Scale shape: ONE exchange on the key. All three window passes
    (gap lag, running trip sum, leg lag) share the same partition+sort
    spec so Catalyst runs them in one Window stage chain without
    re-sorting, and the (key, trip_id) groupBy is satisfied by the
    key's hash partitioning (key ⊆ grouping keys) — no second
    exchange. Distances are a codegen projection (no Python).
    """
    from pyspark.sql import Window

    from ..kernels import geodesic as GD
    from .sessions import sessionize

    s = sessionize(
        pts,
        key=key_col,
        ts=ts,
        order_tiebreak=order_col,
        gap_minutes=gap_minutes,
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts).asc(), F.col(order_col).asc()
    )
    d_m = GD.haversine_m(
        F.lag(lon).over(w),
        F.lag(lat).over(w),
        F.col(lon),
        F.col(lat),
        F.sqrt,
    )
    same_trip = F.lag("session_idx").over(w) == F.col("session_idx")
    leg_mm = F.when(same_trip, F.floor(d_m * 1000.0).cast("long"))
    micros = F.unix_micros(F.col(ts).cast("timestamp"))
    per = (
        s.select(
            F.col(key_col),
            F.col("session_idx").alias("trip_id"),
            leg_mm.alias("_leg_mm"),
            micros.alias("_us"),
        )
        .groupBy(key_col, "trip_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.coalesce(F.sum("_leg_mm"), F.lit(0)).cast("long").alias("total_mm"),
            F.min("_us").alias("_t0"),
            F.max("_us").alias("_t1"),
        )
    )
    dur = (F.col("_t1") - F.col("_t0")).cast("long")
    return per.select(
        key_col,
        "trip_id",
        "n_points",
        "total_mm",
        dur.alias("duration_us"),
        F.when(
            dur > 0,
            (F.col("total_mm").cast("double") / dur.cast("double"))
            * F.lit(1000.0),
        ).alias("speed_mps"),
    )


def location_entropy(
    pts: "DataFrame",
    key_col: str = "user_id",
    cell_col: str = "cell",
) -> DataFrame:
    """Per-key Shannon entropy of the visited-cell distribution — the
    mobility predictability signal (Song et al. 2010: low entropy =
    routine movement, high = exploratory), pairing with
    radius_of_gyration (spatial extent) and trip_segments (dynamics).

    Exactness: `stats.entropy_census` over (key, cell): ent_u =
    n*ln_u(n) - sum_c n_c*ln_u(n_c) is exact BIGINT arithmetic;
    ent_nats = (ent_u / n) / 1e6 is two fixed-order correctly-rounded
    divisions (n >= 1 by construction).

    Scale shape: the census's two narrow-key exchanges, no window, no
    join. Output (key, n_points, n_cells, ent_u, ent_nats).
    """
    n = F.col("n")
    ent_u = (n * ln_u(n) - F.col("s")).cast("long")
    census = pts.select(F.col(key_col), F.col(cell_col).alias("cell"))
    return entropy_census(census, [key_col], "cell").select(
        key_col,
        n.alias("n_points"),
        F.col("n_distinct").alias("n_cells"),
        ent_u.alias("ent_u"),
        ((ent_u.cast("double") / n.cast("double")) / F.lit(1e6)).alias("ent_nats"),
    )


def od_matrix(
    pts: "DataFrame",
    key_col: str = "user_id",
    ts: str = "ts",
    order_col: str = "event_id",
    lon: str = "lon",
    lat: str = "lat",
    cell_col: str = "cell",
    gap_minutes: int = 60,
) -> "DataFrame":
    """Origin-destination matrix over gap-split trips — the flow
    census transit/mobility analysis keys on: each trip (sessionize
    gap rule, trip_segments' segmentation) contributes one
    (origin cell, destination cell) pair; the census rolls up trip
    counts and exact geodesic distance mass per OD pair.

    Origin/destination are the cells of the trip's first/last point
    by (ts, order) — elected MAP-SIDE as min/max over
    struct(ts, order, cell) (the max-struct idiom; lexicographic on a
    unique prefix, no window rank). Distances are the same floor-mm
    series-haversine legs as trip_segments, so total_mm is an exact
    BIGINT and mean_trip_m a fixed-order IEEE division.

    Scale shape: one key exchange (the shared window spec), a
    per-(key, trip) aggregate riding the key partitioning, then ONE
    narrow (o_cell, d_cell) census exchange. Output: (o_cell, d_cell,
    n_trips, n_round [o==d subset], total_mm, mean_trip_m).
    """
    from pyspark.sql import Window

    from ..kernels import geodesic as GD
    from .sessions import sessionize

    s = sessionize(
        pts,
        key=key_col,
        ts=ts,
        order_tiebreak=order_col,
        gap_minutes=gap_minutes,
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts).asc(), F.col(order_col).asc()
    )
    d_m = GD.haversine_m(
        F.lag(lon).over(w),
        F.lag(lat).over(w),
        F.col(lon),
        F.col(lat),
        F.sqrt,
    )
    same_trip = F.lag("session_idx").over(w) == F.col("session_idx")
    leg_mm = F.when(same_trip, F.floor(d_m * 1000.0).cast("long"))
    trips = (
        s.select(
            F.col(key_col),
            F.col("session_idx").alias("trip_id"),
            F.struct(F.col(ts), F.col(order_col), F.col(cell_col)).alias(
                "_pt"
            ),
            leg_mm.alias("_leg_mm"),
        )
        .groupBy(key_col, "trip_id")
        .agg(
            F.min("_pt")[cell_col].alias("o_cell"),
            F.max("_pt")[cell_col].alias("d_cell"),
            F.coalesce(F.sum("_leg_mm"), F.lit(0))
            .cast("long")
            .alias("trip_mm"),
        )
    )
    od = trips.groupBy("o_cell", "d_cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_trips"),
        F.sum((F.col("o_cell") == F.col("d_cell")).cast("long"))
        .cast("long")
        .alias("n_round"),
        F.sum("trip_mm").cast("long").alias("total_mm"),
    )
    return od.select(
        "o_cell",
        "d_cell",
        "n_trips",
        "n_round",
        "total_mm",
        (
            (F.col("total_mm").cast("double") / F.col("n_trips").cast("double"))
            / F.lit(1000.0)
        ).alias("mean_trip_m"),
    )
