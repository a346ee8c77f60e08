"""k-nearest-neighbors via cell-neighborhood expansion (north-star op;
the PostGIS KNN `<->` GIST workload (postgres.rs:320-329) is the
downstream analog — designed fresh here, SURVEY.md §7.3 step 5).

Exact algorithm, all JVM-side (no Python anywhere):

1. **Measured cell level.** Start from the uniform-density estimate of
   the radius holding ~`expansion * k` neighbors, then REFINE against
   the data: while the measured max cell occupancy exceeds `occ_cap`,
   go finer (a pathological all-points-in-one-city distribution would
   otherwise turn the 3x3 join quadratic — the level is chosen from
   statistics, not assumption, like the join-strategy gate).
2. **3x3 cell join.** Points replicate to their 3x3 neighborhood
   (constant 9x build-side blow-up); queries join on their single
   cell. A query whose k-th candidate distance is <= one cell width is
   provably final (anything closer must lie in the 3x3 window).
3. **Iterative ring expansion for sparse tails.** Unsettled queries
   re-join at a 4x coarser level (window widens 4x per round) until
   settled — stragglers shrink geometrically instead of brute-forcing
   against the full point table. Every round only ships points whose
   coarse cell is actually probed (semi-join on the straggler cells).
4. **Loud budget, no silent blowup.** Before any terminal full-scan
   round, the candidate volume is checked against `budget_pairs`; a
   distribution that would still go quadratic raises with the measured
   numbers instead of melting the cluster.

Ties broken by neighbor_id; output matches brute force exactly (the
DuckDB oracle is the full O(n^2) scan; the adversarial concentration
test in tests/test_knn.py pins the sub-quadratic path to the oracle).
"""

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..data import synthetic as S
from ..kernels import cells as C
from .held import hold

HARD_MAX_LEVEL = 22  # ix*n+iy stays < 2^45


def _with_cell_xy(df, level, lon="lon", lat="lat"):
    return df.withColumn("ix", S.grid_ix_col(F.col(lon), level)).withColumn(
        "iy", S.grid_iy_col(F.col(lat), level)
    )


def _dist_sq():
    return (
        (F.col("nlon") - F.col("lon")) * (F.col("nlon") - F.col("lon"))
        + (F.col("nlat") - F.col("lat")) * (F.col("nlat") - F.col("lat"))
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_sq").asc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _neigh3x3(points: DataFrame, level: int) -> DataFrame:
    """Points replicated to their 3x3 cell neighborhood at `level`."""
    n = 1 << level
    pts = _with_cell_xy(points, level).select(
        F.col("point_id").alias("neighbor_id"),
        F.col("lon").alias("nlon"),
        F.col("lat").alias("nlat"),
        "ix",
        "iy",
    )
    return pts.select(
        "neighbor_id",
        "nlon",
        "nlat",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(
                            (F.col("ix") + F.lit(dx)).between(0, n - 1)
                            & (F.col("iy") + F.lit(dy)).between(0, n - 1),
                            (F.col("ix") + F.lit(dx)) * F.lit(n)
                            + (F.col("iy") + F.lit(dy)),
                        )
                        for dx in (-1, 0, 1)
                        for dy in (-1, 0, 1)
                    ]
                ),
                lambda c: c.isNotNull(),
            )
        ).alias("cell"),
    )


def _q_cells(queries: DataFrame, level: int) -> DataFrame:
    n = 1 << level
    return _with_cell_xy(queries, level).select(
        "query_id",
        "lon",
        "lat",
        (F.col("ix") * F.lit(n) + F.col("iy")).alias("cell"),
    )


def _settle(cand: DataFrame, k: int, level: int):
    """(settled rows, settled query ids) for one round: top-k whose
    k-th distance is certified by the 3x3 window at `level`."""
    wx, wy = C.grid_cell_size(level)
    w_min = min(wx, wy)
    ranked = _topk(cand, k).persist()
    settled_ids = (
        ranked.filter(F.col("rank") == k)
        .filter(F.col("dist_sq") <= F.lit(w_min * w_min))
        .select("query_id")
    )
    settled = ranked.join(settled_ids, "query_id", "left_semi").select(
        "query_id", "neighbor_id", "dist_sq", "rank"
    )
    return settled, settled_ids, ranked


OCC_SAMPLE_ROWS = 1_000_000


def pick_level(
    n_pts: int,
    points: DataFrame,
    k: int,
    expansion: float,
    max_level: int,
    occ_cap: int,
) -> int:
    """Density-estimate start, then refine FINER until the measured max
    cell occupancy is under occ_cap (bounded by HARD_MAX_LEVEL).

    The occupancy probe runs on a SAMPLE capped at ~1M rows (a full
    scan per refinement round would read the whole table at 100 TB);
    the sampled max count is scaled back by 1/fraction. Level choice
    only affects performance, never exactness — the settle criterion
    and ring expansion stay correct at any level."""
    area = (C.GRID_LON1 - C.GRID_LON0) * (C.GRID_LAT1 - C.GRID_LAT0)
    density = max(n_pts, 1) / area
    radius = math.sqrt(expansion * k / (math.pi * density))
    lx = math.floor(math.log2((C.GRID_LON1 - C.GRID_LON0) / radius)) if radius > 0 else max_level
    ly = math.floor(math.log2((C.GRID_LAT1 - C.GRID_LAT0) / radius)) if radius > 0 else max_level
    level = max(0, min(max_level, lx, ly))
    fraction = min(1.0, OCC_SAMPLE_ROWS / max(n_pts, 1))
    probe = points if fraction >= 1.0 else points.sample(fraction, seed=7)
    probe = probe.persist()
    try:
        while level < HARD_MAX_LEVEL:
            n = 1 << level
            occ = (
                _with_cell_xy(probe, level)
                .groupBy((F.col("ix") * F.lit(n) + F.col("iy")).alias("cell"))
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c"))
                .first()[0]
            )
            if occ is None or occ / fraction <= occ_cap:
                break
            level += 2  # 4x smaller cells per refinement round
    finally:
        probe.unpersist()
    return level


def knn_grid(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    expansion: float = 3.0,
    max_level: int = 12,
    occ_cap: int | None = None,
    budget_pairs: int = 50_000_000,
    level: int | None = None,
) -> DataFrame:
    """points: (point_id, lon, lat); queries: (query_id, lon, lat) ->
    (query_id, neighbor_id, dist_sq, rank<=k). Exact (== brute force);
    rows with point_id == query_id are excluded as self-matches.

    `level` overrides the occupancy probe: a pipeline issuing many kNN
    calls against the SAME point set should run pick_level once and
    pass the result (the probe is a count + up-to-3 sampled aggs —
    cheap once, waste when repeated). Level only affects performance,
    never exactness."""
    n_pts = points.count()
    occ_cap = occ_cap if occ_cap is not None else max(64, 8 * k)
    if level is None:
        level = pick_level(n_pts, points, k, expansion, max_level, occ_cap)
    if level <= 1:
        # the FIRST round would already be (nearly) the full grid —
        # apply the same budget gate before running it (the count is
        # cheap and only happens in this degenerate-density corner)
        n_q = queries.count()
        if n_q * n_pts > budget_pairs:
            raise RuntimeError(
                f"knn_grid: level-{level} start would compare {n_q} "
                f"queries x {n_pts} points > budget_pairs={budget_pairs}; "
                f"raise the budget or occ_cap explicitly"
            )

    points = points.persist()
    out_parts = []
    pending = queries
    cached = [points]
    round_idx = 0
    while True:
        qc = _q_cells(pending, level)
        neigh = _neigh3x3(points, level)
        if round_idx > 0:
            # later rounds have few stragglers: only ship points whose
            # coarse cell is actually probed (map-side broadcast semi —
            # the 9x replica of non-matching points never shuffles)
            neigh = neigh.join(
                F.broadcast(qc.select("cell").distinct()), "cell", "left_semi"
            )
        cand = (
            qc.join(neigh, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id", "lon", "lat", "neighbor_id", _dist_sq().alias("dist_sq")
            )
        )
        settled, settled_ids, ranked = _settle(cand, k, level)
        cached.append(ranked)
        out_parts.append(settled)
        pending = pending.join(settled_ids, "query_id", "left_anti").persist()
        cached.append(pending)
        n_pending = pending.count()
        if n_pending == 0:
            break
        if level == 0:
            # 3x3 at level 0 is already the whole grid: every remaining
            # query saw ALL points, so rank k exists only if the table
            # itself has < k+1 rows — emit what there is and stop.
            out_parts.append(
                _topk(cand, k)
                .join(settled_ids, "query_id", "left_anti")
                .select("query_id", "neighbor_id", "dist_sq", "rank")
            )
            break
        if n_pending * n_pts <= budget_pairs:
            # the straggler set is small enough that one GUARDED exact
            # pass is cheaper than more coarsening rounds (each round
            # costs a settle job + count); the budget makes this the
            # bounded version of the round-1 fallback, not a blowup
            brute = (
                pending.crossJoin(
                    points.select(
                        F.col("point_id").alias("neighbor_id"),
                        F.col("lon").alias("nlon"),
                        F.col("lat").alias("nlat"),
                    )
                )
                .filter(F.col("neighbor_id") != F.col("query_id"))
                .select(
                    "query_id",
                    "lon",
                    "lat",
                    "neighbor_id",
                    _dist_sq().alias("dist_sq"),
                )
            )
            out_parts.append(
                _topk(brute, k).select("query_id", "neighbor_id", "dist_sq", "rank")
            )
            break
        next_level = max(0, level - 2)
        # the 3x3 window at level 1 (a 2x2 grid) already spans the WHOLE
        # grid, so the budget must gate any round at level <= 1 — not
        # just the level-0 terminal pass — or the full quadratic join
        # runs once before the raise could fire
        if next_level <= 1 and n_pending * n_pts > budget_pairs:
            raise RuntimeError(
                f"knn_grid: level-{next_level} round would compare "
                f"{n_pending} stragglers x {n_pts} points > budget_pairs="
                f"{budget_pairs}; raise the budget or occ_cap explicitly"
            )
        level = next_level
        round_idx += 1
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    # the result holds the persisted intermediates: release_cached(out)
    # after the terminal action
    return hold(out, *cached)
