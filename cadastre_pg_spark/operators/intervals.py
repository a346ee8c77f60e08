"""1D interval-point containment join via time-bucket co-partitioning
— the temporal analog of the cell-bucketed spatial join (J9,
operators/spatial_join.py), for "which intervals cover this instant"
workloads (session concurrency, validity windows, outage overlap).

A naive formulation is a range-predicate cross join — Catalyst can
only nested-loop it (BroadcastNestedLoopJoin), which dies at scale.
Bucketing both sides on floor(epoch / bucket) turns it into an
equi-join whose residual is the exact containment predicate: intervals
explode to the buckets they cover, points carry their single bucket,
so every qualifying pair meets in exactly one bucket (no dedup needed)
and the exchange is a plain hash partition on the bucket key.

Scale notes:
- choose bucket_seconds near the median interval length: the interval
  fan-out is ~len/bucket + 1 rows, the per-bucket probe population is
  what the residual filter scans;
- a degenerate long interval fans out wide — `max_buckets_per_interval`
  bounds it LOUDLY (raise, not silent truncation);
- hot buckets (everyone online at the same hour) ride AQE's skew-join
  split, same as hot cells in the spatial join.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .held import hold

US = 1_000_000


def _bucket(col, bucket_seconds: int):
    return F.floor(
        F.unix_micros(col.cast("timestamp")) / F.lit(bucket_seconds * US)
    )


def _guarded_buckets(
    iv_id: str, lo, hi, bucket_seconds: int, max_buckets: int
):
    """sequence(lo, hi) with a LOUD in-expression fan-out bound
    (raise_error) — no separate validation pass over the table."""
    return F.when(
        hi - lo + F.lit(1) > F.lit(max_buckets),
        F.raise_error(
            F.concat(
                F.lit("interval join: interval "),
                F.col(iv_id).cast("string"),
                F.lit(
                    f" spans more than {max_buckets} buckets"
                    f" of {bucket_seconds}s; raise bucket_seconds"
                ),
            )
        ).cast("array<bigint>"),
    ).otherwise(F.sequence(lo, hi))


def _cap_bucket_side(df, tag: str, max_per_bucket: int):
    """Drop every row of buckets whose population on this side exceeds
    the cap, returning (kept, skipped-report) — skipped is (bucket,
    side, n), one row per over-cap bucket. Window count over the
    join's own partition key: one exchange, reused by the join."""
    from pyspark.sql import Window

    wb = Window.partitionBy("bucket")
    sized = df.withColumn("_n", F.count(F.lit(1)).over(wb))
    over = (
        sized.filter(F.col("_n") > max_per_bucket)
        .select("bucket", F.lit(tag).alias("side"), F.col("_n").alias("n"))
        .distinct()
    )
    return sized.filter(F.col("_n") <= max_per_bucket).drop("_n"), over


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame | None = None,
    bucket_seconds: int = 3600,
    iv_id: str = "interval_id",
    start: str = "start_ts",
    end: str = "end_ts",
    max_buckets_per_interval: int = 10_000,
    max_per_bucket: int | None = None,
) -> DataFrame:
    """All overlapping interval pairs (closed bounds: overlap iff
    a.start <= b.end AND b.start <= a.end). b=None means self-join
    (pairs with a_id < b_id, each once). Output: (a_id, b_id,
    a_start, a_end, b_start, b_end, overlap_us).

    Dedup-free bucketing: a pair sharing k buckets would meet k times,
    so the join keeps a pair ONLY in its first shared bucket
    (bucket == greatest(a_lo, b_lo)) — an arithmetic residual instead
    of a distinct stage (the same one-exchange idea as the spatial
    join's first-cell rule). Hot buckets ride AQE's skew split.

    The per-bucket candidate grid is |bucket_a| x |bucket_b| BEFORE
    the residual prunes, so a mega-bucket is genuinely quadratic.
    The first scale lever is bucket_seconds (shrink buckets to thin
    the grid); for adversarial density, `max_per_bucket` SKIPS buckets
    whose side population exceeds it and reports them as
    `skipped(result)` (bucket, side, n) — the engine's no-silent-cap
    rule, same treatment as the LSH band caps."""
    self_join = b is None
    if self_join:
        b = a

    def side(df, tag):
        lo = _bucket(F.col(start), bucket_seconds)
        hi = _bucket(F.col(end), bucket_seconds)
        return df.select(
            F.col(iv_id).alias(f"{tag}_id"),
            F.col(start).alias(f"{tag}_start"),
            F.col(end).alias(f"{tag}_end"),
            lo.alias(f"{tag}_lo"),
            F.explode(
                _guarded_buckets(
                    iv_id, lo, hi, bucket_seconds, max_buckets_per_interval
                )
            ).alias("bucket"),
        )

    left, right = side(a, "a"), side(b, "b")
    skipped = None
    if max_per_bucket is not None:
        left, sk_a = _cap_bucket_side(left, "a", max_per_bucket)
        right, sk_b = _cap_bucket_side(right, "b", max_per_bucket)
        skipped = sk_a.unionByName(sk_b)
    cond = (
        (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
        & (F.col("bucket") == F.greatest(F.col("a_lo"), F.col("b_lo")))
    )
    if self_join:
        cond = cond & (F.col("a_id") < F.col("b_id"))
    overlap_us = F.least(
        F.unix_micros(F.col("a_end").cast("timestamp")),
        F.unix_micros(F.col("b_end").cast("timestamp")),
    ) - F.greatest(
        F.unix_micros(F.col("a_start").cast("timestamp")),
        F.unix_micros(F.col("b_start").cast("timestamp")),
    )
    out = (
        left.join(right, "bucket")
        .filter(cond)
        .select(
            "a_id",
            "b_id",
            "a_start",
            "a_end",
            "b_start",
            "b_end",
            overlap_us.alias("overlap_us"),
        )
    )
    return hold(out, skipped=skipped)


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    bucket_seconds: int = 3600,
    iv_id: str = "interval_id",
    start: str = "start_ts",
    end: str = "end_ts",
    pt_id: str = "point_id",
    ts: str = "ts",
    max_buckets_per_interval: int = 10_000,
    max_per_bucket: int | None = None,
) -> DataFrame:
    """All (point, interval) pairs with start <= ts <= end (closed
    bounds, microsecond grain). Output: (pt_id, iv_id) plus the three
    timestamp columns. Each qualifying pair appears exactly once.

    The per-bucket candidate grid is |points| x |intervals| before the
    containment residual prunes, so a hot bucket (traffic spike hour)
    is quadratic. `max_per_bucket` SKIPS buckets whose side population
    exceeds it and reports them as `skipped(result)`
    (bucket, side, n) — measured cap, never silent."""
    lo = _bucket(F.col(start), bucket_seconds)
    hi = _bucket(F.col(end), bucket_seconds)
    b_iv = intervals.select(
        iv_id,
        start,
        end,
        F.explode(
            _guarded_buckets(iv_id, lo, hi, bucket_seconds, max_buckets_per_interval)
        ).alias("bucket"),
    )
    b_pt = points.select(
        pt_id, ts, _bucket(F.col(ts), bucket_seconds).alias("bucket")
    )
    skipped = None
    if max_per_bucket is not None:
        b_iv, sk_iv = _cap_bucket_side(b_iv, "interval", max_per_bucket)
        b_pt, sk_pt = _cap_bucket_side(b_pt, "point", max_per_bucket)
        skipped = sk_iv.unionByName(sk_pt)
    out = (
        b_pt.join(b_iv, "bucket")
        .filter((F.col(start) <= F.col(ts)) & (F.col(ts) <= F.col(end)))
        .select(pt_id, iv_id, ts, start, end)
    )
    return hold(out, skipped=skipped)


def concurrency_profile(
    intervals: DataFrame,
    id_col: str = "interval_id",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    chunk_seconds: int = 86_400,
) -> DataFrame:
    """Sweep-line concurrency profile over CLOSED intervals
    [start, end]: for every distinct boundary timestamp t, how many
    intervals are active at t (start <= t AND end >= t) — the peak-
    load / max-concurrent-sessions primitive. Output (ts, n_start,
    n_end, active); max(active) is the peak concurrency and it is
    always attained at a start boundary.

    active(t) = (# starts <= t) - (# ends < t): two running sums over
    the boundary census. All-integer — exact, and the SQL twin is the
    same two cumulative windows.

    Scale shape: a bare running sum is a SINGLE-PARTITION window (the
    classic scale trap). This plan is the two-level scan instead:
    boundaries aggregate per (chunk, ts) with map-side partials, chunk
    subtotals (one row per chunk — days, here) cumsum on the driver
    scale-free as a broadcast-joined prefix, and the within-chunk
    cumsum windows partition BY CHUNK — every exchange is keyed, no
    global sort, no single-task stage. chunk_seconds sizes a chunk's
    boundary census to executor memory.
    """
    s = F.col(start_col).cast("timestamp")
    e = F.col(end_col).cast("timestamp")
    bounds = intervals.select(
        F.unix_micros(s).alias("ts_us"), F.lit(1).alias("is_start")
    ).unionAll(
        intervals.select(F.unix_micros(e).alias("ts_us"), F.lit(0).alias("is_start"))
    )
    census = (
        bounds.groupBy("ts_us")
        .agg(
            F.sum("is_start").alias("n_start"),
            F.sum(F.lit(1) - F.col("is_start")).alias("n_end"),
        )
        .withColumn("chunk", F.floor(F.col("ts_us") / F.lit(chunk_seconds * US)))
    )
    census = census.persist()
    totals = (
        census.groupBy("chunk")
        .agg(F.sum("n_start").alias("cs"), F.sum("n_end").alias("ce"))
        .orderBy("chunk")
        .collect()
    )
    # driver-side prefix over chunk subtotals: one row per chunk — the
    # scale-free part (a year of days is 365 rows at any data size)
    pre_s, pre_e, prefix = 0, 0, []
    for r in totals:
        prefix.append((r.chunk, pre_s, pre_e))
        pre_s += r.cs
        pre_e += r.ce
    spark = intervals.sparkSession
    pdf = spark.createDataFrame(prefix, "chunk long, pre_s long, pre_e long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("chunk")
        .orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        census.join(F.broadcast(pdf), "chunk")
        .withColumn("_cum_s", F.sum("n_start").over(w) + F.col("pre_s"))
        .withColumn("_cum_e", F.sum("n_end").over(w) + F.col("pre_e"))
        .select(
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            F.col("n_start").cast("long").alias("n_start"),
            F.col("n_end").cast("long").alias("n_end"),
            (F.col("_cum_s") - (F.col("_cum_e") - F.col("n_end")))
            .cast("long")
            .alias("active"),
        )
    )
    return hold(out, census)
