"""Group statistics — z-score outlier detection and per-group Pearson
correlation, built on the house exactness pattern: every SUM runs
through DECIMAL casts of inputs whose decimal expansion is short
(event values carry 2 decimals; products stay exact in DECIMAL), so
the aggregates are order-independent and bit-identical across engines;
the final variance/correlation combination is fixed-shape IEEE double
arithmetic (multiply/subtract/divide/sqrt — sqrt is correctly rounded
everywhere), rounded to 6 decimals at the output boundary per house
policy for derived floats.

Scale shape: single hash aggregates with map-side partials (the
z-score pass re-joins the per-group moments back onto the scan as a
broadcast — groups are low-cardinality dimensions). No window, no
self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .held import hold

DEC = "decimal(28,6)"


def _moments(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    v = F.col(value_col).cast(DEC)
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sx"),
        F.sum(v * v).alias("sxx"),
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates more than `threshold` population
    standard deviations from their group mean -> (id, group, value,
    z) with z rounded to 6 decimals. Groups with zero variance emit
    nothing (z undefined)."""
    mom = _moments(df, group_col, value_col)
    # fixed-shape double math from the exact decimal moments
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("sxx").cast("double") / F.col("n") - mean * mean
    )
    stats = mom.select(
        "grp", mean.alias("mean"), F.sqrt(var).alias("sd")
    )
    j = df.join(stats, df[group_col] == stats.grp)
    z = (F.col(value_col) - F.col("mean")) / F.col("sd")
    return (
        j.filter(F.col("sd") > F.lit(0.0))
        .filter((z > F.lit(threshold)) | (z < -F.lit(threshold)))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            F.round(z, 6).alias("z"),
        )
    )


def group_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Pearson correlation of two columns -> (group, n,
    corr) with corr rounded to 6 decimals; groups where either side
    is constant emit corr = NULL."""
    x = F.col(x_col).cast(DEC)
    y = F.col(y_col).cast(DEC)
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    dx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    corr = F.when(
        (dx > F.lit(0.0)) & (dy > F.lit(0.0)),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
    )
    return agg.select(F.col("grp").alias(group_col), "n", corr.alias("corr"))


def profile_table(
    df: DataFrame,
    numeric_cols: tuple = (),
    other_cols: tuple = (),
) -> DataFrame:
    """ANALYZE-style column profile in ONE scan: per column the row
    count, null count, exact distinct count, and (numeric columns)
    min/max as doubles. -> (col_name, n, n_null, n_distinct, min_num,
    max_num).

    Scale note: multiple COUNT(DISTINCT) make Catalyst plan an Expand
    (one duplicated stream per distinct aggregate) — exact and fine at
    dimension-table scale; for 100 TB fact columns swap the distinct
    counts for sketches.hll_distinct (documented trade, same output
    shape modulo estimate)."""
    cols = list(numeric_cols) + list(other_cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"mx_{c}"))
    a = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n").alias("n"),
                (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                (
                    F.col(f"mn_{c}")
                    if c in numeric_cols
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"mx_{c}")
                    if c in numeric_cols
                    else F.lit(None).cast("double")
                ).alias("max_num"),
            )
            for c in cols
        ]
    )
    return a.select(F.explode(rows).alias("p")).select("p.*")


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust (median/MAD) outlier census per group — the
    heavy-tail-safe sibling of zscore_outliers (a single wild value
    shifts a mean but not a median): med = median(x), mad =
    median(|x - med|), outlier iff |x - med| > k * mad. Output
    (group, med, mad, n, n_outliers).

    Exactness: Spark's `percentile(0.5)` and DuckDB's quantile_cont
    interpolate identically on sorted doubles (bitwise, repo-probed),
    |x - med| and the k*mad threshold are fixed-order double ops, so
    the twin replays the census exactly — no rounding grid.

    Scale contract: exact medians buffer each group's values (two
    grouped percentile passes + one broadcast join back); at 100 TB
    swap approx_percentile (t-digest) into the same shape — this form
    is the oracle-able sibling.
    """
    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med")
    )
    j = df.join(med, group_col)
    dev = F.abs(F.col(value_col) - F.col("med"))
    madf = j.groupBy(group_col, "med").agg(
        F.percentile(dev, F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    j2 = df.join(madf, group_col)
    return (
        j2.groupBy(group_col, "med", "mad", "n")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col(value_col) - F.col("med"))
                    > F.lit(k) * F.col("mad"),
                    1,
                )
            ).alias("n_outliers")
        )
        .select(group_col, "med", "mad", "n", "n_outliers")
    )


T0_2024_US = 1704067200000000  # 2024-01-01T00:00:00Z in epoch micros


def linear_trend(
    events: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    t0_us: int = T0_2024_US,
    t_unit_us: float = 60e6,
    v_unit: float = 100.0,
) -> DataFrame:
    """Per-group OLS trend line of value over time (drift/decay
    detection per user/host/shard). Output per group: the five exact
    integer sufficient statistics (n, sx, sy, sxx, sxy) plus slope
    (value-units per time-unit) and intercept; slope NULL when every
    observation shares one timestamp bucket.

    Exactness contract: x = floor((micros - t0) / t_unit_us) and
    y = floor(value * v_unit + 0.5) are BIGINTs (floor-on-the-same-
    double is the portable quantizer), so all five sums are exact
    integer aggregations — order-independent, no rounding grid. The
    closing slope/intercept arithmetic is fixed-order IEEE on doubles
    cast from those integers, identical in the SQL twin.

    Scale shape: one projection + one hash aggregate with map-side
    partials keyed on the group — no window, no join, no shuffle
    beyond the single agg exchange.
    """
    m = F.unix_micros(F.col(ts_col).cast("timestamp"))
    x = F.floor((m - F.lit(t0_us)).cast("double") / F.lit(float(t_unit_us)))
    y = F.floor(F.col(value_col) * F.lit(float(v_unit)) + F.lit(0.5))
    g = events.select(
        F.col(group_col).alias("grp"), x.alias("x"), y.alias("y")
    ).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - sxd * sxd
    slope = (nd * F.col("sxy").cast("double") - sxd * syd) / den
    return g.select(
        "grp",
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.when(den != 0, slope).alias("slope"),
        F.when(den != 0, (syd - slope * sxd) / nd).alias("intercept"),
    )


def skyline2d(
    df: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    n_buckets: int = 256,
) -> DataFrame:
    """2D skyline (Pareto frontier): rows not dominated under
    (minimize x, maximize y). Row a dominates b iff a.x <= b.x and
    a.y >= b.y with at least one strict; ties on BOTH coordinates keep
    both rows. Output: the input columns of the surviving rows.

    Scale shape (the reason this is not a window over a global sort —
    an orderBy window with no partition collapses to ONE task): x is
    range-bucketed on MEASURED min/max (statistics-first rule), then
    1. per-bucket max y -> a bucket census (tiny),
    2. prefix max over strictly-lower buckets via a window over the
       CENSUS ONLY (<= n_buckets rows in one task — bounded by
       construction),
    3. within a bucket, prefix max over strictly-smaller DISTINCT x
       (groupBy (bucket, x) then a per-bucket ROWS window over
       distinct-x rows — parallel across buckets),
    4. equal-x domination via the per-x max.
    floor-bucketing is monotone, so bucket(b') < bucket(b) implies
    x' < x regardless of float fuzz — bucket boundaries cannot change
    the answer, only the pruning, which is why the oracle can be a
    plain brute-force NOT EXISTS.
    """
    t = df.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    lo, hi = t.agg(F.min("x"), F.max("x")).first()
    if lo is None:
        return t
    width = (hi - lo) / n_buckets or 1.0
    b = F.least(
        F.greatest(F.floor((F.col("x") - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_buckets - 1),
    )
    tb = t.select("id", "x", "y", b.alias("b")).persist()

    # (1)+(2): census -> prefix max over lower buckets (census-sized)
    from pyspark.sql import Window

    census = tb.groupBy("b").agg(F.max("y").alias("bmax"))
    w_pref = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    pref = census.select("b", F.max("bmax").over(w_pref).alias("cross_max"))

    # (3): distinct-x rows per bucket, prefix max over smaller x
    dx = tb.groupBy("b", "x").agg(F.max("y").alias("xmax"))
    w_in = (
        Window.partitionBy("b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dxp = dx.select(
        "b", "x", F.col("xmax").alias("eq_max"), F.max("xmax").over(w_in).alias("lt_max")
    )

    dominated = (
        (F.col("cross_max").isNotNull() & (F.col("cross_max") >= F.col("y")))
        | (F.col("lt_max").isNotNull() & (F.col("lt_max") >= F.col("y")))
        | (F.col("eq_max") > F.col("y"))
    )
    out = (
        tb.join(F.broadcast(pref), "b", "left")
        .join(dxp, ["b", "x"])
        .where(~dominated)
        .select("id", "x", "y")
    )
    return hold(out, tb)


def ln_u(col) -> F.Column:
    """The engine's micro-nat quantizer: round(ln(x) * 1e6) as BIGINT.

    Every information measure (surprisal, PMI, entropy, KL, PSI, DSIR)
    takes ln once per distinct integer count through this and adds the
    results as exact BIGINTs — order-independent, so each DuckDB
    oracle replays it with CAST(round(ln(x) * 1e6) AS BIGINT)."""
    return F.round(F.log(col.cast("double")) * F.lit(1e6)).cast("long")


def pmi_census(pairs: DataFrame, min_count: int | None = None) -> DataFrame:
    """(a, b, n_ab, n_a, n_b, pmi_u) over the (a, b) rows of `pairs`,
    one row per pair (seen at least `min_count` times when given):
    n_a / n_b are the a- and b-marginals over ALL pairs, N their
    total, and pmi_u = ln_u(n_ab) + ln_u(N) - ln_u(n_a) - ln_u(n_b) in
    integer micro-nats.

    Scale shape: ONE scan — the (a, b) contingency aggregate, persisted
    and held by the result (free it with `release_cached`); the
    marginals and the total are rollups of that census, broadcast back
    onto it. No second pass over the data."""
    nab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab")).persist()
    na = nab.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    nb = nab.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = nab.agg(ln_u(F.sum("n_ab")).alias("ln_n_u"))
    kept = nab if min_count is None else nab.where(F.col("n_ab") >= min_count)
    out = (
        kept.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            "n_a",
            "n_b",
            (
                ln_u(F.col("n_ab")) + F.col("ln_n_u")
                - ln_u(F.col("n_a")) - ln_u(F.col("n_b"))
            ).alias("pmi_u"),
        )
    )
    return hold(out, nab)


def entropy_census(df: DataFrame, keys: list, cat: str) -> DataFrame:
    """Per-key census of the categorical column `cat`: (*keys, n,
    n_distinct, s) with n the rows, n_distinct the distinct categories
    and s = sum_c n_c * ln_u(n_c) over the category counts — exact
    BIGINT sums. The entropy in nats is (n * ln_u(n) - s) / n / 1e6;
    each op closes it in the division order its oracle replays.

    Scale shape: one (*keys, cat) hash aggregate with map-side
    partials, then the key rollup — two narrow-key exchanges, no
    window, no join."""
    census = df.groupBy(*keys, cat).agg(F.count(F.lit(1)).alias("n_c"))
    return census.groupBy(*keys).agg(
        F.sum("n_c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("n_c") * ln_u(F.col("n_c"))).cast("long").alias("s"),
    )


def mutual_info(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Mutual information census between two discrete columns (the
    dependence screen between, e.g., event type and hour-of-day).
    Output one row per observed (a, b) cell: (a, b, n_ab, n_a, n_b,
    mi_u) where mi_u = n_ab * pmi_u (`pmi_census`) in integer
    MICRO-NATS; MI in nats = sum(mi_u) / (N * 1e6). Every product and
    sum is exact integer arithmetic — order-independent, replayed
    exactly by the SQL twin."""
    pmi = pmi_census(df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")))
    out = pmi.select(
        "a", "b", "n_ab", "n_a", "n_b",
        (F.col("n_ab") * F.col("pmi_u")).alias("mi_u"),
    )
    return hold(out, pmi)


def acf_lag(
    events: DataFrame,
    k: int = 1,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    v_unit: float = 100.0,
) -> DataFrame:
    """Per-group lag-k sample autocorrelation of the value series
    ordered by time (burstiness / periodicity detection per user,
    host, or shard). Output per group: the exact integer sufficient
    statistics (n, s = sum y, q = sum y^2, p = sum y_t * y_{t+k},
    sa = sum over the first n-k values, sb = sum over the last n-k)
    plus acf = sum((y_t - ybar)(y_{t+k} - ybar)) / sum((y_t - ybar)^2)
    with ybar the FULL-series mean (the standard ACF estimator);
    acf NULL when n <= k or the series is constant (zero variance).

    Exactness contract: y = floor(value * v_unit + 0.5) is BIGINT
    (floor-on-the-same-double, the portable quantizer), so every sum
    is an exact integer aggregate — order-independent, no rounding
    grid. The closing arithmetic is fixed-order IEEE on doubles cast
    from those integers, replayed bitwise by the SQL twin:
      ybar = s/n
      num  = p - ybar*(sa+sb) + (n-k)*(ybar*ybar)
      den  = q - s*ybar
    (den is n*var; both engines evaluate the identical expression
    tree left-to-right).

    Scale shape: one window (lead over the group partition — a single
    exchange on the group key, no join) feeding one hash aggregate
    with map-side partials. (group, ts) is required unique; the lead
    order is (ts) alone so the plan stays sort-within-partition.
    """
    from pyspark.sql import Window

    y = F.floor(F.col(value_col) * F.lit(float(v_unit)) + F.lit(0.5))
    w = Window.partitionBy("grp").orderBy("ts_o")
    base = events.select(
        F.col(group_col).alias("grp"),
        F.col(ts_col).cast("timestamp").alias("ts_o"),
        y.alias("y"),
    ).withColumn("y_k", F.lead("y", k).over(w))
    has = F.col("y_k").isNotNull()
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
        F.sum(F.when(has, F.col("y") * F.col("y_k"))).alias("p"),
        F.sum(F.when(has, F.col("y"))).alias("sa"),
        F.sum(F.when(has, F.col("y_k"))).alias("sb"),
    )
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    ybar = sd / nd
    num = (
        F.col("p").cast("double")
        - ybar * (F.col("sa") + F.col("sb")).cast("double")
        + (nd - F.lit(float(k))) * (ybar * ybar)
    )
    den = F.col("q").cast("double") - sd * ybar
    return g.select(
        "grp",
        "n",
        "s",
        "q",
        F.coalesce(F.col("p"), F.lit(0)).cast("long").alias("p"),
        F.coalesce(F.col("sa"), F.lit(0)).cast("long").alias("sa"),
        F.coalesce(F.col("sb"), F.lit(0)).cast("long").alias("sb"),
        F.when((F.col("n") > k) & (den != 0), num / den).alias("acf"),
    )


def theil_sen(
    events: DataFrame,
    group_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    t0_us: int = T0_2024_US,
    t_unit_us: float = 60e6,
    v_unit: float = 100.0,
    max_group: int | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (y_j - y_i)/(x_j - x_i) over observation pairs with
    distinct time buckets — the outlier-immune sibling of
    linear_trend (one wild value cannot move it). Output (grp, n,
    n_pairs, ts_slope); groups whose observations all share one time
    bucket report n_pairs = 0 and NULL slope.

    Exactness: x/y ride the linear_trend floor quantizers (BIGINT),
    each slope is ONE division of exact integers, and the median is
    Spark `percentile` == DuckDB `quantile_cont` bitwise (identical
    linear interpolation on sorted doubles — no rounding grid).

    Scale shape: the pair generation is a per-group self-join —
    inherently O(n_g^2) pairs per group, the textbook estimator's
    true cost. With both caps None this is the exact/oracle form; at
    web scale a single hot group (1M observations at 100x is 1e12
    pairs in ONE join key) melts a task, so two guards exist:

    - `max_group`: groups above the cap are EXCLUDED from the pair
      join and reported as `skipped(result)` (grp, n) — the
      engine's no-silent-cap rule (same pattern as fuzzy_pairs). The group-size census is a window
      count over the join's own partition key: one exchange, no
      driver collect.
    - `sample_cap`: over-cap groups are deterministically subsampled
      to `sample_cap` observations (row_number over md5(grp|x|y) —
      reproducible across runs and engines, no RNG) and the SAME
      exact pair-median runs on the sample: O(cap^2) pairs per group
      bounds the hot key while every under-cap group returns the
      bitwise-identical exact estimate. `n` still reports the FULL
      group size so the subsample is visible, and `n_pairs` reports
      the sampled pair count. This is the documented scale path; the
      uncapped form stays the oracle sibling.
    """
    m = F.unix_micros(F.col(ts_col).cast("timestamp"))
    x = F.floor((m - F.lit(t0_us)).cast("double") / F.lit(float(t_unit_us)))
    y = F.floor(F.col(value_col) * F.lit(float(v_unit)) + F.lit(0.5))
    q = events.select(F.col(group_col).alias("grp"), x.alias("x"), y.alias("y"))
    ns = q.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    skipped = None
    if max_group is not None:
        from pyspark.sql import Window

        w_grp = Window.partitionBy("grp")
        sized = q.withColumn("gn", F.count(F.lit(1)).over(w_grp))
        skipped = (
            sized.filter(F.col("gn") > max_group)
            .select("grp", F.col("gn").alias("n"))
            .distinct()
        )
        q = sized.filter(F.col("gn") <= max_group).drop("gn")
    if sample_cap is not None:
        from pyspark.sql import Window

        # deterministic per-group subsample: md5 order is stable across
        # runs/engines; (x, y) tiebreak pins duplicate-hash rows
        w_s = Window.partitionBy("grp").orderBy(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("grp").cast("string"),
                    F.col("x").cast("string"),
                    F.col("y").cast("string"),
                )
            ),
            "x",
            "y",
        )
        q = (
            q.withColumn("rn", F.row_number().over(w_s))
            .filter(F.col("rn") <= sample_cap)
            .drop("rn")
        )
    a = q.select("grp", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = q.select("grp", F.col("x").alias("xb"), F.col("y").alias("yb"))
    slope = (F.col("yb") - F.col("ya")).cast("double") / (
        F.col("xb") - F.col("xa")
    ).cast("double")
    pairs = (
        a.join(b, "grp")
        .where(F.col("xa") < F.col("xb"))
        .select("grp", slope.alias("slope"))
    )
    meds = pairs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("slope"), F.lit(0.5)).alias("ts_slope"),
    )
    if max_group is not None:
        # over-cap groups are absent from the pair side by design;
        # drop them from the output too (they are reported loudly on
        # skipped(out), not returned as misleading NULL slopes)
        ns = ns.filter(F.col("n") <= max_group)
    out = ns.join(meds, "grp", "left").select(
        "grp",
        "n",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        "ts_slope",
    )
    return hold(out, skipped=skipped)


# first-significant-digit Benford probabilities, precomputed in Python
# so BOTH engines consume identical double literals (no cross-engine
# log10 — ln differs by ~1 ulp between libms)
import math as _math

BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    lo_exp: int = -2,
    hi_exp: int = 3,
) -> DataFrame:
    """Per-group first-significant-digit census with the chi-square
    statistic against Benford's law — the fraud / synthetic-data /
    unit-mixing screen on numeric columns. Output (grp, n, n1..n9,
    chi2); rows with value <= 0 or outside [10^lo_exp, 10^hi_exp) are
    excluded (and counted in n_oob).

    Exactness: the first digit comes from a FIXED CASE ladder of
    scale comparisons (no log10 on data — one libm ulp would flip
    boundary digits across engines); expected counts use Benford
    probabilities precomputed in Python and inlined as identical
    literals in both engines; chi2 = sum_d (obs - n*p_d)^2 / (n*p_d)
    evaluated digit order 1..9 — fixed-order IEEE on exact integer
    observations, bitwise reproducible.

    Scale shape: one projection + one hash aggregate (9 conditional
    counts as map-side partials) — no window, no join, no shuffle
    beyond the single agg exchange.
    """
    v = F.col(value_col).cast("double")
    ladder = None
    # descending scales: v in [10^k, 10^(k+1)) -> floor(v / 10^k)
    expr = None
    for k in range(hi_exp, lo_exp - 1, -1):
        scale = 10.0 ** k
        branch_cond = v >= F.lit(scale)
        branch_val = F.floor(v / F.lit(scale))
        expr = (
            F.when(branch_cond, branch_val)
            if expr is None
            else expr.when(branch_cond, branch_val)
        )
    d = expr.otherwise(F.lit(None)).cast("int")
    g = (
        df.select(F.col(group_col).alias("grp"), d.alias("d"))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("d").isNotNull(), 1).otherwise(0)).alias("n"),
            F.sum(F.when(F.col("d").isNull(), 1).otherwise(0)).alias("n_oob"),
            *[
                F.sum(F.when(F.col("d") == k, 1).otherwise(0)).alias(f"n{k}")
                for k in range(1, 10)
            ],
        )
    )
    nd = F.col("n").cast("double")
    chi2 = None
    for k in range(1, 10):
        e = nd * F.lit(BENFORD_P[k - 1])
        t = (F.col(f"n{k}").cast("double") - e) * (
            F.col(f"n{k}").cast("double") - e
        ) / e
        chi2 = t if chi2 is None else chi2 + t
    return g.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("n_oob").cast("long").alias("n_oob"),
        *[F.col(f"n{k}").cast("long").alias(f"n{k}") for k in range(1, 10)],
        F.when(F.col("n") > 0, chi2).alias("chi2"),
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    unit: float = 1e6,
) -> DataFrame:
    """Per-group winsorized (clamped-tail) mean — the outlier-robust
    location estimate that feeds quality dashboards without letting a
    single corrupt value move the aggregate.

    Two passes, both exchange-light: (1) exact interpolated
    percentiles per group (Spark `percentile` == DuckDB quantile_cont
    bitwise, house parity note); (2) broadcast the tiny bounds table
    back onto the scan, clamp, and aggregate. The clamped values are
    quantized floor(x * unit) -> BIGINT before summing (floor-on-double
    is the portable quantizer; double->DECIMAL rounding is NOT
    portable for percentile-valued doubles), so the sum is
    order-independent and the mean is integer-derived IEEE.

    Output (group, lo, hi, n, wmean). Scale contract: the exact
    percentile buffers each group's values; at 100 TB swap in
    approx_percentile for the bounds — pass 2 is unchanged.
    """
    b = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(float(p_lo))).alias("lo"),
        F.percentile(value_col, F.lit(float(p_hi))).alias("hi"),
    )
    j = df.join(F.broadcast(b), group_col)
    clamped = F.least(
        F.greatest(F.col(value_col), F.col("lo")), F.col("hi")
    )
    units = F.floor(clamped * F.lit(float(unit))).cast("long")
    n = F.count(F.lit(1))
    return j.groupBy(group_col).agg(
        F.first("lo").alias("lo"),
        F.first("hi").alias("hi"),
        n.cast("long").alias("n"),
        (
            F.sum(units).cast("double")
            / n.cast("double")
            / F.lit(float(unit))
        ).alias("wmean"),
    )


def ks_two_sample(
    df: DataFrame, value_col: str, flag_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the rows
    where `flag_col` is true (group A) and the rest (group B) — the
    distribution-drift gate a corpus pipeline runs between crawl
    snapshots or data sources before mixing them. One output row:
    (n_a, n_b, d_cross, ks_d) where
    d_cross = max over values of |cum_a * n_b - cum_b * n_a| (exact
    BIGINT cross-multiplied CDF gap) and ks_d = d_cross / (n_a*n_b) —
    ONE division of exact integers, bitwise-identical in any IEEE
    engine, behind a 6 dp round.

    Scale shape (100 TB): one hash aggregate by VALUE with map-side
    partials (the exchange carries one row per distinct value); the
    cumulative sums then run over the value census, whose size is
    bounded by the VALUE DOMAIN (here integer document lengths), not
    the row count — the histogram_quantile / peak_concurrency
    bounded-census argument. The final max is a one-row aggregate.
    No sort of the raw data anywhere."""
    from pyspark.sql import Window as W

    per = df.select(
        F.col(value_col).alias("v"),
        F.when(F.col(flag_col), F.lit(1)).otherwise(F.lit(0)).alias("ga"),
    )
    census = per.groupBy("v").agg(
        F.sum("ga").alias("ca"),
        F.sum(F.lit(1) - F.col("ga")).alias("cb"),
    )
    # the window runs over the bounded value census (one row per
    # distinct value) — a single ordered partition of domain-sized,
    # not data-sized, cardinality
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = census.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    return (
        cum.crossJoin(
            F.broadcast(
                per.agg(
                    F.sum("ga").alias("n_a"),
                    F.sum(F.lit(1) - F.col("ga")).alias("n_b"),
                )
            )
        )
        .select(
            "n_a",
            "n_b",
            F.abs(
                F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
            ).alias("gap"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("gap").alias("d_cross"))
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("d_cross").cast("long").alias("d_cross"),
            F.round(
                F.col("d_cross").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("ks_d"),
        )
    )


def skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """One-row shuffle-key concentration probe — the diagnostic to run
    BEFORE a big join or aggregation on `key_col` decides its strategy
    (salt? broadcast? AQE skew split?): (n_rows, n_keys, max_count,
    max_key, sum_sq, hhi) where hhi is the Herfindahl concentration
    index sum((c_i/N)^2) == sum_sq / N^2 — ONE division of exact
    integers (exact while N < ~3e9; past that the per-key counts
    themselves need a sketch). max_key is the smallest key among those
    at max_count (deterministic tie-break via a struct min over
    (-count, key)).

    Scale shape: one hash aggregate by key with map-side partials,
    then a one-row rollup of the key census. Nothing else shuffles."""
    counts = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_count"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("k").alias("k")))
        .getField("k")
        .alias("max_key"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    ).select(
        "n_rows",
        "n_keys",
        "max_count",
        "max_key",
        "sum_sq",
        (
            F.col("sum_sq").cast("double")
            / (F.col("n_rows") * F.col("n_rows")).cast("double")
        ).alias("hhi"),
    )


# Poisson(1) CDF thresholds in exact ppm units: P(W<=w) for w=0..3,
# W~Poisson(1); a uniform ppm draw below threshold[w] means weight<=w.
# Above the last threshold the weight caps at 4 (P(W>=5) ~ 0.37%).
BOOT_PPM = (367879, 735759, 919699, 981012)


def poisson_bootstrap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_reps: int = 40,
    k_trim: int = 1,
    unit: float = 1e6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One-pass Poisson bootstrap -> (group, n, mean, boot_lo,
    boot_hi): confidence bounds for a per-group mean computed the way
    a 100-TB engine must -- each row draws a DETERMINISTIC Poisson(1)
    weight per replicate from its own hash (the classical large-scale
    'Poisson bootstrap': resampling-with-replacement is unimplementable
    across a cluster, but Binomial(n, 1/n) -> Poisson(1) as n grows,
    and Poisson draws are per-row independent), so all n_reps
    replicates accumulate in ONE aggregation pass with map-side
    partials -- no row fan-out, no explode, no second scan, no
    driver-side randomness.

    boot_lo/boot_hi are the (k_trim+1)-th smallest / largest replicate
    means (defaults: 40 reps, trim 1 -> the central 95%). Exactness:
    values quantize floor(x * unit) -> BIGINT before any sum; weights
    are exact-integer CASE cuts on ppm hash draws; each replicate mean
    is two correctly-rounded double ops behind a 6 dp round; the order
    statistics are an array_sort over those rounded doubles. The
    DuckDB twin replays every piece.

    Scale shape (100 TB): ONE groupBy(group) with 2*n_reps+2 aggregate
    columns (sum w_b*q, sum w_b) -- group-key-sized exchange, all
    codegen; the replicate arrays are built per GROUP row, so sorting
    cost is n_groups * B log B, nothing at data scale.
    """
    from cadastre_pg_spark.operators.corpus import ppm_draw

    if not (0 <= 2 * k_trim < n_reps):
        raise ValueError("need 0 <= 2*k_trim < n_reps")
    q = F.floor(F.col(value_col).cast("double") * F.lit(float(unit))).cast(
        "long"
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("sq"),
    ]
    for b in range(n_reps):
        u = ppm_draw(F.col(id_col), f"b{b}:", hash_fn)
        w = (
            F.when(u < F.lit(BOOT_PPM[0]), F.lit(0))
            .when(u < F.lit(BOOT_PPM[1]), F.lit(1))
            .when(u < F.lit(BOOT_PPM[2]), F.lit(2))
            .when(u < F.lit(BOOT_PPM[3]), F.lit(3))
            .otherwise(F.lit(4))
            .cast("long")
        )
        aggs.append(F.sum(w * q).cast("long").alias(f"sxw{b}"))
        aggs.append(F.sum(w).cast("long").alias(f"sw{b}"))
    per = df.groupBy(F.col(group_col).alias("grp")).agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                F.when(
                    F.col(f"sw{b}") > 0,
                    F.round(
                        F.col(f"sxw{b}").cast("double")
                        / F.col(f"sw{b}").cast("double")
                        / F.lit(float(unit)),
                        6,
                    ),
                ).otherwise(F.lit(0.0))
                for b in range(n_reps)
            ]
        )
    )
    return per.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(
            F.col("sq").cast("double")
            / F.col("n").cast("double")
            / F.lit(float(unit)),
            6,
        ).alias("mean"),
        F.element_at(means, k_trim + 1).alias("boot_lo"),
        F.element_at(means, n_reps - k_trim).alias("boot_hi"),
    )


def ab_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    unit_col: str,
    salt: str = "ab:",
    unit: float = 1e4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hash-armed A/B test -> (group, n_a, n_b, mean_a, mean_b,
    diff, z): assign each experiment UNIT (user, not event -- the
    assignment column is the caller's choice) to arm A/B by a salted
    hash parity, then per group compute the two-sample z statistic of
    the value mean difference under unequal variances (Welch form
    without the t correction -- at corpus row counts z is the usable
    statistic).

    Exactness: values quantize floor(x * unit) -> BIGINT; first and
    second moments sum through DECIMAL(38,0) casts (exact and
    order-independent at any scale -- a BIGINT sum of squares would
    overflow near 1e12 rows); the closing mean/variance/z chain is a
    fixed order of correctly-rounded double ops behind 6 dp rounds.
    Variance uses the unbiased n-1 form; arms with fewer than 2 rows
    or zero pooled variance yield z = 0.0 (defined, portable).

    Scale shape (100 TB): one groupBy(group) with conditional
    aggregates (map-side partials, group-key-sized exchange), no join,
    no second scan. The arm hash is JVM codegen per row.
    """
    from cadastre_pg_spark.operators.corpus import _hash32

    q = F.floor(F.col(value_col).cast("double") * F.lit(float(unit))).cast(
        "long"
    )
    arm_a = (
        F.pmod(_hash32(F.col(unit_col), salt, hash_fn), F.lit(2)) == 0
    )

    def _sum(cond, expr, name):
        return (
            F.sum(F.when(cond, expr).otherwise(F.lit(0).cast("long")).cast(
                "decimal(38,0)"
            ))
            .cast("double")
            .alias(name)
        )

    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.when(arm_a, 1)).cast("long").alias("n_a"),
        F.count(F.when(~arm_a, 1)).cast("long").alias("n_b"),
        _sum(arm_a, q, "s_a"),
        _sum(~arm_a, q, "s_b"),
        _sum(arm_a, q * q, "ss_a"),
        _sum(~arm_a, q * q, "ss_b"),
    )
    u2 = F.lit(float(unit)) * F.lit(float(unit))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # ANSI mode: x/0 is an ERROR, not inf -- every division is gated
    # on its arm having enough rows (empty arm -> mean/var 0.0)
    mean_a = F.when(
        F.col("n_a") > 0, F.col("s_a") / na / F.lit(float(unit))
    ).otherwise(F.lit(0.0))
    mean_b = F.when(
        F.col("n_b") > 0, F.col("s_b") / nb / F.lit(float(unit))
    ).otherwise(F.lit(0.0))
    var_a = F.when(
        F.col("n_a") >= 2,
        (F.col("ss_a") - F.col("s_a") * F.col("s_a") / na)
        / (na - F.lit(1.0))
        / u2,
    ).otherwise(F.lit(0.0))
    var_b = F.when(
        F.col("n_b") >= 2,
        (F.col("ss_b") - F.col("s_b") * F.col("s_b") / nb)
        / (nb - F.lit(1.0))
        / u2,
    ).otherwise(F.lit(0.0))
    se2 = var_a / na + var_b / nb
    z = F.when(
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0),
        (mean_a - mean_b) / F.sqrt(se2),
    ).otherwise(F.lit(0.0))
    return per.select(
        F.col("grp").alias(group_col),
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_a - mean_b, 6).alias("diff"),
        F.round(z, 6).alias("z"),
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation -> (group, n, corr),
    corr rounded to 6 decimals (NULL where either side is constant).

    Exactness: Pearson is invariant to affine maps of its inputs, so
    instead of fractional average ranks the kernel uses the BIGINT
    doubled rank  rank2 = rank_asc + rank_desc_mirrored = i + j  for a
    tie block spanning sorted positions [i..j] (whose average rank is
    (i+j)/2).  rank2 = rank_asc - rank_desc + n_g + 1 needs only
    windows partitioned by the GROUP key: one exchange, four sorts,
    no (group, value) repartition for tie counting.  The integer
    ranks then reuse group_corr's DECIMAL moment algebra, so the
    whole statistic is order-independent and engine-identical.

    Scale shape: exact ranks require a per-group sort — one exchange
    on the group key, window sorts inside each partition.  A group
    must fit a task's spill budget (ranks are 2 longs/row); at 100 TB
    with few giant groups, pre-bucket values (ntile or fixed grids)
    for an approximate Spearman instead.
    """
    from pyspark.sql import Window

    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    n_g = F.count(F.lit(1)).over(Window.partitionBy(group_col))

    def rank2(c: str):
        asc = F.rank().over(
            Window.partitionBy(group_col).orderBy(F.col(c).asc())
        )
        desc = F.rank().over(
            Window.partitionBy(group_col).orderBy(F.col(c).desc())
        )
        return (asc - desc + n_g + F.lit(1)).cast("long")

    ranked = base.select(
        F.col(group_col),
        rank2(x_col).alias("rx2"),
        rank2(y_col).alias("ry2"),
    )
    return group_corr(ranked, group_col, "rx2", "ry2")


def classifier_eval(
    df: DataFrame,
    score_col: str,
    gold_col: str,
    threshold: float = 0.0,
    chunk: float = 1.0,
) -> DataFrame:
    """One-row evaluation of a scored binary classifier against gold
    labels — the metric stage that closes the quality-classifier loop
    (textanalysis.linear_score trains offline, scores the corpus,
    and THIS op tells you whether to trust the filter): confusion
    counts at `threshold`, precision/recall/F1 from single exact
    integer divisions (f1 = 2*tp / (tp + fp + P) — no float compound),
    and tie-corrected ROC AUC via the Mann-Whitney pair count
    AUC = (2*concordant + ties) / (2 * P * N), all BIGINT-exact until
    one final rounded division each.

    Scale shape (100 TB): NEVER ranks the corpus — rows collapse to a
    per-distinct-score census first (map-side partial agg; the census
    is bounded by the score grid, e.g. 6-dp-rounded scores), and the
    cumulative negatives-below count uses the two-level scan of
    concurrency_profile: per-chunk subtotals prefix-summed on the
    DRIVER (one row per `chunk` of score space — scale-free), then a
    window partitioned BY CHUNK — no single-partition sort anywhere.
    Chunking is lossless; the DuckDB twin replays the plain
    single-window formulation."""
    from pyspark.sql import Window

    census = (
        df.select(
            F.col(score_col).alias("score"),
            F.col(gold_col).cast("boolean").alias("gold"),
        )
        .groupBy("score")
        .agg(
            F.sum(F.when(F.col("gold"), 1).otherwise(0))
            .cast("long")
            .alias("np"),
            F.sum(F.when(F.col("gold"), 0).otherwise(1))
            .cast("long")
            .alias("nn"),
        )
        .withColumn("chunk", F.floor(F.col("score") / F.lit(float(chunk))))
        .persist()
    )
    totals = (
        census.groupBy("chunk")
        .agg(F.sum("nn").alias("cn"))
        .orderBy("chunk")
        .collect()
    )
    pre, rows = 0, []
    for r in totals:
        rows.append((r.chunk, pre))
        pre += r.cn
    spark = df.sparkSession
    pdf = spark.createDataFrame(rows, "chunk long, pre_n long")
    w = (
        Window.partitionBy("chunk")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = census.join(F.broadcast(pdf), "chunk").withColumn(
        "below", F.sum("nn").over(w) + F.col("pre_n") - F.col("nn")
    )
    thr = F.lit(float(threshold))
    agg = cum.agg(
        F.coalesce(F.sum("np"), F.lit(0)).cast("long").alias("P"),
        F.coalesce(F.sum("nn"), F.lit(0)).cast("long").alias("N"),
        F.coalesce(F.sum(F.col("np") * F.col("below")), F.lit(0))
        .cast("long")
        .alias("C"),
        F.coalesce(F.sum(F.col("np") * F.col("nn")), F.lit(0))
        .cast("long")
        .alias("T"),
        F.coalesce(
            F.sum(F.when(F.col("score") > thr, F.col("np")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("score") > thr, F.col("nn")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("fp"),
    )
    out = agg.select(
        (F.col("P") + F.col("N")).alias("n"),
        F.col("P").alias("n_pos"),
        F.col("N").alias("n_neg"),
        "tp",
        "fp",
        (F.col("P") - F.col("tp")).alias("fn"),
        (F.col("N") - F.col("fp")).alias("tn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fp")).cast("double"),
                6,
            ),
        ).alias("prec"),
        F.when(
            F.col("P") > 0,
            F.round(F.col("tp").cast("double") / F.col("P").cast("double"), 6),
        ).alias("recall"),
        F.when(
            F.col("tp") + F.col("fp") + F.col("P") > 0,
            F.round(
                (F.lit(2) * F.col("tp")).cast("double")
                / (F.col("tp") + F.col("fp") + F.col("P")).cast("double"),
                6,
            ),
        ).alias("f1"),
        F.when(
            (F.col("P") > 0) & (F.col("N") > 0),
            F.round(
                (F.lit(2) * F.col("C") + F.col("T")).cast("double")
                / (F.lit(2) * F.col("P") * F.col("N")).cast("double"),
                6,
            ),
        ).alias("auc"),
    )
    return hold(out, census)


def calibration_ece(
    df: DataFrame,
    score_col: str,
    gold_col: str,
    n_bins: int = 10,
    unit: int = 10**9,
) -> DataFrame:
    """Reliability diagram + expected calibration error for a
    probability-scored binary classifier — the companion of
    classifier_eval (AUC says the RANKING is good; ECE says the
    SCORES mean what they claim, which is what a quality-filter
    threshold actually consumes). Scores must live in [0, 1].

    One row per non-empty equal-width bin: (bin, n, mean_score,
    frac_pos, gap, ece) — `gap` the bin's signed calibration error,
    `ece` the corpus-level Sum n_b/N * |gap_b| repeated on every row
    (the heaps_law convention for global fits).

    Numeric rule: scores enter integer space ONCE via the portable
    quantizer floor(score * unit) -> BIGINT (floor-on-the-same-double
    replays bitwise cross-engine; quantization error <= 1/unit, far
    below the 6 dp output grid), so every aggregate is an exact
    integer sum in any order and each output figure is one rounded
    IEEE division. Bin assignment floor(score * n_bins) is the same
    double op on both engines. At extreme corpus sizes (> ~9e9 rows
    per bin) drop `unit` so tp * unit stays inside BIGINT.

    Scale shape (100 TB): one map-side-partial groupBy onto <= n_bins
    keys, then a broadcast of the one-row total back onto the bins —
    the corpus is read once, nothing wide ever shuffles."""
    s = F.col(score_col).cast("double")
    binned = df.select(
        F.least(
            F.lit(n_bins - 1), F.greatest(F.lit(0), F.floor(s * F.lit(float(n_bins))))
        )
        .cast("int")
        .alias("bin"),
        F.floor(s * F.lit(float(unit))).cast("long").alias("s_u"),
        F.col(gold_col).cast("boolean").alias("gold"),
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("gold"), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum("s_u").cast("long").alias("su"),
    )
    gap_num = F.col("tp") * F.lit(int(unit)) - F.col("su")
    tot = bins.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.abs(gap_num)).cast("long").alias("ece_num"),
    )
    den = F.col("n").cast("double") * F.lit(float(unit))
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        F.round(F.col("su").cast("double") / den, 6).alias("mean_score"),
        F.round(F.col("tp").cast("double") / F.col("n").cast("double"), 6).alias(
            "frac_pos"
        ),
        F.round(gap_num.cast("double") / den, 6).alias("gap"),
        F.round(
            F.col("ece_num").cast("double")
            / (F.col("n_tot").cast("double") * F.lit(float(unit))),
            6,
        ).alias("ece"),
    )


def cohen_kappa(df: DataFrame, gold_col: str, pred_col: str) -> DataFrame:
    """Chance-corrected agreement between two labelers — the scalar
    that tells you whether a cheap heuristic (or a second annotator)
    actually AGREES with gold beyond what the class mix hands out for
    free (lang_confusion shows WHERE they disagree; kappa says whether
    the agreement is real). One row: (n, po, pe, kappa).

    kappa = (po - pe) / (1 - pe) computed entirely in exact integers:
    po_num = Sum diagonal counts, pe_num = Sum_c row_c * col_c, then
    kappa = (po_num*N - pe_num) / (N*N - pe_num) — one rounded IEEE
    division, NULL when pe = 1 (a single-class degenerate table, where
    kappa is undefined). N*N needs BIGINT headroom: fine to ~3e9 rows,
    beyond that lift into DECIMAL.

    Scale shape (100 TB): the corpus collapses to the (gold, pred)
    census in one map-side-partial groupBy (#classes^2 cells); the
    marginal products and both aggregates run over that tiny table."""
    cells = (
        df.select(
            F.col(gold_col).cast("string").alias("gold"),
            F.col(pred_col).cast("string").alias("pred"),
        )
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    rows = cells.groupBy("gold").agg(F.sum("n").cast("long").alias("rn"))
    cols = cells.groupBy("pred").agg(F.sum("n").cast("long").alias("cn"))
    pe = rows.join(cols, rows.gold == cols.pred).agg(
        F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0))
        .cast("long")
        .alias("pe_num")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("N"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("po_num"),
    )
    nn = F.col("N") * F.col("N")
    out = tot.crossJoin(pe).select(
        F.col("N").alias("n"),
        F.when(
            F.col("N") > 0,
            F.round(F.col("po_num").cast("double") / F.col("N").cast("double"), 6),
        ).alias("po"),
        F.when(
            F.col("N") > 0,
            F.round(F.col("pe_num").cast("double") / nn.cast("double"), 6),
        ).alias("pe"),
        F.when(
            nn - F.col("pe_num") > 0,
            F.round(
                (F.col("po_num") * F.col("N") - F.col("pe_num")).cast("double")
                / (nn - F.col("pe_num")).cast("double"),
                6,
            ),
        ).alias("kappa"),
    )
    return hold(out, cells)


# psi_drift's per-bin term quantum: floor(term * PSI_UNIT) -> BIGINT
PSI_UNIT = 10**9


def psi_drift(df: DataFrame, value_col: str, split_col: str, cuts) -> DataFrame:
    """Population Stability Index between the split_col=True baseline
    and the False comparison population — the BINNED drift metric that
    pairs with ks_two_sample's continuous statistic (PSI is what a
    monitoring pipeline alerts on: < 0.1 stable, > 0.25 shifted). One
    row per fixed explicit-cut bin (the curriculum_order pattern — no
    percentile barrier): (bin, n_a, n_b, p_a, p_b, psi), the global
    PSI repeated on every row (the heaps_law convention).

    PSI = Sum_b (p_a - p_b) * ln(p_a / p_b) with add-one smoothing
    p = (n + 1) / (N + n_bins), so empty bins are defined and every
    count is a positive integer. Numeric rule: the log-ratio is exact
    integer micro-nats (ln_u(na+1) + ln_u(NB+B) - ln_u(NA+B) -
    ln_u(nb+1) — ln only ever sees integers), each bin's term is one
    identical-order double product quantized by the portable
    floor(term * PSI_UNIT), and the cross-bin sum is an exact BIGINT.

    Scale shape (100 TB): the corpus collapses onto n_bins keys in one
    map-side-partial groupBy; the literal bin table, the one-row
    totals and the one-row PSI all broadcast — nothing wide moves."""
    from functools import reduce

    n_bins = len(cuts) + 1
    spark = df.sparkSession
    b = reduce(
        lambda acc, c: acc
        + F.when(F.col(value_col) >= F.lit(float(c)), 1).otherwise(0),
        cuts,
        F.lit(0),
    )
    census = (
        df.select(b.cast("int").alias("bin"), F.col(split_col).alias("s"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("s"), 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(F.col("s"), 0).otherwise(1)).cast("long").alias("n_b"),
        )
    )
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    full = (
        bins.join(census, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        )
    )
    tot = full.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    wb = full.crossJoin(F.broadcast(tot))
    da = (F.col("ta") + F.lit(n_bins)).cast("long")
    db = (F.col("tb") + F.lit(n_bins)).cast("long")
    pa = (F.col("n_a") + F.lit(1)).cast("double") / da.cast("double")
    pb = (F.col("n_b") + F.lit(1)).cast("double") / db.cast("double")
    lnr_u = (
        ln_u(F.col("n_a") + F.lit(1))
        + ln_u(db)
        - ln_u(da)
        - ln_u(F.col("n_b") + F.lit(1))
    )
    term = (pa - pb) * (lnr_u.cast("double") / F.lit(1e6))
    binned = wb.select(
        "bin",
        "n_a",
        "n_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.floor(term * F.lit(float(PSI_UNIT))).cast("long").alias("term_u"),
    )
    psi = binned.agg(F.sum("term_u").cast("long").alias("su"))
    return binned.crossJoin(F.broadcast(psi)).select(
        "bin",
        "n_a",
        "n_b",
        "p_a",
        "p_b",
        F.round(F.col("su").cast("double") / F.lit(float(PSI_UNIT)), 6).alias(
            "psi"
        ),
    )


def gini_concentration(df: DataFrame, key_col: str) -> DataFrame:
    """One-row Lorenz/Gini inequality of the per-key contribution —
    the concentration scalar that pairs with skew_report's HHI (HHI
    answers "is ONE key hot?", Gini answers "how unequal is the whole
    distribution?" — the figure a corpus audit quotes for host/token
    concentration). Returns (n_keys, total, gini).

    Exact integer formulation on the ascending-sorted census
    (ties by key string — order-insensitive for the sum anyway):
    G = (2 * Sum r_i * x_i - (n + 1) * Sum x_i) / (n * Sum x_i),
    one rounded IEEE division over BIGINT-exact numerator/denominator.
    NULL when the census is empty or a single key (undefined).

    Scale shape (100 TB): the corpus collapses to the key census in
    one map-side-partial groupBy; the ranking window runs over the
    CENSUS (vocab-sized, like zipf_fit — never corpus rows). The
    BIGINT headroom bound is r_i * x_i <= n * N (~1e9 keys x 1e9 rows
    overflows; past that quantize counts first)."""
    from pyspark.sql import Window

    census = (
        df.select(F.col(key_col).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.orderBy(F.col("x").asc(), F.col("k").asc())
    ranked = census.select(
        F.row_number().over(w).cast("long").alias("r"), "x"
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("r") * F.col("x")).cast("long").alias("s1"),
    )
    num = F.lit(2) * F.col("s1") - (F.col("n_keys") + F.lit(1)) * F.col(
        "total"
    )
    den = F.col("n_keys") * F.col("total")
    return agg.select(
        "n_keys",
        "total",
        F.when(
            (F.col("n_keys") > 1) & (F.col("total") > 0),
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("gini"),
    )


def pr_thresholds(
    df: DataFrame,
    score_col: str,
    gold_col: str,
    thresholds,
) -> DataFrame:
    """Operating-point table for a scored binary classifier — the
    threshold-SELECTION companion of classifier_eval (one row per
    candidate cut): (thr, tp, fp, fn, tn, prec, recall, f1). AUC says
    the ranking works, ECE says the scores are honest, THIS says what
    you actually get at each cut a filter might deploy.

    Exact integers end-to-end: every threshold's (tp, fp) is one
    conditional sum in a SINGLE corpus pass (2|T|+2 agg columns — the
    Poisson-bootstrap one-pass idiom, never |T| scans), fn/tn derive
    from the (N, P) totals, each metric is one ANSI-guarded rounded
    division. Thresholds enter both engines as the same Python double
    literals, so `score > t` can never straddle an ulp.

    Scale shape (100 TB): one map-side-partial aggregate to a single
    row, then a literal explode to |T| rows — the corpus is read once
    and nothing shuffles but partials."""
    ths = [float(t) for t in thresholds]
    base = df.select(
        F.col(score_col).cast("double").alias("s"),
        F.col(gold_col).cast("boolean").alias("g"),
    )
    s, g = F.col("s"), F.col("g")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum(F.when(g, 1).otherwise(0)).cast("long").alias("pp"),
    ]
    for i, t in enumerate(ths):
        hit = s > F.lit(t)
        aggs.append(
            F.sum(F.when(hit & g, 1).otherwise(0)).cast("long").alias(f"tp{i}")
        )
        aggs.append(
            F.sum(F.when(hit & ~g, 1).otherwise(0))
            .cast("long")
            .alias(f"fp{i}")
        )
    one = base.agg(*aggs)
    rows = one.select(
        "nn",
        "pp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("thr"),
                        F.col(f"tp{i}").alias("tp"),
                        F.col(f"fp{i}").alias("fp"),
                    )
                    for i, t in enumerate(ths)
                ]
            )
        ).alias("r"),
    ).select("nn", "pp", "r.thr", "r.tp", "r.fp")
    fn = F.col("pp") - F.col("tp")
    tn = F.col("nn") - F.col("pp") - F.col("fp")
    return rows.select(
        "thr",
        "tp",
        "fp",
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fp")).cast("double"),
                6,
            ),
        ).alias("prec"),
        F.when(
            F.col("pp") > 0,
            F.round(F.col("tp").cast("double") / F.col("pp").cast("double"), 6),
        ).alias("recall"),
        F.when(
            F.col("tp") + F.col("fp") + F.col("pp") > 0,
            F.round(
                (F.lit(2) * F.col("tp")).cast("double")
                / (F.col("tp") + F.col("fp") + F.col("pp")).cast("double"),
                6,
            ),
        ).alias("f1"),
    )
