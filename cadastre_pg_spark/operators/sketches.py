"""Distinct-count sketching — HyperLogLog over Spark aggregates, built
so the ORACLE CAN REPLAY IT EXACTLY (Spark's approx_count_distinct is
HLL++ behind an opaque binary and can't be replayed; this operator IS
the same math as a register table the driver can check).

Why it replays bitwise everywhere except one ln():
- the 32-bit value hash is the repo's shared md5-prefix hash in oracle
  mode (xxhash64 as the scale default, like every hashed operator);
- registers are MAX(rho) per (group, bucket) — integer aggregation;
- rho comes from an integer bit-length CASE cascade, not log2();
- the indicator sum adds 2^-rho terms: every term is a multiple of
  2^-25 and the sum stays under 2^7 bits of integer part, so the
  double addition is EXACT (9+25 < 53 bits) and order-independent —
  no DECIMAL casts needed;
- only the linear-counting branch (m * ln(m/V)) touches a libm
  function; ln differs ~1ulp between JVM and DuckDB, so the estimate
  is rounded to 6 decimals (house policy for ln/exp paths).

Scale shape: one narrow aggregation (group, bucket) -> MAX, then a
per-group combine — both map-side partial; the value column never
shuffles raw (only its 32-bit hash does, inside the bucket/rho pair).
At 100 TB this is THE way to count distincts without a giant exact
distinct shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_hash32
from .held import hold


def _bitlen_col(v: Column, maxbits: int) -> Column:
    """Integer bit length via a CASE cascade — portable, no log2."""
    c = F.when(v >= F.lit(1 << (maxbits - 1)), F.lit(maxbits))
    for b in range(maxbits - 1, 0, -1):
        c = c.when(v >= F.lit(1 << (b - 1)), F.lit(b))
    return c.otherwise(F.lit(0))


def _bitlen_sql(v: str, maxbits: int) -> str:
    whens = " ".join(
        f"WHEN {v} >= {1 << (b - 1)} THEN {b}"
        for b in range(maxbits, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def hll_alpha_m2(p: int) -> float:
    m = 1 << p
    return (0.7213 / (1.0 + 1.079 / m)) * m * m


def hll_registers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(grp, b, r) register table: MAX(rho) per (group, bucket). The
    mergeable HLL state — unions across any grouping are a further
    MAX over the same table, never a rescan of the data."""
    m = 1 << p
    wbits = 32 - p
    h = shingle_hash32(F.col(value_col), hash_fn)
    bucket = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftrightunsigned(h, p)
    rho = F.lit(wbits) - _bitlen_col(w, wbits) + F.lit(1)
    return (
        df.select(F.col(group_col).alias("grp"), bucket.alias("b"), rho.alias("r"))
        .groupBy("grp", "b")
        .agg(F.max("r").alias("r"))
    )


def hll_estimate(regs: DataFrame, keys: list[str], p: int) -> DataFrame:
    """Collapse a register table to (*keys, used_buckets, est) with the
    HLL + linear-counting estimator (est rounded to 6 dp — module
    docstring ln note). `regs` needs columns (*keys, b, r)."""
    m = 1 << p
    g = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("used"),
        # shiftleft() the builtin only takes a literal count — expr form
        # accepts the register column
        F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), r)")).alias(
            "s_used"
        ),
    )
    alpha_m2 = hll_alpha_m2(p)  # python double literal, shared with SQL
    est_raw = F.lit(alpha_m2) / (F.col("s_used") + (F.lit(m) - F.col("used")))
    v_empty = F.lit(m) - F.col("used")
    est = F.when(
        (v_empty > F.lit(0)) & (est_raw <= F.lit(2.5 * m)),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(est_raw)
    return g.select(
        *keys,
        F.col("used").alias("used_buckets"),
        F.round(est, 6).alias("est"),
    )


def hll_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """-> (group, used_buckets, est) — HLL distinct-count estimate of
    `value_col` per group (m = 2^p registers; p>=7 so the alpha
    constant's large-m form applies). est is rounded to 6 decimals
    (the ln note in the module docstring)."""
    assert p >= 7
    regs = hll_registers(df, group_col, value_col, p, hash_fn)
    return hll_estimate(regs, ["grp"], p).withColumnRenamed("grp", group_col)


def hll_set_ops(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairwise set relations between the groups' value sets, entirely
    from MERGED SKETCHES: for every group pair (a < b) estimate
    |A|, |B|, |A u B| (union = MAX over the two register columns —
    the mergeability property, no second scan of the data) and
    |A n B| by inclusion-exclusion, clamped at 0. Output (grp_a,
    grp_b, est_a, est_b, est_union, est_intersect), ests 6 dp.

    Scale shape (100 TB): the data is scanned ONCE into the (grp, b)
    register table; the pair grid is built on registers only (G groups
    -> G*(G-1)/2 pairs x m rows) via a self-join on the bucket id.
    A full-outer bucket join per pair is avoided by register algebra:
    union used-count and indicator sum decompose into per-group terms
    plus a correction over buckets PRESENT IN BOTH (the inner join),
    so missing-side buckets never need materializing.
    """
    assert p >= 7
    m = 1 << p
    regs = hll_registers(df, group_col, value_col, p, hash_fn).persist()
    per = hll_estimate(regs, ["grp"], p)
    # per-group raw terms for the union decomposition
    terms = regs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), r)")).alias("s"),
    )
    a = regs.select(F.col("grp").alias("ga"), "b", F.col("r").alias("ra"))
    b = regs.select(F.col("grp").alias("gb"), "b", F.col("r").alias("rb"))
    # buckets present in BOTH groups: union register is max(ra, rb);
    # the naive per-group sums double-count these, so subtract the
    # smaller indicator term and one used-count per shared bucket.
    both = (
        a.join(b, "b")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum(
                F.lit(1.0)
                / F.expr("shiftleft(CAST(1 AS BIGINT), least(ra, rb))")
            ).alias("s_min"),
        )
    )
    ta = terms.select(
        F.col("grp").alias("ga"), F.col("used").alias("ua"), F.col("s").alias("sa")
    )
    tb = terms.select(
        F.col("grp").alias("gb"), F.col("used").alias("ub"), F.col("s").alias("sb")
    )
    pairs = (
        ta.crossJoin(tb)
        .filter(F.col("ga") < F.col("gb"))
        .join(both, ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            (F.col("ua") + F.col("ub") - F.coalesce(F.col("shared"), F.lit(0)))
            .alias("used"),
            (
                F.col("sa") + F.col("sb")
                - F.coalesce(F.col("s_min"), F.lit(0.0))
            ).alias("s_used"),
        )
    )
    alpha_m2 = hll_alpha_m2(p)
    est_raw = F.lit(alpha_m2) / (F.col("s_used") + (F.lit(m) - F.col("used")))
    v_empty = F.lit(m) - F.col("used")
    est_u = F.round(
        F.when(
            (v_empty > F.lit(0)) & (est_raw <= F.lit(2.5 * m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
        ).otherwise(est_raw),
        6,
    )
    ea = per.select(
        F.col("grp").alias("ga"), F.col("est").alias("est_a")
    )
    eb = per.select(
        F.col("grp").alias("gb"), F.col("est").alias("est_b")
    )
    out = (
        pairs.withColumn("est_union", est_u)
        .join(ea, "ga")
        .join(eb, "gb")
        .select(
            F.col("ga").alias("grp_a"),
            F.col("gb").alias("grp_b"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                    F.lit(0.0),
                ),
                6,
            ).alias("est_intersect"),
        )
    )
    return hold(out, regs)


def hll_distinct_sql(
    table_expr: str,
    group_col: str,
    value_hash32: str,
    p: int = 7,
) -> str:
    """DuckDB twin: `table_expr` must yield ({group_col}, {value_hash32
    aliased h}); mirrors hll_distinct term for term."""
    m = 1 << p
    wbits = 32 - p
    alpha_m2 = repr(hll_alpha_m2(p))
    rho = f"({wbits} - {_bitlen_sql('w', wbits)} + 1)"
    return f"""
        WITH hv AS (
          SELECT {group_col} AS grp, (h & {m - 1}) AS b, (h >> {p}) AS w
          FROM ({table_expr})
        ),
        regs AS (
          SELECT grp, b, max({rho}) AS r FROM hv GROUP BY grp, b
        ),
        g AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS used,
                 sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << r)) AS s_used
          FROM regs GROUP BY grp
        )
        SELECT grp AS {group_col}, used AS used_buckets,
               round(CASE WHEN ({m} - used) > 0
                          AND (CAST('{alpha_m2}' AS DOUBLE)
                               / (s_used + ({m} - used))) <= {2.5 * m}
                     THEN CAST({m} AS DOUBLE)
                          * ln(CAST({m} AS DOUBLE) / ({m} - used))
                     ELSE CAST('{alpha_m2}' AS DOUBLE)
                          / (s_used + ({m} - used)) END, 6) AS est
        FROM g
    """


def histogram_quantile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Fixed-histogram quantile sketch — the mergeable, shuffle-light
    companion to the exact interpolated percentiles (value_percentiles):
    bucketize into `bins` equal cells over [lo, hi), count per
    (group, bin), and report each quantile as the UPPER EDGE of the
    first bin whose cumulative count reaches ceil(q * n). Error is
    bounded by one bin width by construction; every step is integer or
    fixed-shape double arithmetic, so the oracle replays it exactly
    (no interpolation, no libm).

    Scale shape: one (group, bin) hash aggregate with map-side
    partials — at 100 TB the shuffle carries at most groups x bins
    rows — then a per-group sort of <= `bins` rows inside a window.
    """
    width = (hi - lo) / bins
    b = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins))
    b = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1)).cast("int")
    counts = (
        df.select(F.col(group_col).alias("grp"), b.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window as W

    cum = F.sum("c").over(W.partitionBy("grp").orderBy("bin"))
    tot = F.sum("c").over(W.partitionBy("grp"))
    cc = counts.select("grp", "bin", cum.alias("cum"), tot.alias("n"))
    outs = []
    for q in qs:
        tgt = F.ceil(F.lit(float(q)) * F.col("n"))
        hit = cc.filter(F.col("cum") >= tgt).groupBy("grp").agg(
            F.min("bin").alias("bin")
        )
        outs.append(
            hit.select(
                "grp",
                F.lit(float(q)).alias("q"),
                (F.lit(lo) + (F.col("bin") + F.lit(1)) * F.lit(width)).alias("est"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(F.col("grp").alias(group_col), "q", "est")


def cms_table(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Count-min sketch of `value_col` frequencies: (row, b, n) counts
    over `depth` salted hash rows x `width` buckets — the FREQUENCY
    member of the sketch triad (hll_* cardinality, histogram_quantile
    ranks). Mergeable by summing counts per (row, b); the value column
    never shuffles (only its bucket ids do).

    Scale shape: one explode to depth narrow rows per record, one
    (row, b) hash aggregate with map-side partials — bounded state
    depth*width regardless of input size.
    """
    buckets = cms_buckets(df, value_col, width, depth, hash_fn)
    return buckets.groupBy("row", "b").agg(F.count(F.lit(1)).alias("n"))


def cms_buckets(
    df: DataFrame,
    value_col: str,
    width: int,
    depth: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(row, b) bucket stream for cms_table — exposed so the streaming
    twin hashes with the IDENTICAL JVM expression before its stateful
    counts (works on batch and streaming DataFrames alike)."""
    salts = F.array(*[F.lit(f"c{r}:") for r in range(depth)])
    return df.select(
        F.posexplode(
            F.transform(
                salts,
                lambda s: F.pmod(
                    shingle_hash32(
                        F.concat(s, F.col(value_col).cast("string")), hash_fn
                    ),
                    F.lit(width),
                ),
            )
        ).alias("row", "b")
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Point-frequency estimates from a cms_table: est(v) = min over
    rows of the bucket count (never under the true count; collisions
    only inflate). Missing buckets count 0. Output (*probe columns,
    est). Integer end to end — the SQL twin replays it exactly.

    Scale shape: probes explode to depth rows and join the
    depth*width-bounded sketch on (row, b) — Catalyst broadcasts the
    sketch side; one min-aggregate back per probe.
    """
    salts = F.array(*[F.lit(f"c{r}:") for r in range(depth)])
    pb = probes.select(
        "*",
        F.posexplode(
            F.transform(
                salts,
                lambda s: F.pmod(
                    shingle_hash32(
                        F.concat(s, F.col(value_col).cast("string")), hash_fn
                    ),
                    F.lit(width),
                ),
            )
        ).alias("row", "b"),
    )
    keys = [c for c in probes.columns]
    joined = pb.join(cms, ["row", "b"], "left").select(
        *keys, F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    return joined.groupBy(*keys).agg(F.min("n").cast("long").alias("est"))


def heavy_hitters(
    df: DataFrame,
    tokens_col: str,
    min_count: int,
    k: int | None = None,
    max_candidates: int = 5_000_000,
) -> DataFrame:
    """EXACT heavy hitters (global count >= min_count) over a token-
    array column WITHOUT shuffling the token tail.

    The naive plan — explode + groupBy + HAVING — shuffles every
    occurrence of every token; at 100 TB the exchange is dominated by
    the singleton tail that can never reach min_count. This operator
    keeps the tail out of the exchange entirely:

    - Pass 0 (statistics-first, house rule): N = SUM(size(tokens)) —
      a column aggregate, no explode, no shuffle of token strings.
      k = N // min_count + 1, so min_count > N / (k + 1).
    - Pass 1 (NO exchange): per-partition batched Misra-Gries with k
      counters via mapInPandas — merge a batch's exact Counter into
      the running summary, then subtract the (k+1)-th largest value
      and keep the survivors (the Agarwal et al. "Mergeable
      Summaries" MG merge; total undercount <= n_i/(k+1) per
      partition). Pigeonhole: a token with global count > N/(k+1)
      must exceed n_i/(k+1) in some partition, so it SURVIVES that
      partition's summary — the union of summaries is a guaranteed
      candidate superset. Each partition emits <= k one-column rows.
    - Pass 2: broadcast-semi-join the candidate tokens against the
      re-exploded corpus, exact groupBy count, filter >= min_count.
      Only candidate occurrences enter the exchange.

    The OUTPUT is provably identical to the naive GROUP BY/HAVING —
    Misra-Gries affects candidate generation only, never counts — so
    the DuckDB oracle is the plain exact SQL.

    Loud guard, no silent blowup: if k * partitions > max_candidates
    the candidate union could defeat the broadcast; raise with the
    measured numbers instead of degrading.

    Scale note: the pandas batch loop boxes list elements; at real
    scale the same summary runs over mapInArrow reading the
    ListArray values/offsets buffers zero-copy (house playbook).
    Returns (token, cnt), cnt >= min_count.
    """
    # the token arrays feed THREE passes (N measurement, MG summaries,
    # exact recount): persist once instead of re-reading + re-splitting
    # the corpus per pass (measured 13-17 s -> 4-5 s at sf0.1; a
    # repartition before the persist was SLOWER — it shuffles the wide
    # token arrays, the exact payload this operator keeps out of
    # exchanges). The caller releases via release_cached(result) after
    # the terminal action.
    sess = df.sparkSession
    toks = df.select(F.col(tokens_col).alias("toks")).persist()
    n_total = toks.agg(
        F.sum(F.size("toks")).cast("long").alias("n")
    ).collect()[0]["n"] or 0
    if n_total == 0:
        toks.unpersist()
        return sess.createDataFrame([], "token string, cnt long")
    if k is None:
        k = int(n_total) // int(min_count) + 1
    n_parts = toks.rdd.getNumPartitions()
    if k * n_parts > max_candidates:
        toks.unpersist()
        raise RuntimeError(
            f"heavy_hitters: candidate budget exceeded — k={k} "
            f"(N={n_total}, min_count={min_count}) x {n_parts} "
            f"partitions > max_candidates={max_candidates}; raise "
            f"min_count, pass a smaller explicit k (loosening the "
            f"guarantee), or raise max_candidates explicitly"
        )

    kk = int(k)

    def _mg(batches):
        import heapq
        from collections import Counter

        import pandas as pd

        state: Counter = Counter()
        for pdf in batches:
            cnt: Counter = Counter()
            for lst in pdf["toks"]:
                if lst is not None:
                    cnt.update(lst)
            state.update(cnt)
            if len(state) > kk:
                m = heapq.nlargest(kk + 1, state.values())[-1]
                state = Counter(
                    {t: c - m for t, c in state.items() if c > m}
                )
        yield pd.DataFrame({"token": list(state.keys())})

    cand = (
        toks.mapInPandas(_mg, schema="token string")
        .distinct()
    )
    out = (
        toks.select(F.explode("toks").alias("token"))
        .join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(int(min_count)))
    )
    return hold(out, toks)


def group_minhash_sim(
    docs: DataFrame,
    group_col: str = "source",
    n_shingle: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairwise corpus-level similarity matrix between GROUPS of
    documents (sources / hosts / snapshots) via one merged minhash
    signature per group — "how much does crawl source A overlap source
    B" without ever joining documents against documents. Output one
    row per unordered group pair: (src_a, src_b, matches,
    jaccard_est) with jaccard_est = matches / N_HASHES (the unbiased
    single-division estimate of the Jaccard similarity of the two
    groups' UNION shingle sets).

    Why mergeable: a group's signature position i is min over all its
    docs' shingles of mix_i(h) — a plain MIN aggregate, so it
    partial-aggregates map-side and the one exchange carries
    |groups| x N_HASHES longs no matter how many documents flow in
    (the sketch property that makes this a 100-TB operator). The pair
    grid is |groups|^2 — bounded by group cardinality, not corpus
    size — built from a broadcast self-join.

    Estimator exactness: mixes are the dedup module's affine family
    over 32-bit hashes (xxhash64 for speed; 'md5' for the
    SQL-replayable oracle) — deterministic, so the DuckDB twin
    reproduces every signature bit-for-bit."""
    from .dedup import (
        N_HASHES,
        _match_count,
        _sig_array_col,
        _sig_min_aggs,
        shingle_hash_rows,
    )

    ex = shingle_hash_rows(docs, n_shingle, hash_fn, carry=(group_col,)).select(
        F.col(group_col).alias("grp"), "h"
    )
    sigs = ex.groupBy("grp").agg(*_sig_min_aggs())
    a = sigs.select(F.col("grp").alias("src_a"), _sig_array_col().alias("sa"))
    b = sigs.select(F.col("grp").alias("src_b"), _sig_array_col().alias("sb"))
    matches = _match_count("sa", "sb")
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            matches.cast("long").alias("matches"),
            F.round(
                matches.cast("double") / F.lit(float(N_HASHES)), 6
            ).alias("jaccard_est"),
        )
    )
