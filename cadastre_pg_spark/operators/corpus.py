"""Training-corpus assembly operators over the `documents` table:
token-budget shard packing, stratified (per-language) sampling, exact
per-group sampling, and train/eval n-gram contamination detection.

These extend the engine's web-text side (operators/textanalysis.py,
operators/dedup.py) with the remaining steps of an LLM pretraining data
pipeline: after dedup/quality filtering, a corpus is SAMPLED to a target
language/source mixture, CHECKED for benchmark contamination, and PACKED
into fixed-token-budget shards for the trainer.

Reference lineage: the reference has no corpus ops (it is a cadastre
ETL); the deterministic-hash routing mirrors its dep-prefix partitioning
idea (cadastre-pg/src/cli.rs:842-910 P2) applied to corpus mixing.

Scale notes (100 TB):
- pack_tokens: one hash shuffle to W writers, then a per-writer window
  cumsum (linear, no further exchange). W is the write parallelism —
  at cluster scale set W ~ number of output shard writers (thousands);
  each writer's running sum is independent.
- stratified_sample: shuffle-FREE — a per-row hash threshold filter
  that pushes down to the scan (no aggregation, no window).
- group_sample: exact top-k per group by hash order. The window rank
  shuffles on the group key, so a giant group would skew; the operator
  therefore pre-prunes with a same-hash-order threshold computed from
  MEASURED group counts (the engine's statistics-first rule), so the
  ranked set is ~oversample*k rows per group regardless of group size.
  The prune keeps a PREFIX of the hash order, so the result is exactly
  the unpruned top-k (verified: survivor count per group must be >= k,
  else raise loudly rather than return a silently-short sample).
- contamination: per-doc distinct shingle hashes (map-side), train side
  reduced to a distinct 8-byte hash set, one join on the hash key; the
  eval side is typically tiny (benchmarks), so Catalyst broadcasts it.

All four have exact DuckDB oracles in __spark_entry__ (md5 hash mode);
the engine default is xxhash64 (no md5 bit-mixing cost at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    n_words,
    shingle_hash32,
    shingle_hash_rows,
    token_hashes,
    words,
    words_or_empty,
)
from .held import hold
from .stats import entropy_census, ln_u

MILLION = 1_000_000


def _hash32(col, salt: str, hash_fn: str) -> F.Column:
    """32-bit hash of a salted string rendering of `col` — the shared
    deterministic randomness source (oracle-replayable in md5 mode)."""
    return shingle_hash32(F.concat(F.lit(salt), col.cast("string")), hash_fn)


def ppm_draw(col, salt: str, hash_fn: str) -> F.Column:
    """The salted hash of `col` as a parts-per-million draw in
    [0, 1e6): samplers and splitters compare it with integer ppm
    thresholds, so no float boundary can differ between engines."""
    return F.pmod(_hash32(col, salt, hash_fn), F.lit(MILLION))


def doc_tokens(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """(doc_id, *keep, n_tokens) — whitespace token count (`words`)."""
    return docs.select("doc_id", *keep, n_words(F.col("text")).alias("n_tokens"))


def pack_tokens(
    docs: DataFrame,
    capacity: int = 2048,
    n_writers: int = 8,
    hash_fn: str = "xxhash64",
    keep: tuple = (),
) -> DataFrame:
    """Concat-and-chunk token packing: route docs to `n_writers`
    independent writers by hash, concatenate each writer's docs in
    doc_id order, and chunk the token stream into shards of `capacity`
    tokens. Documents may straddle shard boundaries (standard LM
    pretraining packing); `spans_boundary` marks those.

    Output: (doc_id, writer, shard, offset, n_tokens, spans_boundary)
    where `offset` is the doc's start position within its shard.
    Deterministic: same input -> same placement, any cluster size.
    """
    if capacity <= 0 or n_writers <= 0:
        raise ValueError("capacity and n_writers must be positive")
    tok = doc_tokens(docs, keep).withColumn(
        "writer", F.pmod(_hash32(F.col("doc_id"), "w:", hash_fn), F.lit(n_writers))
    )
    w = (
        Window.partitionBy("writer")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    tok = tok.select("doc_id", *keep, "writer", "n_tokens", start)
    shard = F.floor(F.col("start") / F.lit(capacity))
    return tok.select(
        "doc_id",
        "writer",
        shard.alias("shard"),
        (F.col("start") - shard * F.lit(capacity)).alias("offset"),
        "n_tokens",
        # last token index >= next shard's first index -> straddles
        (F.col("start") + F.col("n_tokens") - F.lit(1) >= (shard + 1) * F.lit(capacity))
        .cast("int")
        .alias("spans_boundary"),
        *keep,
    )


def chunk_docs(
    docs: DataFrame,
    chunk_size: int = 128,
    stride: int = 96,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sliding-window token chunking — the context-window splitter
    every pretraining / RAG pipeline runs between cleaning and packing:
    chunk k covers tokens [k*stride, k*stride + chunk_size), the last
    chunk may be short, and stride < chunk_size gives the standard
    overlap so no token span longer than (chunk_size - stride) is cut
    without appearing whole in some chunk.

    Output (doc_id, chunk_id, start, chunk_tokens, chunk_h): 0-based
    chunk index, token offset, tokens in this chunk, and the house
    32-bit hash of the chunk's joined tokens (content-addressable — an
    exact_dedup over chunk_h dedups at chunk granularity).

    Chunk count: 1 if n <= chunk_size else ceil((n-chunk_size)/stride)+1
    (the huggingface return_overflowing_tokens rule). All arithmetic is
    integer-exact through double floor (token counts << 2^53).

    Scale shape: one scan, in-row sequence + explode, zero shuffles —
    the fan-out is ~n/stride rows per doc and every expression is
    codegen (slice/concat_ws/hash on column offsets, no HOF lambda).
    """
    if chunk_size <= 0 or stride <= 0 or stride > chunk_size:
        raise ValueError("need 0 < stride <= chunk_size")
    toks = words(F.col("text"))
    base = docs.select("doc_id", toks.alias("t"))
    n = F.size("t").cast("long")
    cs, st = F.lit(chunk_size), F.lit(stride)
    n_chunks = F.when(n <= cs, F.lit(1).cast("long")).otherwise(
        F.floor((n - cs + st - F.lit(1)).cast("double") / st.cast("double"))
        + F.lit(1)
    )
    ch = base.select(
        "doc_id",
        "t",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - F.lit(1))).alias(
            "chunk_id"
        ),
    )
    start = F.col("chunk_id") * st
    ctoks = F.least(cs.cast("long"), F.col("n") - start)
    return ch.select(
        "doc_id",
        "chunk_id",
        start.alias("start"),
        ctoks.alias("chunk_tokens"),
        shingle_hash32(
            F.concat_ws(" ", F.slice(F.col("t"), (start + F.lit(1)).cast("int"), ctoks.cast("int"))),
            hash_fn,
        ).alias("chunk_h"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    group_col: str = "lang",
    salt: str = "s:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic rate sampling per stratum: keep a doc iff
    hash(doc_id) mod 1e6 < rate*1e6 for its group's rate. Shuffle-free
    (a scan-level filter); the mixture knobs are the `rates` map.

    Rates are quantized to parts-per-million so both engines compare
    integers (no float-threshold edge divergence).
    """
    u = ppm_draw(F.col("doc_id"), salt, hash_fn)
    thresh = F.lit(int(round(default_rate * MILLION)))
    for g, r in sorted(rates.items()):
        thresh = F.when(F.col(group_col) == g, F.lit(int(round(r * MILLION)))).otherwise(
            thresh
        )
    return (
        docs.withColumn("u", u)
        .filter(F.col("u") < thresh)
        .select("doc_id", F.col(group_col).alias("stratum"), "u")
    )


def group_sample(
    docs: DataFrame,
    k: int,
    group_col: str = "lang",
    salt: str = "g:",
    hash_fn: str = "xxhash64",
    oversample: float = 4.0,
    prune_min_group: int = 100_000,
) -> DataFrame:
    """Exact k-per-group uniform sample: rank docs within each group by
    hash order (then doc_id) and keep rank <= k. For groups large
    enough that ranking all members would skew the window shuffle, a
    same-hash threshold prune (rate ~ oversample*k/n from measured
    counts) drops the tail BEFORE ranking; because the prune keeps a
    prefix of the identical hash order, the surviving top-k equals the
    unpruned top-k. If the prune undershoots (survivors < k in a group
    that has >= k members) the operator raises rather than silently
    returning a short sample.

    Output: (doc_id, stratum, rank) with rank in 1..k.
    """
    h = _hash32(F.col("doc_id"), salt, hash_fn)
    base = docs.select(
        "doc_id", F.col(group_col).alias("stratum"), h.alias("h")
    )
    counts = {r["stratum"]: r["n"] for r in base.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    pruned = base
    prunable = {g: n for g, n in counts.items() if n > prune_min_group}
    if prunable:
        thresh = F.lit(1 << 32)
        for g, n in sorted(prunable.items()):
            cut = min(1 << 32, int((1 << 32) * oversample * k / n))
            thresh = F.when(F.col("stratum") == g, F.lit(cut)).otherwise(thresh)
        pruned = base.filter(F.col("h") < thresh)
    w = Window.partitionBy("stratum").orderBy("h", "doc_id")
    ranked = (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "stratum", F.col("rank").cast("long").alias("rank"))
    )
    if prunable:
        ranked = ranked.persist()
        got = {r["stratum"]: r["n"] for r in ranked.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
        for g, n in prunable.items():
            want = min(k, n)
            if got.get(g, 0) < want:
                ranked.unpersist()
                raise RuntimeError(
                    f"group_sample prune undershot for stratum {g!r}: "
                    f"{got.get(g, 0)} < {want}; raise oversample (= {oversample})"
                )
        hold(ranked, ranked)
    return ranked


def contamination(
    docs: DataFrame,
    n_shingle: int = 5,
    eval_mod: int = 20,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Train/eval n-gram contamination: split docs into eval
    (hash(doc_id) % eval_mod == 0) and train sets, shingle both into
    word n-grams, and report per eval doc how many of its DISTINCT
    shingles also occur anywhere in the train set.

    Output: (doc_id, n_shingles, n_contaminated, contamination) —
    contamination = n_contaminated / n_shingles rounded to 6 dp
    (0.0 for docs too short to have any shingle).

    Shape: the shingle rows are dedup.shingle_hash_rows' (codegen
    concat/hash, not an interpreted transform() lambda), distinct per
    doc; the train set reduces to distinct 8-byte hashes; the single
    join key is the hash. The eval side is the small one — Catalyst
    broadcasts it against the train stream.
    """
    docs = docs.select(
        "doc_id",
        "text",
        (F.pmod(_hash32(F.col("doc_id"), "e:", hash_fn), F.lit(eval_mod)) == 0).alias(
            "is_eval"
        ),
    )
    sh = shingle_hash_rows(docs, n_shingle, hash_fn, carry=("is_eval",))
    train_sh = sh.filter(~F.col("is_eval")).select("h").distinct()
    ev_sh = sh.filter(F.col("is_eval")).select("doc_id", "h").distinct()
    per = (
        ev_sh.join(train_sh.withColumn("hit", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long")
    n_hit = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long")
    return (
        docs.filter(F.col("is_eval"))
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_hit.alias("n_contaminated"),
            F.when(
                n_sh > 0,
                F.round(n_hit.cast("double") / n_sh.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination"),
        )
    )


def write_packed(
    docs: DataFrame,
    path: str,
    capacity: int = 2048,
    n_writers: int = 8,
    hash_fn: str = "xxhash64",
    mode: str = "error",
) -> None:
    """Materialize packed training shards: parquet partitioned by
    (writer, shard), rows ordered by doc_id within each shard file —
    the trainer reads shard dirs sequentially and concatenates texts.

    The text rides THROUGH the packing window's writer exchange
    (keep=('text',)) — one shuffle total; joining the narrow
    assignment back to the text table would shuffle the text a second
    time. Each (writer, shard) lands in exactly one task (the window
    already hash-partitioned by writer), so sortWithinPartitions +
    partitionBy yields one ordered file per shard with no extra
    exchange."""
    packed = pack_tokens(docs, capacity, n_writers, hash_fn, keep=("text",))
    (
        packed.sortWithinPartitions("writer", "shard", "doc_id")
        .write.partitionBy("writer", "shard")
        .mode(mode)
        .parquet(path)
    )


def budget_mixture(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    group_col: str = "lang",
    salt: str = "m:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Sample the corpus to a target MIXTURE: `weights` gives each
    group's share of a `token_budget`-token training recipe (the
    per-source/per-language mixing step of an LLM data recipe;
    temperature mixing = pass weights ∝ measured_tokens**alpha).

    Unlike stratified_sample (caller supplies rates), the per-group
    keep-rate is DERIVED from measured token counts — the engine's
    statistics-first rule, but fully in-plan: a per-group aggregate
    (map-side partials, group-count-sized exchange) broadcasts back
    onto the scan and the filter compares integers:

        thr_g = floor(budget * w_g / measured_tokens_g * 1e6)
        keep  iff  hash(doc_id) mod 1e6 < min(thr_g, 1e6)

    No driver collect, no second scan of the corpus (token counts ride
    the same projection), deterministic across engines: budget / w_g /
    T_g are exact integers-or-literals, so the double arithmetic and
    floor replay bit-identically in the DuckDB twin. Groups without a
    weight get rate 0 (dropped). A group whose measured tokens fall
    short of its target keeps everything (rate capped at 1).

    Returns surviving (doc_id, group, n_tokens, u) rows.
    """
    toks, stats = _group_tokens(docs, group_col)
    w = F.lit(0.0)
    for g, r in sorted(weights.items()):
        w = F.when(F.col("grp") == g, F.lit(float(r))).otherwise(w)
    thr = F.least(
        F.floor(
            F.lit(float(token_budget)) * w / F.col("t_grp") * F.lit(float(MILLION))
        ),
        F.lit(MILLION).cast("long"),
    )
    return _keep_under(toks, stats, thr, salt, hash_fn).select(
        "doc_id", F.col("grp").alias("stratum"), "n_tokens", "u"
    )


def _group_tokens(docs: DataFrame, group_col: str):
    """The mixtures' token census: (doc_id, grp, n_tokens) per doc and
    (grp, t_grp) per group, t_grp the group's token mass summed
    exactly through DECIMAL."""
    toks = docs.select(
        "doc_id",
        F.col(group_col).alias("grp"),
        n_words(F.col("text")).alias("n_tokens"),
    )
    stats = toks.groupBy("grp").agg(
        F.sum(F.col("n_tokens").cast("decimal(28,0)")).cast("double").alias("t_grp")
    )
    return toks, stats


def _keep_under(
    toks: DataFrame, rates: DataFrame, thr, salt: str, hash_fn: str
) -> DataFrame:
    """The mixtures' keep rule: broadcast each group's `rates` row onto
    its docs and keep a doc iff its ppm draw u < thr (an integer
    compare; u is kept as a column)."""
    return (
        toks.join(F.broadcast(rates), "grp")
        .withColumn("u", ppm_draw(F.col("doc_id"), salt, hash_fn))
        .where(F.col("u") < thr)
    )


def host_stats(pages: DataFrame) -> DataFrame:
    """Per-host corpus census — the domain-level rollup every web-crawl
    curation pipeline keys its quality/robots/blocklist decisions on
    (reference analog: the A3 per-table stats family, keyed by the
    url's host instead of the feature type). One hash aggregation on
    the host (narrow string key, map-side partials); language spread
    and page mass are computed in the same pass."""
    host = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1)
    return (
        pages.select(host.alias("host"), "lang", F.length("text").alias("n_chars"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.when(F.col("lang") == "fr", 1).otherwise(0)).alias("n_fr"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def canonical_url(url: F.Column) -> F.Column:
    """Crawl-frontier URL canonicalization: lowercase, strip query and
    fragment, collapse trailing slashes. Deliberately regex-portable
    (Java == RE2) so the DuckDB oracle replays it verbatim."""
    c = F.lower(url)
    c = F.regexp_replace(c, r"[?#].*$", "")
    return F.regexp_replace(c, r"/+$", "")


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "page_id") -> DataFrame:
    """Canonical-URL dedup — the crawl-level twin of content dedup
    (A7/J3 family): group by the canonical form, keep the smallest id
    as survivor (the deterministic 'first wins' rule the content
    dedup operators use, cli.rs:466-474). One hash aggregation on the
    canonical string; the raw url never becomes a shuffle key twice."""
    canon = canonical_url(F.col(url_col))
    return (
        df.select(F.col(id_col), canon.alias("canon"))
        .groupBy("canon")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str,
    group_col: str | None = None,
    salt: str = "p:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (priority
    sampling, Duffield-Lund-Thorup): each doc gets priority = u / w
    with u = (hash32(doc_id)+1) / 2^32 in (0, 1]; the k SMALLEST
    priorities win (per group when group_col is given), so inclusion
    probability scales with the weight while the choice stays a pure
    function of doc_id. Output (doc_id[, stratum], w, priority, rank).

    Numeric rule: u is exact (integer + division by a power of two)
    and priority is ONE correctly-rounded double division — bitwise
    identical in the DuckDB twin, no rounding grid anywhere. Ties
    break on doc_id ascending. Non-positive weights raise loudly.

    Scale shape (100 TB): global k uses orderBy+limit — Spark's
    TakeOrdered keeps a k-row heap per partition and merges (no full
    sort, no single-task window); grouped k is one exchange on the
    group key + in-partition rank. The hash, u, and priority are all
    scan-level column arithmetic.
    """
    w = F.col(weight_col).cast("double")
    u = (_hash32(F.col("doc_id"), salt, hash_fn) + F.lit(1)) / F.lit(
        4294967296.0
    )
    prio = F.when(
        w <= 0,
        F.raise_error(
            F.concat(
                F.lit("weighted_sample: non-positive weight for doc "),
                F.col("doc_id").cast("string"),
            )
        ).cast("double"),
    ).otherwise(u / w)
    base = docs.select(
        "doc_id",
        *([F.col(group_col).alias("stratum")] if group_col else []),
        w.alias("w"),
        prio.alias("priority"),
    )
    if group_col is None:
        ranked = base.orderBy(F.col("priority").asc(), F.col("doc_id").asc()).limit(k)
        from pyspark.sql import Window

        # rank over the k-row result only (tiny), for a stable output
        wr = Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        return ranked.withColumn("rank", F.row_number().over(wr))
    from pyspark.sql import Window

    wr = Window.partitionBy("stratum").orderBy(
        F.col("priority").asc(), F.col("doc_id").asc()
    )
    return base.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )


def corpus_prep(
    docs: DataFrame,
    min_quality: float = 0.5,
    capacity: int = 2048,
    n_writers: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end training-corpus preparation — the composed webtext
    lifecycle (the corpus twin of pipeline.run_import's geo lifecycle):

    1. quality gate     : composite quality >= min_quality
                          (textanalysis.quality_score; rounded value
                          compared so both engines gate identically)
    2. label consistency: stopword-heuristic pred_lang == the labeled
                          lang column (drops mislabeled docs)
    3. exact dedup      : survivor = min doc_id per sha2(text) among
                          the gated docs (narrow 64-char shuffle key)
    4. shard packing    : pack_tokens manifest over the survivors

    Output: the pack manifest (doc_id, writer, shard, offset,
    n_tokens, spans_boundary) for exactly the surviving documents.

    Scale shape (100 TB): stages 1-2 are scan-level column arithmetic
    + filter (no exchange); stage 3 exchanges on the sha; stage 4 is
    pack_tokens' single writer-key exchange. The full text crosses an
    exchange zero times.
    """
    from .textanalysis import lang_id, quality_score

    q = quality_score(docs).select("doc_id", "quality")
    l = lang_id(docs)
    kept = (
        docs.join(q, "doc_id")
        .join(l, "doc_id")
        .where(
            (F.col("quality") >= F.lit(min_quality))
            & (F.col("pred_lang") == F.col("lang"))
        )
    )
    surv = kept.groupBy(F.sha2(F.col("text"), 256).alias("sha")).agg(
        F.min("doc_id").alias("doc_id")
    )
    final = kept.join(surv.select("doc_id"), "doc_id").select("doc_id", "text")
    return pack_tokens(final, capacity, n_writers, hash_fn)


def dsir_logratio(
    docs: DataFrame,
    is_target,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023,
    arXiv:2302.03169): per-document log importance ratio
    log p_target(doc) - log p_source(doc) under hashed-unigram
    bag-of-words models, where the TARGET distribution is estimated
    from the subset of rows matching the `is_target` boolean Column
    and the SOURCE from the whole input. Data Selection with
    Importance Resampling then keeps the top-weight (or
    Gumbel-perturbed) documents; pair this output with
    weighted_sample/group_sample for the selection step.

    Returns (doc_id, n_tokens, logratio); logratio > 0 means the
    document looks more like the target corpus than the source mix.

    Numeric rule (the surprisal policy): both unigram models use
    add-one smoothing over the OBSERVED vocabulary V of 32-bit token-
    hash buckets — p(h) = (n(h)+1)/(N+V); ln is taken once per
    distinct bucket on the census and quantized to integer micro-nats
    (`stats.ln_u(n + 1)`), so the per-document accumulation
    is an exact order-independent integer sum replayed bitwise by the
    DuckDB twin; the constant per-token normalizer ln(N_t+V)-ln(N_s+V)
    is applied once at the end behind a 6 dp round.

    Scale shape (100 TB): tokens explode to narrow (doc_id, flag, h)
    rows; ONE census pass computes both models (count + conditional
    sum — target needs no second scan); the bucket join is the same
    Zipf-skewed probe-vs-tiny-build shape as surprisal (AQE skew-join
    territory); one final doc_id aggregate. No Python, no collect,
    nothing quadratic.
    """
    ex = token_hashes(
        docs, hash_fn, carry={"it": F.when(is_target, F.lit(1)).otherwise(F.lit(0))}
    )
    census = ex.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("it").alias("n_t")
    )
    cu = census.select(
        "h",
        (ln_u(F.col("n_t") + F.lit(1)) - ln_u(F.col("n_s") + F.lit(1))).alias("u"),
    )
    tot = census.agg(
        F.sum("n_s").alias("ns"),
        F.sum("n_t").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    ).select(
        (
            ln_u(F.col("nt") + F.col("v")) - ln_u(F.col("ns") + F.col("v"))
        ).alias("shift_u")
    )
    per = (
        ex.join(cu, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("u").cast("long").alias("su"),
        )
    )
    return per.crossJoin(tot).select(
        "doc_id",
        "n_tokens",
        # exact BIGINT combine, ONE double division behind the round
        F.round(
            (F.col("su") - F.col("n_tokens") * F.col("shift_u"))
            .cast("double")
            / F.lit(1e6),
            6,
        ).alias("logratio"),
    )


def dsir_select(
    docs: DataFrame,
    is_target,
    k: int,
    temperature: float = 1.0,
    hash_fn: str = "xxhash64",
    salt: str = "g:",
) -> DataFrame:
    """The DSIR selection step (Xie et al. 2023 §2.3): Gumbel-top-k
    resampling over the importance weights — sampling WITHOUT
    replacement proportional to exp(logratio / temperature) is exactly
    "take the k largest logratio/temperature + Gumbel(0,1) keys"
    (Vieira 2014). The Gumbel noise is deterministic: u =
    (hash32(doc_id)+1)/2^32 in (0,1], g = -ln(-ln(u)) — a pure
    function of doc_id, so runs and engines agree. Returns the k
    selected (doc_id, n_tokens, logratio, key, rank).

    Numeric rule: the ranking key is assembled in integer micro-nat
    units — logratio is already micro-nat-exact from dsir_logratio,
    the Gumbel term is quantized once per doc (round(g*1e6) ->
    BIGINT), division by temperature happens on the BIGINT sum's
    double image behind a 6 dp round at the very end (display only,
    the ORDER uses the BIGINT key). Ties break on doc_id ascending.

    Scale shape (100 TB): dsir_logratio's shape (one census + one doc
    aggregate) plus scan-level key arithmetic and a global
    TakeOrdered (k-row heap per partition, no full sort)."""
    lr = dsir_logratio(docs, is_target, hash_fn=hash_fn)
    u = (_hash32(F.col("doc_id"), salt, hash_fn) + F.lit(1)) / F.lit(
        4294967296.0
    )
    g_u = F.round(-F.log(-F.log(u)) * F.lit(1e6)).cast("long")
    lr_u = F.round(F.col("logratio") * F.lit(1e6)).cast("long")
    # integer key in micro-nats: logratio/T + gumbel. The temperature
    # scales the EXACT micro-nat logratio (floor keeps it integral).
    key_u = (
        F.floor(lr_u.cast("double") / F.lit(float(temperature))).cast("long")
        + g_u
    )
    ranked = (
        lr.select("doc_id", "n_tokens", "logratio", key_u.alias("key_u"))
        .orderBy(F.col("key_u").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    wr = Window.orderBy(F.col("key_u").desc(), F.col("doc_id").asc())
    return ranked.withColumn("rank", F.row_number().over(wr)).select(
        "doc_id",
        "n_tokens",
        "logratio",
        F.round(F.col("key_u").cast("double") / F.lit(1e6), 6).alias("key"),
        "rank",
    )


def hash_split(
    docs: DataFrame,
    splits: list[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    group_col: str | None = None,
    salt: str = "sp:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment: each doc (or each
    GROUP, when `group_col` is given — e.g. the host, so near-dup
    pages from one site can never straddle a split and leak train
    content into eval) hashes to u in [0, 1e6) and lands in the split
    whose cumulative parts-per-million interval contains u. Returns
    (doc_id[, grp], u, split).

    Weights must sum to 1 (+-1e-9; quantization residue goes to the
    LAST split, stated rather than silent). Integer ppm thresholds on
    both engines — no float-boundary divergence; split intervals are
    half-open [lo, hi) in the given (name, weight) order.

    Scale shape (100 TB): shuffle-free — a scan-level hash + CASE
    chain (the stratified_sample shape); group mode hashes the group
    key instead of doc_id, still no exchange, no census, no join."""
    bounds = _ppm_bounds(splits)
    key = F.col(group_col) if group_col else F.col("doc_id")
    u = ppm_draw(key, salt, hash_fn)
    return docs.select(
        "doc_id",
        *([key.alias("grp")] if group_col else []),
        u.alias("u"),
        _split_case(u, bounds).alias("split"),
    )


def _ppm_bounds(splits) -> list[tuple[str, int, int]]:
    """Half-open integer ppm intervals [(name, lo, hi)) in the given
    order; quantization residue goes to the LAST split."""
    items = list(splits)
    if abs(sum(w for _, w in items) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    if len({n for n, _ in items}) != len(items):
        raise ValueError("duplicate split names")
    cum = 0
    bounds = []
    for name, w in items:
        lo = cum
        cum = min(MILLION, cum + int(round(w * MILLION)))
        bounds.append((name, lo, cum))
    bounds[-1] = (bounds[-1][0], bounds[-1][1], MILLION)  # residue -> last
    return bounds


def _split_case(u: F.Column, bounds) -> F.Column:
    """The ppm-interval CASE chain over a [0, 1e6) hash column."""
    expr = None
    for name, lo, hi in reversed(bounds):
        expr = (
            F.lit(name)
            if expr is None
            else F.when((u >= lo) & (u < hi), F.lit(name)).otherwise(expr)
        )
    return expr


def cluster_split(
    docs: DataFrame,
    splits: list[tuple[str, float]] = (
        ("train", 0.9),
        ("val", 0.05),
        ("test", 0.05),
    ),
    threshold: float = 0.5,
    salt: str = "cs:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Leakage-safe train/val/test split by NEAR-DUP CLUSTER: documents
    are clustered with the minhash pair graph (graph.dedup_clusters)
    and the split is hashed from the CLUSTER representative, so two
    near-duplicate documents can never straddle train and eval — the
    contamination mode `hash_split(group_col=...)` cannot catch when
    near-dups cross hosts (mirrors, syndication, boilerplate reposts).
    Singleton documents (no near-dup pair) split independently on their
    own doc_id. Returns (doc_id, rep, u, split) where `rep` is the
    cluster id (min doc_id of the component) or the doc's own id.

    Scale shape (100 TB): the corpus-sized work is all inside the
    bucket-capped minhash pipeline; the cluster table holds only
    pair-participant docs (a small fraction of the corpus), is
    materialized ONCE (localCheckpoint) for both the measured
    broadcast gate and the attach join, and joins map-side under the
    ~5M-row house gate. The split itself is the shuffle-free ppm CASE
    chain shared with hash_split."""
    from .graph import dedup_clusters

    bounds = _ppm_bounds(splits)
    cc0 = dedup_clusters(docs, threshold=threshold, hash_fn=hash_fn)
    cc = cc0.localCheckpoint(eager=True)
    bcast = cc.count() <= 5_000_000
    j = docs.select("doc_id").join(
        F.broadcast(cc) if bcast else cc, "doc_id", "left"
    )
    rep = F.coalesce(F.col("cluster"), F.col("doc_id"))
    u = ppm_draw(rep, salt, hash_fn)
    out = j.select(
        "doc_id",
        rep.alias("rep"),
        u.alias("u"),
        _split_case(u, bounds).alias("split"),
    )
    return hold(out, cc, cc0)


def global_shuffle(
    docs: DataFrame,
    n_shards: int = 16,
    salt: str = "gs:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard plan — the
    "shuffle the corpus before pretraining" op. Every doc hashes to a
    32-bit key h; shard = h mod n_shards routes it to one of
    `n_shards` equal output files, and pos = its 1-based position
    within the shard in (h, doc_id) order. The (shard, pos) pair is a
    total training order that is reproducible run-to-run and
    independent of input partitioning or arrival order — unlike
    DataFrame.orderBy(rand()) which changes under retries.

    Returns (doc_id, shard, h, pos).

    Scale shape (100 TB): ONE exchange — the row_number window
    hash-partitions on shard and sorts (h, doc_id) within each; a
    writer twin is repartition(shard) + sortWithinPartitions, which
    streams each shard file in final order with no further shuffle.
    Shards are balanced by the uniformity of the hash, and n_shards
    is chosen so one shard fits an executor's sort spill budget."""
    from pyspark.sql import Window

    h = _hash32(F.col("doc_id"), salt, hash_fn)
    w = Window.partitionBy("shard").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "h", "pos")
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """One-row corpus health report — the webtext analog of the
    reference's typed ImportReport (cadastre-pg/src/report.rs:66-313
    A4): (n_docs, n_unique, dup_rate, total_tokens, mean_quality,
    lang_entropy). dup_rate = 1 - distinct-sha256 / docs (the exact
    dedup census); mean_quality averages textanalysis.quality_score's
    composite; lang_entropy is the Shannon entropy (nats) of the lang
    distribution — the mixture-collapse alarm for a crawl snapshot.

    Numeric rule: counts are exact; per-doc quality (already rounded
    to 6 dp) is quantized to integer micro-units and summed as BIGINT
    (order-independent); entropy comes from `stats.entropy_census`
    over lang (<= a handful of rows) with the exact integer combine
    N * ln_u(N) - sum n_l * ln_u(n_l) (= sum n_l * (ln_u(N) -
    ln_u(n_l))); every final figure is one double division chain
    behind a 6 dp round — bitwise in DuckDB.

    Scale shape (100 TB): two aggregates over one scan family — a
    global agg (count / distinct-hash / token sum / quality sum) and a
    tiny per-lang count — then a literal cross of one-row frames. The
    distinct-sha256 count is the only exchange of note and shuffles
    64-char hashes, never text."""
    from cadastre_pg_spark.operators.textanalysis import quality_score

    q = quality_score(docs).select(
        "doc_id",
        F.round(F.col("quality") * F.lit(1e6)).cast("long").alias("qu"),
    )
    base = docs.select(
        "doc_id",
        "lang",
        F.sha2(F.col("text"), 256).alias("h"),
        n_words(F.col("text")).alias("n_tokens"),
    )
    g = base.join(q, "doc_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("qu").alias("squ"),
    )
    ent = entropy_census(base, [], "lang").select(
        (F.col("n") * ln_u(F.col("n")) - F.col("s")).alias("seu")
    )
    return g.crossJoin(ent).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.round(
            F.lit(1.0)
            - F.col("n_unique").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.col("squ").cast("double") / F.col("n_docs").cast("double") / F.lit(1e6),
            6,
        ).alias("mean_quality"),
        F.round(
            F.col("seu").cast("double") / F.col("n_docs").cast("double") / F.lit(1e6),
            6,
        ).alias("lang_entropy"),
    )


def perplexity_buckets(
    docs: DataFrame, hash_fn: str = "xxhash64"
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al.): split each
    language's documents into head / middle / tail terciles of the
    unigram-surprisal distribution — the standard "keep the fluent
    third, inspect the middle, drop the tail" curation gate. Output
    (doc_id, lang, surprisal, bucket).

    Exactness: surprisal is the micro-nat-quantized operator
    (textanalysis.surprisal); the tercile cuts are Spark `percentile`,
    which matches DuckDB quantile_cont BITWISE (same linear
    interpolation on sorted doubles — engine parity note in
    CLAUDE.md), so the <=-comparisons bucket identically in both
    engines with no rounding grid.

    Scale shape (100 TB): surprisal is one token scan + census join +
    per-doc aggregate; the cuts are a per-language aggregate whose
    output is languages x 2 doubles — broadcast back onto the docs.
    No global sort (percentile aggregates partial state per group)."""
    from cadastre_pg_spark.operators.textanalysis import surprisal

    sp = surprisal(docs, hash_fn=hash_fn).select("doc_id", "surprisal")
    with_lang = docs.select("doc_id", "lang").join(sp, "doc_id")
    cuts = with_lang.groupBy("lang").agg(
        F.percentile(
            F.col("surprisal"),
            F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)),
        ).alias("qs")
    ).select(
        "lang", F.col("qs")[0].alias("t1"), F.col("qs")[1].alias("t2")
    )
    return (
        with_lang.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "surprisal",
            F.when(F.col("surprisal") <= F.col("t1"), F.lit("head"))
            .when(F.col("surprisal") <= F.col("t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    attr_col: str = "source",
) -> DataFrame:
    """Crawl-to-crawl content diff: per (attr, status) counts of
    added / removed / changed / same documents between two corpus
    snapshots — the first report a rolling-crawl pipeline produces
    before deciding what to re-process. Status by id presence and
    content hash: ids only in `new` are added, only in `old` removed,
    in both with differing sha256(text) changed, else same. Output
    (grp, status, n) — removed rows attribute to the OLD side's attr,
    everything else to the new side's.

    Scale shape (100 TB): both snapshots project to (id, sha, attr)
    BEFORE the join, so the full-outer equi-join on id ships 64-hex
    digests, never document bodies (the exact_dedup narrow-key rule);
    the result is one (attr, status) hash aggregate with map-side
    partials. At scale both sides are id-bucketed parquet, so the
    join is co-located and shuffle-free."""
    o = old.select(
        F.col(id_col).alias("id"),
        F.sha2(F.col("text"), 256).alias("osha"),
        F.col(attr_col).alias("oattr"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.sha2(F.col("text"), 256).alias("nsha"),
        F.col(attr_col).alias("nattr"),
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("osha").isNull(), F.lit("added"))
        .when(F.col("nsha").isNull(), F.lit("removed"))
        .when(F.col("osha") != F.col("nsha"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return (
        j.select(
            F.coalesce(F.col("nattr"), F.col("oattr")).alias("grp"),
            status.alias("status"),
        )
        .groupBy("grp", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def blocklist_filter(
    docs: DataFrame,
    blocklist: list,
    max_frac_millis: int = 120,
) -> DataFrame:
    """C4-style badword filter -> (doc_id, n_tokens, n_flagged,
    n_distinct_flagged, keep): count whole-word occurrences of a
    blocklist per document and keep documents whose flagged-token
    fraction stays under the threshold (C4 dropped any page containing
    a listed word; the fraction form is the tunable generalization).

    The keep decision is EXACT integer arithmetic:
    n_flagged * 1000 <= max_frac_millis * n_tokens -- no float
    threshold to drift cross-engine. Occurrences come from one JVM
    regexp_count over a \\b-anchored alternation (word chars only, so
    the Java and RE2 dialects agree); distinct hits from a codegen
    array_intersect against the literal list.

    Scale shape (100 TB): ZERO shuffles -- the blocklist is a literal
    baked into the plan (the broadcast-variable analog for a list that
    is always human-curated-small), every column is whole-stage
    codegen, and the filter composes with any downstream scan as a
    plain projection. No explode, no Python, no aggregate.
    """
    for w in blocklist:
        if not w or not all(c.isalnum() or c == "_" for c in w):
            raise ValueError(f"blocklist words must be \\w-only: {w!r}")
    pat = r"\b(" + "|".join(sorted(blocklist)) + r")\b"
    toks = words(F.col("text"))
    nt = n_words(F.col("text"))
    nf = F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
    return docs.select(
        "doc_id",
        nt.alias("n_tokens"),
        nf.alias("n_flagged"),
        F.size(
            F.array_intersect(
                toks, F.array(*[F.lit(w) for w in sorted(blocklist)])
            )
        )
        .cast("long")
        .alias("n_distinct_flagged"),
        (nf * F.lit(1000) <= F.lit(int(max_frac_millis)) * nt).alias("keep"),
    )


# Bloom position mixers: p_j = (h * A_j + B_j) % BLOOM_M over the
# 32-bit gram hash h. BLOOM_M is PRIME (largest < 2^20), so the mod
# mixes every bit of h * A_j; a power-of-two modulus would keep only
# the low bits and make the k probes collide together. h < 2^32 and
# A_j < 2^17 keep the product < 2^49 -- exact in BIGINT/int64 on both
# engines, no overflow under Spark 4 ANSI mode.
BLOOM_A = (48271, 69621, 40692)
BLOOM_B = (11, 17, 23)
BLOOM_M = 1048573


def bloom_contamination(
    docs: DataFrame,
    n_shingle: int = 5,
    eval_mod: int = 20,
    flag_millis: int = 200,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Bloom-filter decontamination -- the JOIN-FREE scale sibling of
    `contamination`. The eval suite's n-grams compile into a ~128 KiB
    bit array broadcast to every executor; the 100-TB train side is
    probed with a zero-copy mapInArrow membership test and NEVER
    shuffles, never joins -- the shape GPT-3/Llama-style pipelines use
    to screen a web corpus against benchmarks.

    Output: one row per TRAIN doc (the big side -- `contamination`
    reports the eval side): (doc_id, n_shingles, n_hits, flagged)
    where n_hits counts the doc's distinct grams whose k=3 Bloom
    probes ALL hit set bits, and flagged is the exact-integer rule
    n_hits * 1000 >= flag_millis * n_shingles (never for shingle-less
    docs). False positives at the ~2^20-bit / k=3 design point are
    part of the defined semantics -- the DuckDB oracle reproduces the
    exact bit array, so the driver compare covers them too.

    Scale shape (100 TB): the build side collects DISTINCT bit
    positions to the driver -- bounded by k * distinct eval grams and
    by BLOOM_M (2^20) regardless of corpus size, the same bounded-
    collect contract as the band-size table in dedup.py. The probe is
    one Arrow pass over narrow (doc_id, gram-hash-array) rows: int64
    position arithmetic + three uint8 gathers per gram, summed per doc
    with cumsum-over-offsets. No join, no shuffle, no pandas boxing.
    """
    # one hoisted+fused interpreted pass: the token array is a REAL
    # column (an attribute reference inside the lambda — the inlined
    # split() would be re-evaluated per element, the round-5 hoist
    # trap), and the n-gram build and its hash run in ONE transform
    # instead of transform(shingles(...), hash)'s two lambda passes;
    # same strings, same hashes, same distinct-after-hash order
    k = F.greatest(F.size(F.col("_t")) - F.lit(n_shingle - 1), F.lit(0))
    sh_expr = F.when(
        k > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - F.lit(1)),
                lambda i: shingle_hash32(
                    F.concat_ws(
                        " ", F.slice(F.col("_t"), i + 1, n_shingle)
                    ),
                    hash_fn,
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    split = docs.withColumn(
        "_t", words(F.col("text"))
    ).select(
        "doc_id",
        sh_expr.alias("sh"),
        (
            F.pmod(_hash32(F.col("doc_id"), "e:", hash_fn), F.lit(eval_mod))
            == 0
        ).alias("is_eval"),
    )
    ev_h = split.filter(F.col("is_eval")).select(F.explode("sh").alias("h"))
    pos_rows = (
        ev_h.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.col("h") * F.lit(a) + F.lit(b), F.lit(BLOOM_M)
                        )
                        for a, b in zip(BLOOM_A, BLOOM_B)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    import numpy as np

    bits = np.zeros(BLOOM_M, dtype=np.uint8)
    if pos_rows:
        bits[np.fromiter((r.p for r in pos_rows), dtype=np.int64)] = 1
    sc = docs.sparkSession.sparkContext
    b_bits = sc.broadcast(bits)

    def probe(batches):
        import pyarrow as pa

        bb = b_bits.value
        for batch in batches:
            ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            lst = batch.column("sh")
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = lst.values.to_numpy(zero_copy_only=False).astype(np.int64)
            hit = np.ones(len(vals), dtype=np.uint8)
            for a, b in zip(BLOOM_A, BLOOM_B):
                hit &= bb[(vals * a + b) % BLOOM_M]
            csum = np.concatenate(
                [[0], np.cumsum(hit.astype(np.int64))]
            )
            n_hits = csum[offs[1:]] - csum[offs[:-1]]
            n_sh = offs[1:] - offs[:-1]
            flagged = (n_sh > 0) & (
                n_hits * 1000 >= int(flag_millis) * n_sh
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(n_sh, pa.int64()),
                    pa.array(n_hits, pa.int64()),
                    pa.array(flagged, pa.bool_()),
                ],
                names=["doc_id", "n_shingles", "n_hits", "flagged"],
            )

    train = split.filter(~F.col("is_eval")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "sh"
    )
    return train.mapInArrow(
        probe,
        schema="doc_id long, n_shingles long, n_hits long, flagged boolean",
    )


def temperature_mixture(
    docs: DataFrame,
    token_budget: int,
    group_col: str = "lang",
    salt: str = "tm:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Temperature-balanced mixture sampling at alpha = 0.5 -- the
    XLM-R/mT5 language-balancing rule with the weights DERIVED
    IN-PLAN from measured token mass (budget_mixture's sibling where
    the caller supplies weights): group g's share of the token budget
    is sqrt(t_g) / sum_h sqrt(t_h), which upsamples small languages
    relative to proportional mixing without letting any group dominate.

    alpha is fixed at 0.5 BY DESIGN: sqrt is an IEEE correctly-rounded
    op, so the derived shares replay bit-identically in the DuckDB
    twin -- a general pow(t, alpha) differs by ~1 ulp across engines
    (CLAUDE.md oracle notes) and could flip a floor'd threshold.
    Each sqrt is quantized floor(sqrt(t_g) * 1e6) -> BIGINT before the
    cross-group total, so the normalizing sum is exact integer
    arithmetic regardless of group iteration order.

        thr_g = floor(budget * s_g / S / t_g * 1e6),  s_g = floor(sqrt(t_g)*1e6)
        keep  iff  hash(doc_id) mod 1e6 < min(thr_g, 1e6)

    Returns surviving (doc_id, grp, n_tokens, u) rows.

    Scale shape (100 TB): identical to budget_mixture -- one per-group
    aggregate (map-side partials) broadcast back onto the scan, one
    integer-compare filter, no driver collect, no second corpus scan.
    """
    toks, stats = _group_tokens(docs, group_col)
    stats = stats.withColumn(
        "s_u", F.floor(F.sqrt(F.col("t_grp")) * F.lit(1e6)).cast("long")
    )
    total = stats.agg(F.sum("s_u").cast("long").alias("s_tot"))
    thr = F.least(
        F.floor(
            F.lit(float(token_budget))
            * F.col("s_u").cast("double")
            / F.col("s_tot").cast("double")
            / F.col("t_grp")
            * F.lit(float(MILLION))
        ),
        F.lit(float(MILLION)),
    ).cast("long")
    rates = (
        stats.crossJoin(F.broadcast(total))
        .select("grp", thr.alias("thr"))
    )
    return _keep_under(toks, rates, F.col("thr"), salt, hash_fn).select(
        "doc_id", "grp", "n_tokens", "u"
    )


URL_BLOCKED_EXT = ("jpg", "png", "gif", "zip", "pdf", "exe", "css", "js")


def url_filter(
    pages: DataFrame,
    max_depth: int = 6,
    max_query_len: int = 32,
    blocked_ext: tuple = URL_BLOCKED_EXT,
    url_col: str = "url",
    id_col: str = "page_id",
) -> DataFrame:
    """Crawl-frontier URL prefilter -> (page_id, url, path_depth,
    query_len, ext, keep, reason): the rule gate a crawler runs BEFORE
    fetching -- binary/media extensions, calendar-crawl path depth,
    and session-id query strings are dropped by URL shape alone, which
    at 100 TB saves the fetch, the store, and every downstream stage.

    Rules (first failing rule names the reason, 'ok' otherwise):
      ext   -- the path's final .extension is on the blocklist
      depth -- more than max_depth path segments
      query -- query string longer than max_query_len chars

    Every expression is a portable regex (Java == RE2 subset: no
    lookaround, no backrefs) on the lowercased URL; extension parsing
    strips query/fragment FIRST so 'a.jpg?x=1' is caught. Zero
    shuffles -- a pure codegen projection that composes with the scan.
    """
    u = F.lower(F.col(url_col))
    no_qf = F.regexp_replace(u, r"[?#].*$", "")
    # path part: strip protocol+host, keep everything from the first /
    path = F.regexp_replace(no_qf, r"^[a-z][a-z0-9+.-]*://[^/]*", "")
    trimmed = F.regexp_replace(path, r"/+$", "")
    depth = (
        F.length(trimmed) - F.length(F.regexp_replace(trimmed, "/", ""))
    ).cast("long")
    # ext comes from the PATH component only: on a path-less URL the
    # host TLD is not an extension ('cdn.example.js' must not parse as
    # ext='js'), and an empty path yields ext=''
    ext = F.regexp_extract(path, r"\.([a-z0-9]{1,5})$", 1)
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    qlen = F.length(qs).cast("long")
    bad_ext = ext.isin(*blocked_ext)
    bad_depth = depth > F.lit(int(max_depth))
    bad_query = qlen > F.lit(int(max_query_len))
    reason = (
        F.when(bad_ext, F.lit("ext"))
        .when(bad_depth, F.lit("depth"))
        .when(bad_query, F.lit("query"))
        .otherwise(F.lit("ok"))
    )
    return pages.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(url_col).alias(url_col),
        depth.alias("path_depth"),
        qlen.alias("query_len"),
        ext.alias("ext"),
        (~(bad_ext | bad_depth | bad_query)).alias("keep"),
        reason.alias("reason"),
    )


def curriculum_order(
    docs: DataFrame,
    score_col: str,
    cuts: list[float],
    n_shards: int = 16,
    salt: str = "cu:",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Curriculum training order: documents are stratified into
    difficulty buckets by explicit `cuts` (boundaries from a prior
    profile run, e.g. hist_quantile — bucket b = # cuts <= score,
    half-open [cut, next)), shuffled WITHIN each bucket by
    deterministic hash, and interleaved round-robin across buckets so
    a training loader reading in `rank` order sees a difficulty mix
    that cycles easy->hard at every step instead of blocks. Returns
    (doc_id, bucket, shard, pos, rank); rank is a SPARSE total order
    (gaps where a (bucket, shard) runs out of docs are harmless to a
    rank-ordered reader).

    rank = ((pos - 1) * n_shards + shard) * n_buckets + bucket — pure
    arithmetic from per-partition positions, so NO global sort exists
    anywhere.

    Scale shape (100 TB): explicit cuts keep the plan shuffle-free up
    to the one window exchange — no distribution scan, no percentile
    barrier (deciles computed at corpus scale belong to a profiling
    pass, not the ordering plan). The row_number window partitions by
    (bucket, shard): n_buckets x n_shards bounded partitions, the
    same executor-sort-budget argument as global_shuffle's shards."""
    n_buckets = len(cuts) + 1
    score = F.col(score_col)
    bucket = sum(
        (F.when(score >= F.lit(float(c)), 1).otherwise(0) for c in cuts),
        F.lit(0),
    ).cast("long")
    h = _hash32(F.col("doc_id"), salt, hash_fn)
    from pyspark.sql import Window

    w = Window.partitionBy("bucket", "shard").orderBy(
        F.asc("h"), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", bucket.alias("bucket"), h.alias("h"))
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(
            "doc_id",
            "bucket",
            "shard",
            "pos",
            (
                ((F.col("pos") - 1) * F.lit(n_shards) + F.col("shard"))
                * F.lit(n_buckets)
                + F.col("bucket")
            )
            .cast("long")
            .alias("rank"),
        )
    )


def source_kl_divergence(docs: DataFrame) -> DataFrame:
    """Per-source KL divergence from the corpus unigram distribution —
    the data-mixing drift monitor: KL(P_s || P_corpus) over whitespace
    tokens with add-one smoothing of the source model over the corpus
    vocabulary (the corpus model needs none: every vocab token has
    count >= 1). Complements psi_drift (binned numeric PSI) and
    dsir_logratio (per-document importance) with the per-SOURCE
    distributional distance.

    With V = |vocab|, N = corpus tokens, N_s/T_s = source tokens/types,
    c/c_s = corpus/source token counts, D = N_s + V, the sum over the
    FULL vocabulary collapses to census-only terms (absent tokens
    contribute through corpus scalars — no source x vocab cross):

        KL_s * D [micro-nats] = A_s + L_s - L_all + D*(ln_u N - ln_u D)
        A_s   = sum_present (c_s+1) * (ln_u(c_s+1) - ln_u c)
        L_s   = sum_present ln_u c;   L_all = sum_vocab ln_u c

    ln_u is the engine-wide micro-nat quantizer (`stats.ln_u`) on
    exact integer counts; every sum above is exact BIGINT arithmetic,
    and the final kl_nats = (CAST(kl_num)/CAST(D))/1e6 is two
    fixed-order correctly-rounded divisions — bitwise portable, no
    rounding grid.

    Scale shape: one (source, token) census exchange over the exploded
    corpus, ONE token-partition window pass attaching the corpus count
    (c = sum over sources) AND electing one row per token (row_number
    on the same partitioning — no second exchange) for the vocab
    scalars, then a source rollup over the vocabulary-sized census.
    Sources whose documents contain no tokens are absent by definition.

    Output: (source, n_tokens, n_types, kl_num, kl_nats), kl_num the
    exact BIGINT numerator (micro-nats x D) for auditability.
    """
    st = (
        docs.select("source", F.explode(words_or_empty(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    wt = Window.partitionBy("token")
    stw = st.select(
        "source",
        "token",
        "c_s",
        F.sum("c_s").over(wt).alias("c"),
        F.row_number()
        .over(Window.partitionBy("token").orderBy("source"))
        .alias("_rn"),
    ).persist()
    scal = stw.where(F.col("_rn") == 1).agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n_corpus"),
        F.sum(ln_u(F.col("c"))).cast("long").alias("l_all"),
    )
    per = stw.groupBy("source").agg(
        F.sum("c_s").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c_s") + 1) * (ln_u(F.col("c_s") + 1) - ln_u(F.col("c"))))
        .cast("long")
        .alias("_a"),
        F.sum(ln_u(F.col("c"))).cast("long").alias("_l"),
    )
    d = F.col("n_tokens") + F.col("v")
    kl_num = (
        F.col("_a")
        + F.col("_l")
        - F.col("l_all")
        + d * (ln_u(F.col("n_corpus")) - ln_u(d))
    )
    out = per.crossJoin(F.broadcast(scal)).select(
        "source",
        "n_tokens",
        "n_types",
        kl_num.cast("long").alias("kl_num"),
        (
            (kl_num.cast("double") / d.cast("double")) / F.lit(1e6)
        ).alias("kl_nats"),
    )
    return hold(out, stw)
