"""Deduplication operators over documents — exact and near-dup.

Lineage: generalizes the reference's hash anti-join dedup (SURVEY.md
J3: cadastre-pg/src/cli.rs:227-242,466-474 — broadcast the existing
hash set, skip members) and distinct-by-hash (A7, postgres.rs:379-388)
from geometry hashes to web-text content, and adds the near-dup family
a 100 TB training-data pipeline needs (MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine).

Everything below is built from JVM-side primitives (split / transform /
aggregate / xxhash64 / explode / groupBy) — no Python in any hot path.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .held import hold

# deterministic MinHash parameters (seeded once, shared engine-wide).
# The shingle hash is masked to 32 bits so the affine mix a*h+b stays
# far inside int64 (Spark 4 runs ANSI mode: long overflow is an error).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
N_HASHES = 32
BANDS = 8  # 4 rows per band
_A = [2 * i + 1 for i in range(1, N_HASHES + 1)]  # odd multipliers
_B = [(2654435761 * (i + 1)) % MINHASH_PRIME for i in range(N_HASHES)]


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content: (keep_doc_id, n_copies).
    keep = min doc_id, matching the reference's 'first wins' skip
    (cli.rs:466-474).

    Groups by sha2(text) rather than the text itself so the shuffle
    key (and the map-side partial-aggregate hash table) carries 64 hex
    chars per group instead of whole documents — at 100 TB the raw-text
    key would ship the full corpus through the exchange. Output is
    identical up to sha256 collisions (~2^-128)."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("_text_sha"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def dedup_anti_join(new_docs: DataFrame, existing_hashes: DataFrame) -> DataFrame:
    """J3 semantics: drop rows whose sha256(text) is already present.
    existing_hashes: (text_sha). Broadcast left-anti — the Spark form of
    the reference's in-memory HashSet probe."""
    hashed = new_docs.withColumn("text_sha", F.sha2(F.col("text"), 256))
    return hashed.join(F.broadcast(existing_hashes), "text_sha", "left_anti").drop(
        "text_sha"
    )


def norm_text(text_col) -> F.Column:
    """Canonical text normalization for normalization-invariant dedup:
    strip every char outside [A-Za-z0-9 whitespace] FIRST (so the later
    lowercase only ever sees ASCII — unicode case-mapping edge cases
    like dotted-I can never diverge between engines), then lowercase
    and collapse whitespace runs to single spaces. Pure JVM regex."""
    ascii_only = F.regexp_replace(text_col, r"[^A-Za-z0-9\s]", "")
    return F.trim(F.regexp_replace(F.lower(ascii_only), r"\s+", " "))


def norm_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization-invariant exact duplicate groups — the
    'fuzzy-exact' rule corpus pipelines run between byte-exact dedup
    and near-dup (catches case/punctuation/whitespace re-renders of
    the same page that sha-of-raw-bytes misses). Groups docs whose
    norm_text is identical: (keep_doc_id, n_copies, n_raw_variants),
    keep = min doc_id (the reference's first-wins skip, cli.rs:466-474),
    n_raw_variants = distinct RAW texts merged into the group (how much
    normalization bought beyond exact_dedup).

    Scale shape: same as exact_dedup — the shuffle key is sha2 of the
    NORMALIZED text (64 hex chars, never the document), one hash
    aggregate with map-side partials. countDistinct on raw text is
    computed as a sha too, so the exchange stays narrow."""
    nsha = F.sha2(norm_text(F.col(text_col)), 256)
    rsha = F.sha2(F.col(text_col), 256)
    return (
        docs.groupBy(nsha.alias("_nsha"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct(rsha).alias("n_raw_variants"),
        )
        .select("keep_doc_id", "n_copies", "n_raw_variants")
    )


def shingles(text_col, n: int = 3):
    """Word n-gram shingle array, built JVM-side:
    tokens -> transform(sequence) -> concat_ws slices."""
    tokens = F.split(F.trim(text_col), r"\s+")
    k = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), k - F.lit(1))
    return F.when(
        k > 0,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))),
    ).otherwise(F.array())


def shingle_hash32(col, hash_fn: str = "xxhash64"):
    """32-bit hash of a string column, JVM-side. 'xxhash64' (default,
    fastest) or 'md5' — the md5 variant takes the first 8 hex chars of
    the digest, exactly reproducible in DuckDB SQL for the independent
    oracle (DuckDB has no xxhash64)."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(1 << 32))
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def shingle_hash_rows(
    docs: DataFrame,
    n_shingle: int,
    hash_fn: str,
    text_col: str = "text",
    carry: tuple = (),
) -> DataFrame:
    """(doc_id, *carry, h): one narrow row per word-n-gram OCCURRENCE,
    hashed entirely in codegen — n-grams from arrays_zip over n shifted
    slices + concat_ws + hash, never a transform() lambda (Catalyst
    HOF lambdas are interpreted; hashing inside one measured 4.7 s
    steady at sf0.1 vs 0.9 s for this shape). Docs with fewer than
    n_shingle tokens contribute no rows. `carry` names doc-constant
    columns to thread through (e.g. a length band)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select("doc_id", *carry, toks.alias("t")).where(
        F.size("t") >= F.lit(n_shingle)
    )
    k = F.size("t") - F.lit(n_shingle - 1)
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("t"), i + 1, k).alias(f"w{i}")
            for i in range(n_shingle)
        ]
    )
    sg = F.concat_ws(" ", *[F.col(f"p.w{i}") for i in range(n_shingle)])
    return base.select(
        "doc_id", *carry, F.explode(zipped).alias("p")
    ).select("doc_id", *carry, shingle_hash32(sg, hash_fn).alias("h"))


def _sig_min_aggs():
    """The N_HASHES affine-mix MIN aggregates over a (doc_id, h) row
    frame — codegen hash aggregation with map-side partials (the
    exchange carries 32 longs per doc, not shingle rows). Replaces the
    earlier in-row array_min-over-transform mixes on the hot paths: the
    interpreted mix lambdas measured 11.4 s steady at sf0.1 for the
    full store vs 1.3 s for this plan, bit-identical signatures."""
    return [
        F.min(
            F.pmod(
                F.col("h") * F.lit(_A[i]) + F.lit(_B[i]),
                F.lit(MINHASH_PRIME),
            )
        ).alias(f"_m{i}")
        for i in range(N_HASHES)
    ]


def _sig_array_col():
    return F.array(*[F.col(f"_m{i}") for i in range(N_HASHES)])


def minhash_signatures(
    docs: DataFrame, n_shingle: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig array<long>[N_HASHES]); docs with no shingles are
    dropped. One codegen hash aggregate over (doc_id, h) rows — see
    _sig_min_aggs for the measured plan choice."""
    ex = shingle_hash_rows(docs, n_shingle, hash_fn)
    return (
        ex.groupBy("doc_id")
        .agg(*_sig_min_aggs())
        .select("doc_id", _sig_array_col().alias("sig"))
    )


def _band_keys(ss: DataFrame) -> DataFrame:
    """(doc_id, band, key) — the BANDS LSH band keys per signature row,
    exploded JVM-side. Shared by the batch, prefilter, and incremental
    candidate generators."""
    rows_per_band = N_HASHES // BANDS
    return ss.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.key")


def _lsh_candidates(ss: DataFrame, max_bucket: int):
    """LSH band-bucket candidate pairs from a signature table
    ss(doc_id, sig[N_HASHES], ...): explode the BANDS band keys,
    self-join on (band, key), cap degenerate buckets. Returns
    (cand(doc_a, doc_b), skipped(band, key, n)). Shared by
    minhash_lsh_pairs and ngram_jaccard_pairs(prefilter='minhash')."""
    banded = _band_keys(ss)

    # bucket sizes via one window over the SAME (band, key) partitioning
    # the self-join shuffles on — one exchange instead of a groupBy +
    # semi-join pair (fewer AQE stages; identical cap semantics)
    from pyspark.sql import Window

    w_bucket = Window.partitionBy("band", "key")
    sized = banded.withColumn("n", F.count(F.lit(1)).over(w_bucket))
    skipped = (
        sized.filter(F.col("n") > max_bucket).select("band", "key", "n").distinct()
    )
    banded_ok = sized.filter(F.col("n") <= max_bucket).drop("n")

    left = banded_ok.alias("l")
    right = banded_ok.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand, skipped


def minhash_store(
    docs: DataFrame, n_shingle: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, sig[N_HASHES], sset) — the per-snapshot signature store.
    At scale this is WRITTEN (parquet, bucketed by doc_id) once per
    corpus snapshot and re-read by incremental_neardup for every new
    crawl, so signatures are computed exactly once per document ever."""
    # a small single-file scan arrives as ONE task; the shingle+hash
    # fan-out is CPU-bound map-side work, so spread it first. At scale
    # the input already has >= parallelism partitions and this is a
    # no-op.
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    ex = shingle_hash_rows(docs, n_shingle, hash_fn)
    return (
        ex.groupBy("doc_id")
        .agg(*_sig_min_aggs(), F.collect_set("h").alias("sset"))
        .select("doc_id", _sig_array_col().alias("sig"), "sset")
    )


def incremental_neardup(
    new_docs: DataFrame,
    store: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_bucket: int = 4096,
    est_margin: float = 0.25,
) -> DataFrame:
    """Near-dup pairs for a NEW snapshot against an existing signature
    store (minhash_store output) — new-vs-store and new-vs-new, never
    store-vs-store. This is the 100-TB dedup shape: a crawl increment
    is matched against the standing corpus without re-banding the
    corpus against itself.

    Shape:
    - only the new docs are shingled/signed (the store is read, not
      recomputed);
    - the store's band table is probed ONLY where a new band key lands
      (left-semi against the broadcast distinct new keys — the store
      side never self-joins, and untouched buckets never shuffle);
    - bucket-size cap counts the touched buckets' FULL population
      (store + new), so cap semantics equal the batch operator's;
    - pair join keeps pairs with >= 1 new doc; verify (signature-
      estimate prefilter + exact hashed-set Jaccard) is identical to
      minhash_lsh_pairs, so on (store + new) input the result equals
      the batch pairs restricted to new-doc involvement — pytest-held.

    doc_ids must be globally unique across store and new snapshot.
    Returns (doc_a, doc_b, jaccard) with the `skipped(result)` metric
    and `_new_store_rows` — the new docs' signature rows to APPEND to the
    store for the next increment.
    """
    import math as _math

    ss_new = minhash_store(new_docs, n_shingle, hash_fn).persist()
    nb = _band_keys(ss_new).withColumn("is_new", F.lit(True))
    sb = _band_keys(store.select("doc_id", "sig"))
    touched = sb.join(
        F.broadcast(nb.select("band", "key").distinct()),
        ["band", "key"],
        "left_semi",
    ).withColumn("is_new", F.lit(False))
    all_b = nb.unionByName(touched)

    from pyspark.sql import Window

    w_bucket = Window.partitionBy("band", "key")
    sized = all_b.withColumn("n", F.count(F.lit(1)).over(w_bucket))
    skipped = (
        sized.filter(F.col("n") > max_bucket).select("band", "key", "n").distinct()
    )
    ok = sized.filter(F.col("n") <= max_bucket).drop("n")
    left, right = ok.alias("l"), ok.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.col("l.is_new") | F.col("r.is_new")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )

    ss_all = ss_new.unionByName(store.select("doc_id", "sig", "sset"))
    est_min = int(_math.ceil((threshold - est_margin) * N_HASHES - 1e-9))
    a_side = ss_all.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("sset").alias("set_a"),
    )
    b_side = ss_all.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("sset").alias("set_b"),
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    verified = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .filter(est >= F.lit(est_min))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b")).cast("double")
            / F.size(F.array_union("set_a", "set_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    verified._new_store_rows = ss_new
    return hold(verified, ss_new, skipped=skipped)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_bucket: int = 4096,
    est_margin: float = 0.25,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified with exact Jaccard over
    the 32-bit-hashed distinct shingle sets: (doc_a, doc_b, jaccard)
    with doc_a < doc_b. Jaccard is computed in hashed-shingle space
    (identical to string-shingle Jaccard up to 2^-32 hash collisions) —
    the verify shuffle then carries ~8 B per shingle instead of the
    full shingle strings, the round-1 cost center.

    Scale shape:
    - signatures + distinct hash sets in ONE pass over the text
      (shared `sh` array), persisted for the 3 downstream consumers;
    - band-bucket equi-join (shuffle on (band, key)) — never all-pairs;
    - degenerate-bucket cap: buckets with > max_bucket members
      (boilerplate/empty-doc mega-buckets that would go quadratic) are
      SKIPPED, and the skipped buckets are attached as a metric
      DataFrame on the result (`skipped(result)`: band, key, n)
      — no silent caps;
    - verify rung 1 (JVM): signature-estimated Jaccard (matching
      minhash fraction) must reach threshold - est_margin before the
      exact set intersection runs. A band match already implies >= 4/32
      agreement; the margin keeps the drop probability for a pair at
      the threshold below ~1e-3 while pruning boilerplate-bucket junk
      at higher thresholds.
    """
    ss = minhash_store(docs, n_shingle, hash_fn).persist()

    cand, skipped = _lsh_candidates(ss, max_bucket)

    # integer cutoff so engine and SQL oracle compare identically
    import math as _math

    est_min = int(_math.ceil((threshold - est_margin) * N_HASHES - 1e-9))
    a_side = ss.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("sset").alias("set_a"),
    )
    b_side = ss.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("sset").alias("set_b"),
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    verified = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .filter(est >= F.lit(est_min))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b")).cast("double")
            / F.size(F.array_union("set_a", "set_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return hold(verified, ss, skipped=skipped)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n_shingle: int = 3,
    threshold: float = 0.5,
    band_width: int = 8,
    hash_fn: str = "xxhash64",
    max_band: int = 4096,
    prefilter: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs bucketed by token-count
    band (width `band_width`) — the non-probabilistic sibling of
    minhash_lsh_pairs, SQL-oracle-friendly. The band is the candidate-
    generation contract: pairs whose token counts fall in different
    bands are not candidates (documents at jaccard >= 0.5 rarely differ
    by more than ~2x the band in length; widen band_width to trade
    recall for join fan-out).

    Scale shape (mirrors minhash_lsh_pairs):
    - bands with > max_band members are SKIPPED (the within-band pair
      grid is O(band²) by the exact contract — a web-scale corpus puts
      millions of docs in one length band, which no salting can shrink)
      and reported on the result as `skipped(result)` (band, n) — no
      silent caps;
    - prefilter='minhash' is the SCALE PATH past that cap: candidates
      come from the shared LSH band buckets (_lsh_candidates — a
      (band,key) equi-join, never all-pairs) instead of the exact
      within-band grid, then the SAME token-band contract and exact
      hashed-set Jaccard verify apply. Probabilistic recall (a pair at
      threshold j survives banding with 1-(1-j^4)^8), exact precision;
      skipped LSH buckets reported as `skipped(result)`;
    - an EXACT size-ratio prefilter inside the join condition:
      jaccard <= min(|A|,|B|)/max(|A|,|B|), so pairs failing
      least >= threshold*greatest can never reach the threshold and are
      pruned before the set intersection runs (result-identical).

    Jaccard runs over 32-BIT-HASHED shingle sets (== string-set Jaccard
    up to 2^-32 collisions): int intersections are ~10x cheaper than
    string intersections and the quadratic-within-band verify is the
    cost center (measured 55 s -> seconds at sf0.1)."""
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    band = ((ntok - F.pmod(ntok, F.lit(band_width))) / F.lit(band_width)).cast("long")
    if prefilter == "minhash":
        return _ngram_jaccard_lsh(docs, band, n_shingle, threshold, hash_fn, max_band)
    if prefilter is not None:
        raise ValueError(f"unknown prefilter {prefilter!r}")
    # one CPU-bound pass builds the hashed sets; PERSIST it — three
    # consumers (band sizes, both self-join sides) would otherwise each
    # recompute the shingle+hash+distinct pipeline, the dominant cost.
    # Repartition the DOCS first (narrow rows), THEN hash: a single-file
    # scan is one task, and computing the md5 shingles upstream of the
    # exchange would serialize the whole pass into it (playbook rule:
    # repartition single-file scans before CPU-bound stages).
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    # codegen row frame + collect_set agg, not array_distinct over an
    # interpreted transform lambda (see shingle_hash_rows). Docs with
    # zero shingles drop here — they can never pass the size-ratio
    # prune or the jaccard>=threshold filter, so output is identical.
    sets = (
        shingle_hash_rows(
            docs.select("doc_id", band.alias("band"), "text"),
            n_shingle,
            hash_fn,
            carry=("band",),
        )
        .groupBy("doc_id", "band")
        .agg(F.collect_set("h").alias("sset"))
        .select("doc_id", "sset", "band")
        .persist()
    )
    # band occupancy MEASURED driver-side (statistics-first, the same
    # gate pattern as spatial_join.gate_stats): the band-size
    # table is one row per length band — collecting it costs one tiny
    # TOKENIZE-ONLY job (no md5/distinct, no wait on the persist), and
    # pruning with a LITERAL isin keeps the anti-join (and its
    # broadcast + extra AQE stages) out of the pair-grid plan entirely
    spark = docs.sparkSession
    sizes = (
        docs.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    over = [(r.band, r.n) for r in sizes if r.n > max_band]
    skipped = spark.createDataFrame(over, "band long, n long")
    ok = sets
    if over:
        ok = sets.filter(~F.col("band").isin([b for b, _ in over]))
    ok = ok.withColumn("sz", F.size("sset"))
    # the pair grid is quadratic-within-band COMPUTE over a tiny-ROWS
    # input — AQE coalesces it into one task if joined on band alone
    # (size stats can't see the fan-out). Salt the grid: each a-row
    # keeps one deterministic salt, b-rows replicate across all salts,
    # so a band's pairs split into `salt` column-strips that parallelize
    # (every pair still meets exactly once, at a's salt).
    salt = 32
    a = ok.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(salt))).alias("a")
    b = ok.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.salt") == F.col("b.salt"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # exact prune: jaccard <= min/max sizes; the 1e-9 slack keeps a
        # pair sitting exactly AT the threshold from a float-order drop
        & (
            F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
            >= F.greatest(F.col("a.sz"), F.col("b.sz")).cast("double")
            * F.lit(float(threshold))
            - F.lit(1e-9)
        ),
    )
    out = pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(
            F.size(F.array_intersect("a.sset", "b.sset")).cast("double")
            / F.size(F.array_union("a.sset", "b.sset")).cast("double"),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    return hold(out, sets, skipped=skipped)


def _ngram_jaccard_lsh(
    docs: DataFrame,
    band_col,
    n_shingle: int,
    threshold: float,
    hash_fn: str,
    max_bucket: int,
) -> DataFrame:
    """prefilter='minhash' body: ONE pass builds (band, hashed shingle
    set, minhash signature); candidates from the capped LSH bucket join;
    verify = same-token-band + size-ratio prune + exact Jaccard."""
    ss = (
        shingle_hash_rows(
            docs.select("doc_id", band_col.alias("band"), "text"),
            n_shingle,
            hash_fn,
            carry=("band",),
        )
        .groupBy("doc_id", "band")
        .agg(*_sig_min_aggs(), F.collect_set("h").alias("sset"))
        .select(
            "doc_id", "band", "sset", _sig_array_col().alias("sig")
        )
        .persist()
    )
    cand, skipped = _lsh_candidates(ss, max_bucket)
    a = ss.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band").alias("band_a"),
        F.col("sset").alias("set_a"),
        F.size("sset").alias("sz_a"),
    )
    b = ss.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("sset").alias("set_b"),
        F.size("sset").alias("sz_b"),
    )
    out = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("band_a") == F.col("band_b"))
        .filter(
            F.least(F.col("sz_a"), F.col("sz_b")).cast("double")
            >= F.greatest(F.col("sz_a"), F.col("sz_b")).cast("double")
            * F.lit(float(threshold))
            - F.lit(1e-9)
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("set_a", "set_b")).cast("double")
                / F.size(F.array_union("set_a", "set_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return hold(out, ss, skipped=skipped)


def simhash(docs: DataFrame, bits: int = 32, hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash long): sign-sum of token-hash bits, JVM-side —
    explode tokens, per-bit conditional +-1 sums, repack. hash_fn='md5'
    uses the 32-bit md5 prefix (SQL-oracle-reproducible); bits must be
    <= 32 in that mode."""
    if hash_fn == "md5" and bits > 32:
        raise ValueError("md5 hash mode carries 32 bits")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn(
        "h",
        F.xxhash64("tok") if hash_fn == "xxhash64" else shingle_hash32(F.col("tok"), "md5"),
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    fp = sums.select(
        "doc_id",
        sum(
            (
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(bits)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    return fp


def derive_n_planes(
    n_vectors: int, target_occupancy: int = 128, lo: int = 4, hi: int = 24
) -> int:
    """Statistics-first plane count: enough sign bits that the EXPECTED
    bucket holds ~target_occupancy vectors (2^p buckets), clamped to
    [lo, hi]. Same measured-input gate as spatial_join.gate_stats:
    a fixed p=8 is 256 buckets forever — fine at 10^5 vectors,
    quadratic death at 10^9."""
    import math as _math

    if n_vectors <= target_occupancy:
        return lo
    return max(lo, min(hi, int(_math.ceil(_math.log2(n_vectors / target_occupancy)))))


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-duplicate vectors by cosine >= threshold. Candidates from
    deterministic random-hyperplane sign buckets; the bucket assignment
    and the exact verify are similarity's shared Arrow passes
    (`_unit_and_bucket`, `_pair_cosine` over the unit vectors;
    Catalyst's per-element higher-order folds are ~20x slower for
    64-dim arrays). Joins stay JVM-side.

    Scale guards (same treatment as minhash_lsh_pairs):
    - n_planes=None (default) derives the plane count from the MEASURED
      vector count (one cheap count job) via derive_n_planes, so bucket
      occupancy tracks the corpus instead of freezing at 2^8 buckets;
    - buckets with > max_bucket members (zero vectors, cluster
      collapse) are SKIPPED — the within-bucket pair join is O(n²/2^p)
      only while buckets stay bounded — and reported on the result as
      `skipped(result)` (bucket, n). No silent caps, no silent melt."""
    from .similarity import _pair_cosine, _unit_and_bucket

    if n_planes is None:
        n_planes = derive_n_planes(embeddings.count())
    # persist: both self-join sides consume the bucketed signatures —
    # without it the normalize+bucket pass runs once per side
    sig = _unit_and_bucket(embeddings, n_planes).persist()
    # bucket sizes via a window over the join's own shuffle key — the
    # rows move to (bucket) partitions once, sized, and join in place
    from pyspark.sql import Window

    w_bucket = Window.partitionBy("bucket")
    sized = sig.withColumn("n", F.count(F.lit(1)).over(w_bucket))
    skipped = (
        sized.filter(F.col("n") > max_bucket).select("bucket", "n").distinct()
    )
    ok = sized.filter(F.col("n") <= max_bucket).drop("n")
    a = ok.select(
        F.col("vec_id").alias("vec_a"), F.col("u").alias("ua"), "bucket"
    )
    b = ok.select(
        F.col("vec_id").alias("vec_b"), F.col("u").alias("ub"), "bucket"
    )
    cand = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))

    out = _pair_cosine(cand, ("vec_a", "ua"), ("vec_b", "ub"), unit=True).filter(
        F.col("cosine") >= F.lit(float(threshold))
    )
    return hold(out, sig, skipped=skipped)


def line_hash(col, hash_fn: str = "xxhash64"):
    """Full-width line-identity hash. Unlike shingle_hash32 (32-bit,
    enough for band bucketing) line identity is semantic — a collision
    deletes a real line — so xxhash64 keeps all 64 bits (~1e-8 expected
    collisions per 10^9 distinct lines). md5 mode is the 32-bit prefix
    the DuckDB oracle can replay; use it only for oracle runs."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def segment_lines(
    docs: DataFrame,
    segmenter: str = "newline",
    seg_tokens: int = 5,
    text_col: str = "text",
    carry_cols: tuple = (),
) -> DataFrame:
    """(doc_id, *carry_cols, pos, line): split each document into
    ordered segments.

    'newline' splits on \\n (the C4/CCNet line unit). 'tokens' chunks
    the whitespace token stream into non-overlapping seg_tokens-word
    windows — the segment unit for corpora without line structure
    (non-overlapping slices of the same JVM token array `shingles`
    windows over). Both are pure codegen Catalyst: the tokens mode
    explodes segment POSITIONS and slices each window out of the
    hoisted token array after the explode — no interpreted transform
    lambda builds a segment array (and no inlined split re-evaluates
    per element, the round-5 hoist trap)."""
    if segmenter == "newline":
        return docs.select(
            "doc_id",
            *carry_cols,
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
    if segmenter != "tokens":
        raise ValueError(f"unknown segmenter {segmenter!r}")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.greatest(
        F.ceil(F.size(F.col("_t")) / F.lit(float(seg_tokens))).cast("int"),
        F.lit(1),
    )
    return (
        docs.withColumn("_t", toks)
        .select(
            "doc_id",
            *carry_cols,
            "_t",
            F.posexplode(F.sequence(F.lit(0), n - F.lit(1))).alias(
                "pos", "_i"
            ),
        )
        .select(
            "doc_id",
            *carry_cols,
            "pos",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("_t"), F.col("pos") * seg_tokens + 1, seg_tokens
                ),
            ).alias("line"),
        )
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    segmenter: str = "newline",
    seg_tokens: int = 5,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
    group_col: str = None,
) -> DataFrame:
    """Cross-document line dedup (the C4/CCNet boilerplate rule): a
    segment occurring in >= min_docs DISTINCT documents is removed from
    EVERY document; survivors are reassembled in original order.
    Returns (doc_id, clean_text, n_kept, n_dropped) — one row per input
    document (clean_text is '' when every segment was boilerplate).

    Rules: duplicate occurrences WITHIN one document do not count
    toward min_docs (count_distinct doc_id); whitespace-only segments
    are never counted or dropped (they would otherwise all collide).

    group_col (e.g. 'source'): the CCNet HOST-BOILERPLATE variant --
    the duplicate census is scoped per group, so navigation chrome
    shared by every page of one host is dropped there without touching
    an unrelated host that legitimately reuses the phrase. The census
    key widens to (group, lh), the join matches on both, and the
    output carries the group column; everything else is unchanged.

    Scale shape (100 TB): the global duplicate census groups on the
    8-byte line hash with map-side partials — full text never enters an
    exchange KEY. The dup set (only hashes of lines duplicated across
    docs) is orders of magnitude smaller than the corpus; AQE
    broadcasts it into the left join when it fits, else the join
    shuffles on the same 8-byte key. One final exchange on doc_id
    reassembles — the only stage where text rides a shuffle, as
    payload, once. No Python anywhere.
    """
    sep = "\n" if segmenter == "newline" else " "
    gcols = [group_col] if group_col else []
    segs = segment_lines(
        docs, segmenter, seg_tokens, text_col, carry_cols=tuple(gcols)
    ).withColumn("lh", line_hash(F.col("line"), hash_fn))
    dup = (
        segs.where(F.trim(F.col("line")) != "")
        .groupBy(*gcols, "lh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= F.lit(min_docs))
        .select(*gcols, "lh", F.lit(True).alias("_dup"))
    )
    flagged = segs.join(dup, gcols + ["lh"], "left")
    kept_struct = F.when(F.col("_dup").isNull(), F.struct("pos", "line"))
    return flagged.groupBy("doc_id", *gcols).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
        ).alias("clean_text"),
        F.count(F.when(F.col("_dup").isNull(), 1)).alias("n_kept"),
        F.count(F.col("_dup")).alias("n_dropped"),
    )


def repeated_windows(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus repeated token-window census — the exact-substring
    dedup primitive (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every W-token window whose hash occurs
    >= min_count times ANYWHERE in the corpus (within-document repeats
    count too) is an exact duplicated span occurrence.

    Returns (doc_id, pos, h): 0-based window start positions of every
    duplicated-window occurrence. Feed to dup_span_stats for the
    per-document removal report.

    Scale shape (100 TB): windows explode to narrow (doc_id, pos, h)
    rows — the document text itself never leaves the scan stage. The
    census is a map-side-partial count on the 8-byte hash; the
    surviving dup-hash set (windows seen twice+) is tiny relative to
    the corpus, so AQE broadcasts it into the occurrence join when it
    fits, else the join shuffles on the same narrow key.
    """
    # windows hashed in codegen (arrays_zip over w shifted slices), not
    # a transform() lambda — HOF lambdas are interpreted; posexplode
    # keeps the 0-based window start position identically
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    k = F.size("t") - F.lit(w - 1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("t"), i + 1, k).alias(f"w{i}") for i in range(w)]
    )
    sg = F.concat_ws(" ", *[F.col(f"p.w{i}") for i in range(w)])
    wins = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= F.lit(w))
        .select("doc_id", F.posexplode(zipped).alias("pos", "p"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            shingle_hash32(sg, hash_fn).alias("h"),
        )
    )
    census = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= F.lit(min_count))
    )
    return wins.join(census.select("h"), "h").select("doc_id", "pos", "h")


def dup_span_stats(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """Per-document exact-substring dedup report from repeated_windows:
    (doc_id, n_windows, n_dup, cut_tokens, dup_frac) where cut_tokens
    is the token count covered by the UNION of the duplicated W-token
    windows (overlapping windows merge into maximal spans — the text a
    substring-dedup pass would cut) and dup_frac = n_dup / n_windows
    rounded to 6 dp (0.0 when the doc is shorter than W tokens).

    All span arithmetic is integer (coverage via lead(pos) capped at
    W), so the DuckDB oracle replays it exactly; the one division is a
    single correctly-rounded double op behind round().

    Scale shape: adds one doc_id window (exchange + sort over only the
    duplicated occurrences) and a per-doc count aggregate on top of
    repeated_windows; the n_windows branch re-derives counts from the
    scan (cheap column arithmetic) rather than persisting exploded
    windows.
    """
    from pyspark.sql import Window as W

    dup = repeated_windows(docs, w, min_count, hash_fn, text_col)
    lead = F.lead("pos").over(W.partitionBy("doc_id").orderBy("pos"))
    cov = dup.select(
        "doc_id",
        F.coalesce(F.least(F.lit(w), lead - F.col("pos")), F.lit(w)).alias("c"),
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup"),
        F.sum("c").cast("long").alias("cut_tokens"),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_win = docs.select(
        "doc_id",
        F.greatest(F.size(toks) - F.lit(w - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    return n_win.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
        F.coalesce(F.col("cut_tokens"), F.lit(0)).cast("long").alias("cut_tokens"),
        F.when(
            F.col("n_windows") > 0,
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                / F.col("n_windows").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def fuzzy_pairs(
    df: DataFrame,
    s_col: str = "s",
    max_dist: int = 2,
    len_band: int = 4,
    prefix: int = 2,
    max_block: int | None = None,
) -> DataFrame:
    """Blocked fuzzy-matching self-join (record linkage): pairs of
    DISTINCT strings within edit distance <= max_dist, found only
    among candidates sharing a blocking key. Output
    (s_a, s_b, dist) with s_a < s_b.

    Blocking contract (standard record-linkage tradeoff, documented
    rather than hidden): a candidate pair must agree on
    (first `prefix` chars, length // len_band). Near-matches that
    straddle a block boundary are NOT found — recall is traded for
    never running the O(n^2) all-pairs DP. Distance filtering uses
    Spark's THRESHOLDED levenshtein (banded DP, O(max_dist * len)
    per pair instead of O(len^2)), after a free length-difference
    prefilter.

    Scale shape: distinct (hash agg, narrow string keys) -> one
    equi-join on the block key -> per-pair banded DP. Skew guard:
    optional `max_block` drops blocks above the cap via a window
    count over the join's own partition key (one exchange) and
    reports them as `skipped(result)` (blk, n) — the engine's
    no-silent-cap rule.
    """
    strs = (
        df.select(F.col(s_col).alias("s"))
        .where(F.col("s").isNotNull() & (F.length("s") > 0))
        .distinct()
    )
    blocked = strs.select(
        "s",
        F.concat_ws(
            "|",
            F.substring("s", 1, prefix),
            F.floor(F.length("s") / F.lit(len_band)).cast("string"),
        ).alias("blk"),
    )
    skipped = None
    if max_block is not None:
        from pyspark.sql import Window

        w_blk = Window.partitionBy("blk")
        sized = blocked.withColumn("n", F.count(F.lit(1)).over(w_blk))
        skipped = sized.filter(F.col("n") > max_block).select("blk", "n").distinct()
        blocked = sized.filter(F.col("n") <= max_block).drop("n")
    a = blocked.select("blk", F.col("s").alias("s_a"))
    b = blocked.select("blk", F.col("s").alias("s_b"))
    dist = F.levenshtein("s_a", "s_b", max_dist)
    out = (
        a.join(b, "blk")
        .where(F.col("s_a") < F.col("s_b"))
        .where(
            F.abs(F.length("s_a") - F.length("s_b")) <= F.lit(max_dist)
        )
        .select("s_a", "s_b", dist.alias("dist"))
        .where(F.col("dist") >= 0)  # thresholded DP returns -1 past max_dist
    )
    return hold(out, skipped=skipped)


def _rarity_ordered(docs: DataFrame, doc_col: str, text_col: str):
    """Shared candidate-generation base of the prefix-filter family
    (setsim_join, containment_join): (census, ordered, hash_ok).

    census: persisted (token, df) document-frequency table — feeds the
    rarity join and the verify fast path's injectivity gate.
    ordered: per doc (id, toks sorted rarest-first as struct<df,token>
    [, tset sorted xxhash64 BIGINTs when hash_ok], s = |distinct
    tokens|). NOT yet persisted (callers persist per their plan).
    hash_ok: whether xxhash64 is injective on this corpus's vocabulary
    (checked with one one-row aggregate over the persisted census) —
    when true, verify may intersect the BIGINT hash arrays (~6x
    cheaper than struct arrays) with output provably identical."""
    tok = docs.select(
        F.col(doc_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("token"),
    )
    census = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df")).persist()
    hash_ok = bool(
        census.agg(
            (
                F.count(F.lit(1)) == F.countDistinct(F.xxhash64("token"))
            ).alias("ok")
        ).collect()[0][0]
    )
    aggs = [
        F.array_sort(
            F.collect_list(F.struct(F.col("df"), F.col("token")))
        ).alias("toks")
    ]
    if hash_ok:
        aggs.append(
            F.array_sort(F.collect_list(F.xxhash64("token"))).alias("tset")
        )
    ordered = (
        tok.join(census, "token")
        .groupBy("id")
        .agg(*aggs)
        .withColumn("s", F.size("toks"))
    )
    return census, ordered, hash_ok


def setsim_join(
    docs: DataFrame,
    threshold_num: int = 9,
    threshold_den: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact set-similarity self-join with LOSSLESS prefix filtering
    (the PPJoin family, Xiao et al.): all document pairs whose
    DISTINCT-token-set Jaccard >= threshold_num/threshold_den. Output
    (a_id, b_id, inter, uni, jaccard) — a_id < b_id, each pair once.

    Why lossless: order every doc's tokens by global rarity (document
    frequency asc, token asc — rarest first), and keep only the first
    |s| - ceil(t*|s|) + 1 tokens as the PREFIX. Two sets with Jaccard
    >= t MUST share a prefix token (pigeonhole on the ordered sets),
    so the equi-join on prefix tokens misses nothing — unlike minhash
    this is exact candidate generation, and the rarest-first order
    makes prefix buckets the SMALLEST available. A length filter
    (den*|b| >= num*|a| both ways) prunes further, also lossless.

    Exactness: the threshold test is integer cross-multiplication
    (den*inter >= num*(|a|+|b|-inter)) — no float threshold; jaccard
    is one closing division of exact integers.

    Scale shape: token census (narrow agg) joined back per token (the
    rarity key rides WITH the token — no global rank window, which
    would be a single-partition sort); per-doc sort is array_sort
    inside the row; candidates meet in a token equi-join deduped by
    the same groupBy that carries the pair (no distinct stage);
    verify is JVM array_intersect on the two sorted arrays. Prefix
    buckets are bounded by rarity ordering; a degenerate vocabulary
    still bounds each bucket by the token's document frequency.

    Skew guard: with `max_bucket` set, prefix tokens whose candidate
    bucket exceeds the cap are dropped from the equi-join and
    reported as `skipped(result)` (ptok, n) — the engine's
    no-silent-cap rule (same pattern as fuzzy_pairs). This trades recall for a bounded
    pair grid on a pathological corpus where every doc shares one
    rare token set (rarity ordering cannot bound that bucket): a
    pair meeting ONLY at a dropped token is lost, though at high
    thresholds near-dup pairs share many prefix tokens and usually
    meet elsewhere. The census is a window count over the join's own
    partition key (one exchange, no driver collect). Default None ==
    exact PPJoin (the oracle form).

    Verify fast path (measured gate, exactness preserved): the
    expensive stage is array_intersect over millions of candidate
    pairs, and intersecting struct<df,token> arrays is ~6x slower
    than intersecting sorted BIGINT arrays (14.3 s vs 2.5 s at 3.3M
    candidates). So each doc also carries `tset` =
    sorted(xxhash64(token)) and verify intersects the hash arrays —
    which equals the token intersection IFF xxhash64 is injective on
    this corpus's vocabulary. That is CHECKED, not assumed: one
    census-level aggregate compares count(distinct token) to
    count(distinct xxhash64(token)) (a one-row collect over the
    already-persisted census); on the measure-zero chance of a
    collision the verify falls back to the struct arrays. Exact
    either way.
    """
    census, ordered, hash_ok = _rarity_ordered(docs, doc_col, text_col)
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    plen = (F.col("s") - F.ceil(num * F.col("s") / den) + F.lit(1)).cast("int")
    # ordered feeds the prefix explode AND both verify-side array
    # lookups — persist once (one row per doc)
    ordered = ordered.persist()
    # the pair grid stays NARROW: ids + three ints per row. Carrying
    # the token-struct arrays through the token equi-join multiplies
    # every candidate row by both documents' payloads — measured 592 s
    # at sf0.1 (31-token vocabulary -> millions of wide candidate
    # rows); with id-only pairs + post-dedup array attach it is ~20x
    # cheaper and the shuffle volume no longer scales with doc length.
    pref = ordered.select(
        "id",
        "s",
        F.posexplode(F.slice(F.col("toks"), F.lit(1), plen)).alias("pos", "p"),
    ).select("id", "s", "pos", F.col("p.token").alias("ptok"))
    skipped_buckets = None
    if max_bucket is not None:
        from pyspark.sql import Window

        w_tok = Window.partitionBy("ptok")
        sized = pref.withColumn("bn", F.count(F.lit(1)).over(w_tok))
        skipped_buckets = (
            sized.filter(F.col("bn") > max_bucket)
            .select("ptok", F.col("bn").alias("n"))
            .distinct()
        )
        pref = sized.filter(F.col("bn") <= max_bucket).drop("bn")
    a = pref.select(
        F.col("id").alias("a_id"), F.col("s").alias("sa"),
        F.col("pos").alias("pa"), "ptok",
    )
    b = pref.select(
        F.col("id").alias("b_id"), F.col("s").alias("sb"),
        F.col("pos").alias("pb"), "ptok",
    )
    # positional filter (the ppjoin refinement): a pair meeting at
    # 0-based prefix positions (pa, pb) can overlap at most
    # min(sa - pa, sb - pb); the Jaccard threshold in overlap form is
    # (num+den)*o >= num*(sa+sb) — drop candidates whose CEILING
    # cannot reach it. Lossless (o <= ubound by construction), and on
    # a degenerate near-identical corpus it prunes the common-token
    # mega-bucket before the array_intersect verify, which is the
    # expensive stage.
    ubound = F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
    pairs = (
        a.join(b, "ptok")
        .where(F.col("a_id") < F.col("b_id"))
        .where((den * F.col("sb") >= num * F.col("sa"))
               & (den * F.col("sa") >= num * F.col("sb")))
        .where((num + den) * ubound >= num * (F.col("sa") + F.col("sb")))
        .groupBy("a_id", "b_id")
        .agg(F.min("sa").alias("sa"), F.min("sb").alias("sb"))
    )
    # arrays attach AFTER pair dedup, keyed by id — AQE broadcasts the
    # doc-array side when it fits, sort-merge otherwise (both correct
    # at any scale; the pair stream itself stays 4 narrow columns).
    # Verify on the BIGINT hash sets when the injectivity gate passed
    # (~6x cheaper intersect), struct arrays otherwise.
    vcol = "tset" if hash_ok else "toks"
    cand = pairs.join(
        ordered.select(F.col("id").alias("a_id"), F.col(vcol).alias("ta")),
        "a_id",
    ).join(
        ordered.select(F.col("id").alias("b_id"), F.col(vcol).alias("tb")),
        "b_id",
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    withi = cand.select(
        "a_id", "b_id", "sa", "sb", inter.alias("inter")
    ).where(den * F.col("inter") >= num * (F.col("sa") + F.col("sb") - F.col("inter")))
    uni = F.col("sa") + F.col("sb") - F.col("inter")
    out = withi.select(
        "a_id",
        "b_id",
        F.col("inter").cast("long").alias("inter"),
        uni.cast("long").alias("uni"),
        (F.col("inter").cast("double") / uni.cast("double")).alias("jaccard"),
    )
    return hold(out, ordered, census, skipped=skipped_buckets)


def containment_join(
    docs: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact ASYMMETRIC set-containment self-join: all ordered pairs
    (a, b), a != b, with |A n B| / |A| >= t over distinct-token sets —
    the "document a is (mostly) contained in document b" relation that
    catches quoted/subsumed/expanded pages, which symmetric Jaccard
    misses when |B| >> |A| (a 50-token quote inside a 5000-token page
    has Jaccard ~0.01 but containment 1.0). Output (a_id, b_id, inter,
    size_a, size_b, containment), containment = one closing division
    of exact integers.

    Lossless prefix (the asymmetric ppjoin variant): only the
    CONTAINED side posts a prefix — A's first |A| - ceil(t*|A|) + 1
    rarest tokens must include a shared token when containment >= t
    (pigeonhole: |A \\ B| <= |A| - ceil(t*|A|) < prefix length); the
    container side posts ALL its tokens (containment puts no bound on
    B's share). At the pair's rarest shared token no shared token
    precedes it on EITHER side (both orders are the same global
    rarity), so o <= min(sa - pa, sb - pb) — the positional filter —
    and den*sb >= num*sa prunes containers too small to hold the
    threshold. Verify reuses the injectivity-gated BIGINT-array
    intersect; pair grid stays ids + ints (the setsim narrow-grid
    rule); `max_bucket` caps posting-token buckets with the standard
    `skipped(result)` metric (default None == exact, the oracle
    form).

    Scale shape: the b side posting all tokens is the operator's
    honest cost — it is the inverted index a containment join needs;
    the a side's prefix keeps the candidate grid bounded by rarity.
    """
    census, ordered, hash_ok = _rarity_ordered(docs, doc_col, text_col)
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    plen = (F.col("s") - F.ceil(num * F.col("s") / den) + F.lit(1)).cast("int")
    ordered = ordered.persist()
    a = ordered.select(
        F.col("id").alias("a_id"),
        F.col("s").alias("sa"),
        F.posexplode(F.slice(F.col("toks"), F.lit(1), plen)).alias("pa", "p"),
    ).select("a_id", "sa", "pa", F.col("p.token").alias("ptok"))
    b = ordered.select(
        F.col("id").alias("b_id"),
        F.col("s").alias("sb"),
        F.posexplode(F.col("toks")).alias("pb", "p"),
    ).select(
        "b_id", "sb", "pb", F.col("p.token").alias("ptok"),
        F.col("p.df").alias("pdf"),
    )
    skipped_buckets = None
    if max_bucket is not None:
        # a posting token's bucket size IS its document frequency, and
        # the df rides inside every toks struct — the cap is a free
        # codegen filter on the exploded rows plus a census lookup for
        # the skip report (an earlier window-count formulation re-
        # shuffled the full posting table and measured 12x slower)
        skipped_buckets = census.filter(F.col("df") > max_bucket).select(
            F.col("token").alias("ptok"), F.col("df").alias("n")
        )
        b = b.where(F.col("pdf") <= max_bucket)
    b = b.drop("pdf")
    ubound = F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
    pairs = (
        a.join(b, "ptok")
        .where(F.col("a_id") != F.col("b_id"))
        .where(den * F.col("sb") >= num * F.col("sa"))
        .where(den * ubound >= num * F.col("sa"))
        .groupBy("a_id", "b_id")
        .agg(F.min("sa").alias("sa"), F.min("sb").alias("sb"))
    )
    vcol = "tset" if hash_ok else "toks"
    cand = pairs.join(
        ordered.select(F.col("id").alias("a_id"), F.col(vcol).alias("ta")),
        "a_id",
    ).join(
        ordered.select(F.col("id").alias("b_id"), F.col(vcol).alias("tb")),
        "b_id",
    )
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    withi = cand.select(
        "a_id", "b_id", "sa", "sb", inter.alias("inter")
    ).where(den * F.col("inter") >= num * F.col("sa"))
    out = withi.select(
        "a_id",
        "b_id",
        F.col("inter").cast("long").alias("inter"),
        F.col("sa").cast("long").alias("size_a"),
        F.col("sb").cast("long").alias("size_b"),
        (F.col("inter").cast("double") / F.col("sa").cast("double")).alias(
            "containment"
        ),
    )
    return hold(out, ordered, census, skipped=skipped_buckets)


def minhash_calibration(
    docs: DataFrame,
    n_shingle: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int = 4096,
) -> DataFrame:
    """Calibration report for the minhash Jaccard ESTIMATOR itself —
    the driver-visible quality metric for the near-dup family (the
    minhash analog of ivf_recall): over every LSH candidate pair
    (unfiltered — no estimate prefilter, no threshold), compare the
    signature estimate (matching positions / N_HASHES) against the
    exact hashed-shingle Jaccard and report ONE row:
    (n_pairs, mae, bias, max_abs_err). |bias| should be ~0 and mae
    ~= sqrt(j(1-j)/N_HASHES) averaged over pairs; a broken mix family
    or band layout shows up here long before dedup recall collapses.

    Numeric rule: per pair the error (est/N - jaccard) is two
    identically-ordered double ops quantized to integer micro-units
    (round(e*1e6) -> BIGINT), so the aggregation is exact integer sums
    in any order; the three final figures are single divisions behind
    a 6 dp round. Scale shape: minhash_lsh_pairs' shape minus the
    threshold filters — bucketed candidates with the measured cap +
    `skipped(result)`, never all-pairs; one final one-row aggregate.
    Call release_cached(result) after the action."""
    ss = minhash_store(docs, n_shingle, hash_fn).persist()
    cand, skipped = _lsh_candidates(ss, max_bucket)
    a_side = ss.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
        F.col("sset").alias("set_a"),
    )
    b_side = ss.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
        F.col("sset").alias("set_b"),
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    jac = F.size(F.array_intersect("set_a", "set_b")).cast("double") / F.size(
        F.array_union("set_a", "set_b")
    ).cast("double")
    err_u = F.round(
        (est.cast("double") / F.lit(float(N_HASHES)) - jac) * F.lit(1e6)
    ).cast("long")
    per = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .select(err_u.alias("e"))
    )
    out = per.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.abs(F.col("e"))).alias("sa"),
        F.sum("e").alias("se"),
        F.max(F.abs(F.col("e"))).alias("mx"),
    ).select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            F.col("sa").cast("double") / F.col("n_pairs").cast("double") / F.lit(1e6),
            6,
        ).alias("mae"),
        F.round(
            F.col("se").cast("double") / F.col("n_pairs").cast("double") / F.lit(1e6),
            6,
        ).alias("bias"),
        F.round(F.col("mx").cast("double") / F.lit(1e6), 6).alias("max_abs_err"),
    )
    return hold(out, ss, skipped=skipped)


def keep_best(
    docs: DataFrame,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Canonical selection — the step that CLOSES the near-dup pipeline
    (pairs -> clusters -> keep ONE doc per cluster, drop the rest).
    Returns one row per cluster: (cluster, survivor_id, n_docs,
    survivor_tokens). Survivor rule: most whitespace tokens, ties by
    lowest doc_id — deterministic, so the DuckDB twin replays it with
    the identical row_number ordering.

    Scale shape: the cluster table holds ONLY docs that appear in at
    least one near-dup pair (a small fraction of the corpus), so the
    token-count attach join and the per-cluster window both run over
    pair-participant rows, never the full corpus; the two window
    functions share one partition key (cluster) and plan into a single
    exchange. The corpus-sized work is all inside minhash_lsh_pairs,
    which is bucket-capped (`max_bucket`) and metered.
    """
    from pyspark.sql import Window

    from .graph import dedup_clusters

    cc = dedup_clusters(docs, threshold=threshold, hash_fn=hash_fn)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    j = cc.join(toks, "doc_id")
    w_cl = Window.partitionBy("cluster")
    w_rk = Window.partitionBy("cluster").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    out = (
        j.withColumn("n_docs", F.count(F.lit(1)).over(w_cl))
        .withColumn("rn", F.row_number().over(w_rk))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("survivor_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").alias("survivor_tokens"),
        )
    )
    return hold(out, cc)


def winnowing(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): per doc the DISTINCT set of selected k-gram
    hashes -> (doc_id, fpos, fph). From every window of `w`
    consecutive k-gram hashes keep the minimum (ties to the earliest
    position); the selection guarantee is that any shared token run of
    length >= w + k - 1 between two documents contributes at least one
    IDENTICAL fingerprint to both — the positional local fingerprint
    family (plagiarism/boilerplate detection), where minhash's global
    signature cannot localize matches.

    Determinism: the (hash, position) pair packs into ONE BIGINT
    (hash << 20 | pos — exact while a document has < 2^20 k-gram
    positions, i.e. ~1M tokens; raise the shift for longer docs), so
    the window min is plain integer MIN and the DuckDB twin replays it
    bit-for-bit — no struct-comparison semantics in play.

    Scale shape (100 TB): k-grams build via arrays_zip over k shifted
    slices + codegen concat/hash (the novelty_score rule — no
    interpreted HOF lambda); the rolling min is a per-DOCUMENT window
    (partitions bounded by doc length, never corpus-sized); the
    distinct is one narrow (doc_id, key) exchange."""
    assert w >= 1 and k >= 1
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select("doc_id", toks.alias("t")).where(
        F.size("t") >= F.lit(k + w - 1)
    )
    kk = F.size("t") - F.lit(k - 1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("t"), i + 1, kk).alias(f"w{i}") for i in range(k)]
    )
    sg = F.concat_ws(" ", *[F.col(f"p.w{i}") for i in range(k)])
    kg = base.select(
        "doc_id", F.posexplode(zipped).alias("pos", "p")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        shingle_hash32(sg, hash_fn).alias("h"),
    )
    keyed = kg.select(
        "doc_id",
        "pos",
        (F.shiftleft(F.col("h"), 20) + F.col("pos")).alias("key"),
    )
    from pyspark.sql import Window as W

    wspec = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sel = keyed.select(
        "doc_id",
        "pos",
        F.min("key").over(wspec).alias("mn"),
        F.count(F.lit(1)).over(W.partitionBy("doc_id")).alias("m"),
    ).where(F.col("pos") <= F.col("m") - F.lit(w))
    return (
        sel.select(
            "doc_id",
            F.col("mn").bitwiseAND(F.lit((1 << 20) - 1)).alias("fpos"),
            F.shiftrightunsigned(F.col("mn"), 20).alias("fph"),
        )
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int = 512,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """Candidate local-overlap pairs from shared winnowing
    fingerprints: (a_id, b_id, n_shared) for pairs sharing >=
    `min_shared` distinct selected hashes — the MOSS match step.
    Pairs meet in fingerprint-hash buckets (never all-pairs); buckets
    over `max_bucket` docs (corpus-wide boilerplate stamps) are
    dropped and reported as `skipped(result)` (fph, n) — the
    house no-silent-cap rule. The window count runs over the join's
    own partition key (one exchange, no driver collect)."""
    fps = winnowing(docs, k, w, hash_fn, text_col).select(
        "doc_id", "fph"
    ).distinct()
    from pyspark.sql import Window as W

    sized = fps.withColumn(
        "bn", F.count(F.lit(1)).over(W.partitionBy("fph"))
    )
    skipped = (
        sized.filter(F.col("bn") > max_bucket)
        .select("fph", F.col("bn").alias("n"))
        .distinct()
    )
    ok = sized.filter(F.col("bn") <= max_bucket).drop("bn")
    a = ok.select(F.col("doc_id").alias("a_id"), "fph")
    b = ok.select(F.col("doc_id").alias("b_id"), "fph")
    out = (
        a.join(b, "fph")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(min_shared))
    )
    return hold(out, skipped=skipped)


def sorted_neighborhood(
    docs: DataFrame,
    window: int = 3,
    prefix_len: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood method (SNM, Hernandez-Stolfo) ->
    (doc_a, doc_b, gap, jaccard): the classic entity-resolution
    blocking family the repo's hash-bucket blockers (minhash bands,
    setsim prefixes, fuzzy length-bands) don't cover -- sort records
    by a normalized key and compare each record only to its `window`
    predecessors in sort order, so near-identical records that sort
    adjacently pair up with linear candidate cost.

    Blocked variant: records are first partitioned by the key's
    prefix_len-char prefix (the practical SNM -- one global sort would
    serialize into a single partition at scale); the slide runs inside
    each block. Pairs are ordered doc_a < doc_b is NOT guaranteed --
    doc_a is the EARLIER record in (key, doc_id) sort order, which is
    the SNM contract. jaccard is exact over distinct whitespace
    tokens, attached AFTER pair generation by id join (tokens never
    ride the pair-generating stage -- the narrow-pair-grid house
    rule).

    Scale shape (100 TB): ZERO self-join for candidates -- the slide
    is `window` lag() columns over one per-block sort (one exchange on
    the bounded block key), exploded to (a, b, gap) rows. Token
    arrays attach by two id equi-joins afterward. A pathological
    block (every key sharing one prefix) degrades to one sorted
    partition of that block only; raise prefix_len to split it.
    """
    from pyspark.sql import Window as W

    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        norm_text(F.col(text_col)).alias("k"),
    ).select(
        "doc_id", "k", F.substring(F.col("k"), 1, prefix_len).alias("blk")
    )
    w = W.partitionBy("blk").orderBy(F.col("k").asc(), F.col("doc_id").asc())
    lags = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.array(
            *[
                F.struct(
                    F.lag("doc_id", g).over(w).alias("doc_a"),
                    F.lit(g).alias("gap"),
                )
                for g in range(1, window + 1)
            ]
        ).alias("cand"),
    )
    pairs = (
        lags.select("doc_b", F.explode("cand").alias("c"))
        .select(F.col("c.doc_a").alias("doc_a"), "doc_b", F.col("c.gap").alias("gap"))
        .where(F.col("doc_a").isNotNull())
    )
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+")).alias("t"),
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a")
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b")
    )
    inter = F.size(F.array_intersect(F.col("t_a"), F.col("t_b")))
    union = F.size(F.col("t_a")) + F.size(F.col("t_b")) - inter
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("gap").cast("long").alias("gap"),
            F.round(
                inter.cast("double") / union.cast("double"), 6
            ).alias("jaccard"),
        )
    )


def scrub_spans(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup APPLY (the cut step of Lee et al.):
    every token covered by ANY corpus-duplicated W-token window is
    removed and the document is rebuilt from the survivors —
    dup_span_stats reports what a scrub would cut; this op cuts it.
    Returns (doc_id, n_tokens, kept_tokens, text_scrubbed, scrub_sha);
    a fully-duplicated doc scrubs to the empty string (its sha is the
    empty-string sha — a downstream exact_dedup collapses those).

    Scale shape (100 TB): the rebuild necessarily touches every token,
    but only as NARROW rows — (doc_id, tpos, tok) from posexplode; the
    covered-position set explodes w rows per duplicated window (dup
    windows are a small fraction of the corpus) and prunes via a
    LEFT ANTI join on (doc_id, tpos). Reassembly is per-doc bounded:
    sort_array over (tpos, tok) structs + array-level field extraction
    + array_join — all codegen, no interpreted HOF lambda. The DuckDB
    twin replays the identical cut with string_agg(... ORDER BY tpos).
    """
    dup = repeated_windows(docs, w, min_count, hash_fn, text_col)
    cov = dup.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
        ).alias("tpos"),
    ).distinct()
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "tpos", "tok"
        ),
    ).select(
        "doc_id", F.col("tpos").cast("long").alias("tpos"), "tok"
    )
    surv = toks.join(cov, ["doc_id", "tpos"], "left_anti")
    scrubbed = F.array_join(
        F.sort_array(F.collect_list(F.struct("tpos", "tok"))).getField("tok"),
        " ",
    )
    agg = surv.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        scrubbed.alias("text_scrubbed"),
    )
    base = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias(
            "kept_tokens"
        ),
        F.coalesce(F.col("text_scrubbed"), F.lit("")).alias("text_scrubbed"),
        F.sha2(F.coalesce(F.col("text_scrubbed"), F.lit("")), 256).alias(
            "scrub_sha"
        ),
    )


def lsh_threshold_sweep(
    docs: DataFrame,
    configs=((16, 2), (8, 4), (4, 8)),
    n_shingle: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int = 4096,
) -> DataFrame:
    """Dedup sensitivity curve: ONE minhash signature pass, several
    (bands, rows_per_band) LSH layouts over it — the tuning report a
    pipeline runs BEFORE committing to a near-dup threshold (each
    layout's S-curve midpoint is (1/bands)^(1/rows); sweeping layouts
    shows how many candidate pairs each threshold would surface and
    how similar they actually are, without re-hashing the corpus).

    One row per config with >= 1 candidate pair: (bands, rows_per_band,
    threshold, n_pairs, n_above, mean_est) — n_above the candidates
    whose signature estimate clears the config's own S-curve midpoint,
    mean_est the mean estimate over candidates (integer-exact:
    sum(est) / (N_HASHES * n_pairs) behind one rounded division).

    Parity: the midpoint (1/b)^(1/r) is computed ONCE in driver Python
    and enters both engines as the same double literal (so pow's
    cross-engine 1-ulp wobble never matters); estimates are integer
    match counts. Scale shape (100 TB): signatures persist once and
    every layout reads them (multi-pass playbook rule); per layout the
    candidate join is the capped-bucket shape of minhash_lsh_pairs
    with the same `skipped(result)` metric (pick rows_per_band >= 2 —
    single-row bands bucket on ONE minhash value and degenerate
    toward all-pairs); pairs carry only ids + two 32-long signature
    arrays, never text."""
    from pyspark.sql import Window

    for bands, rpb in configs:
        if bands * rpb > N_HASHES:
            raise ValueError(
                f"config {(bands, rpb)} needs {bands * rpb} hashes "
                f"but only {N_HASHES} available"
            )

    ss = minhash_signatures(docs, n_shingle, hash_fn).persist()
    # round-6 plan rework (results identical): ALL layouts explode out
    # of ONE pass over the cached signatures, tagged (bands, rpb), so
    # the bucket-size window, the band-bucket self-join, and the pair
    # distinct each run ONCE over the tagged table instead of once per
    # config — the sweep's plan is a single candidate pipeline, not
    # len(configs) unioned copies (3x fewer exchanges/stages; the
    # self-join's (bands, rpb, band, key) key keeps configs apart).
    banded = ss.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bands).alias("bands"),
                        F.lit(rpb).alias("rpb"),
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rpb + r].cast("string")
                                for r in range(rpb)
                            ],
                        ).alias("key"),
                    )
                    for bands, rpb in configs
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.bands", "bb.rpb", "bb.band", "bb.key")
    w_bucket = Window.partitionBy("bands", "rpb", "band", "key")
    sized = banded.withColumn("n", F.count(F.lit(1)).over(w_bucket))
    skipped = (
        sized.filter(F.col("n") > max_bucket)
        .select("bands", "band", "key", "n")
        .distinct()
    )
    ok = sized.filter(F.col("n") <= max_bucket).drop("n")
    left, right = ok.alias("l"), ok.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.bands") == F.col("r.bands"))
            & (F.col("l.rpb") == F.col("r.rpb"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.bands").alias("bands"),
            F.col("l.rpb").alias("rows_per_band"),
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # per-config S-curve midpoints as literal CASE chains (computed in
    # driver Python exactly as before — same doubles enter both engines)
    t_of = {(bands, rpb): (1.0 / bands) ** (1.0 / rpb) for bands, rpb in configs}
    thr = None
    emf = None
    for (bands, rpb), t in t_of.items():
        cond = (F.col("bands") == bands) & (F.col("rows_per_band") == rpb)
        thr = (
            F.when(cond, F.lit(round(t, 6)))
            if thr is None
            else thr.when(cond, F.lit(round(t, 6)))
        )
        emf = (
            F.when(cond, F.lit(float(N_HASHES) * t))
            if emf is None
            else emf.when(cond, F.lit(float(N_HASHES) * t))
        )
    pairs = cand.select(
        "bands",
        "rows_per_band",
        thr.alias("threshold"),
        emf.alias("est_min_f"),
        "doc_a",
        "doc_b",
    )
    a_side = ss.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b_side = ss.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ).cast("long")
    per = (
        pairs.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .select("bands", "rows_per_band", "threshold", "est_min_f", est.alias("est"))
    )
    out = (
        per.groupBy("bands", "rows_per_band", "threshold", "est_min_f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("est").cast("double") >= F.col("est_min_f"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_above"),
            F.sum("est").cast("long").alias("se"),
        )
        .select(
            "bands",
            "rows_per_band",
            "threshold",
            "n_pairs",
            "n_above",
            F.round(
                F.col("se").cast("double")
                / (F.col("n_pairs").cast("double") * F.lit(float(N_HASHES))),
                6,
            ).alias("mean_est"),
        )
    )
    return hold(out, ss, skipped=skipped)


def simhash_pairs(
    docs: DataFrame,
    radius: int = 3,
    bits: int = 32,
    hash_fn: str = "xxhash64",
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-dup pairs from SIMHASH fingerprints — the Google-crawl
    dedup shape (Manku et al.): any two fingerprints within hamming
    `radius` share at least one of `radius + 1` disjoint bit bands
    (pigeonhole), so candidates come from exact band-key buckets and
    only candidates pay the hamming check. Completes the simhash
    family the way minhash_lsh_pairs completes minhash: fingerprint
    op -> pair generator. Returns (doc_a, doc_b, hamming).

    Scale shape (100 TB): the corpus collapses to 8-byte fingerprints
    first; banding explodes to radius+1 narrow (band, key, doc_id,
    simhash) rows; the self-join shuffles on (band, key) with the
    house bucket cap + `skipped(result)` metric (a degenerate band —
    e.g. all-empty docs sharing fingerprint 0 — caps loudly instead
    of going quadratic); the hamming check is two longs through
    xor/bit_count codegen. Exactly SQL-replayable in md5 mode."""
    n_bands = radius + 1
    if bits % n_bands:
        raise ValueError(f"bits={bits} must split into {n_bands} bands")
    band_w = bits // n_bands
    from pyspark.sql import Window

    sigs = simhash(docs, bits=bits, hash_fn=hash_fn).persist()
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * band_w)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    w_bucket = Window.partitionBy("band", "key")
    sized = banded.withColumn("n", F.count(F.lit(1)).over(w_bucket))
    skipped = (
        sized.filter(F.col("n") > max_bucket)
        .select("band", "key", "n")
        .distinct()
    )
    ok = sized.filter(F.col("n") <= max_bucket).drop("n")
    left, right = ok.alias("l"), ok.alias("r")
    ham = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    ).cast("long")
    out = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .filter(ham <= radius)
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )
    return hold(out, sigs, skipped=skipped)
