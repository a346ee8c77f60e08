"""Similarity search over embedding columns (training-data pipeline op).

- topk_cosine: exact brute-force top-k for a query subset. The cosine
  is computed with DECIMAL-cast partial products so the sum is
  order-independent and the DuckDB oracle matches bit-for-bit (same
  trick as the aggregate queries — see __spark_entry__).
- ann_topk: the scale path — random-hyperplane LSH buckets (multi-
  probe) + exact re-rank inside buckets, NumPy-vectorized via
  mapInPandas. Approximate; recall tested in pytest.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .held import hold


def _unit_and_bucket(df: DataFrame, n_planes: int) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, u array<double>, bucket long),
    vectorized NumPy: one matrix multiply per Arrow batch. The plane
    matrix is derived lazily from the first batch's vector width — no
    driver-side head() job, and an empty input yields an empty result
    instead of raising."""

    def gen(batches):
        planes = None
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["embedding"].values).astype(np.float64)
            if planes is None:
                planes = _planes(n_planes, m.shape[1])
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            u = m / norms[:, None]
            signs = (u @ planes.T) > 0
            bucket = signs @ (1 << np.arange(n_planes, dtype=np.int64))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "u": list(u),
                    "bucket": bucket.astype(np.int64),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        gen, schema="vec_id long, u array<double>, bucket long"
    )


def _planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (no RNG state)."""
    p = np.arange(n_planes)[:, None]
    d = np.arange(dim)[None, :]
    return ((p * 1315423911 + d * 2654435761) % 1000003) / 1000003.0 - 0.5


def topk_cosine(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors per query vector — the
    BASELINE shape for distributed exact search: the (small) query
    matrix is collected and broadcast, every embedding batch does ONE
    matmul against it (no |Q| x |E| crossJoin row fan-out — the pair
    space exists only inside the kernel), then a window keeps top-k.

    API CONTRACT: exact and O(|Q| x |E|) compute by definition — the
    query side must be broadcast-small. Route large-query workloads to
    ann_topk (hyperplane multi-probe) or ivf_topk (k-means lists).

    Parity note: cosines are float64 matmuls rounded to 6 decimals; vs
    the DuckDB oracle's order-independent DECIMAL sums the difference
    is ~1e-15, ~9 orders below the rounding grid (straddle probability
    ~1e-8/value; exactness on the fixed test data is asserted by the
    driver compare, and ties at the rounded grid break by neighbor_id
    identically on both sides).

    embeddings/queries: (vec_id, embedding array<float>). Self-matches
    excluded. Returns (query_id, neighbor_id, cosine, rank)."""
    sc = embeddings.sparkSession.sparkContext
    qpdf = queries.select("vec_id", "embedding").toPandas()
    if len(qpdf) == 0:
        return (
            embeddings.select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
                F.lit(0.0).alias("cosine"),
                F.lit(0).cast("long").alias("rank"),
            ).limit(0)
        )
    qids = qpdf["vec_id"].to_numpy(np.int64)
    Q = np.stack(qpdf["embedding"].values).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    bc = sc.broadcast((qids, (Q / qn[:, None]).T))  # (dim, nq)

    def gen(batches):
        qid, Qt = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].values).astype(np.float64)
            en = np.linalg.norm(E, axis=1)
            en[en == 0] = 1.0
            cos = np.round((E / en[:, None]) @ Qt, 6)  # (rows, nq)
            nids = pdf["vec_id"].to_numpy(np.int64)
            rows, nq = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qid, rows),
                    "neighbor_id": np.repeat(nids, nq),
                    "cosine": cos.ravel(),
                }
            )

    scored = (
        embeddings.select("vec_id", "embedding")
        .mapInPandas(gen, schema="query_id long, neighbor_id long, cosine double")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: coarse k-means quantizer (pyspark.ml) partitions
    the vectors into lists; each query probes its `n_probe` nearest
    centroids and exact-reranks inside them (NumPy). The scale path
    when hyperplane buckets are too coarse."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # persist BEFORE the degenerate-input count: the gate's scan then
    # doubles as the cache fill for the KMeans fit and the list
    # assignment, which both re-read base immediately (round-5 advice)
    base = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("arr")
        )
        .withColumn("features", array_to_vector("arr"))
        .persist()
    )
    # degenerate-input gate: MLlib KMeans.fit raises on an empty
    # dataset and requires 2 <= k <= n. A single vector has no
    # neighbor pairs (self-pairs are filtered), so < 2 vectors is
    # exactly empty. n >= n_lists at any real scale, so
    # k_eff == n_lists outside tiny inputs.
    n_vecs = base.count()
    if n_vecs < 2:
        base.unpersist()
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank long"
        )
    km = KMeans(k=min(n_lists, n_vecs), seed=seed, featuresCol="features")
    model = km.fit(base)
    centroids = np.stack([np.asarray(c) for c in model.clusterCenters()])

    lists = model.transform(base).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("arr").alias("nu"),
        F.col("prediction").alias("list_id"),
    )

    qdf = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qu"),
    )

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack(pdf["qu"].values)
            d = ((q[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
            near = np.argsort(d, axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].to_numpy(np.int64), n_probe),
                    "qu": [q[i] for i in range(n) for _ in range(n_probe)],
                    "list_id": near.ravel().astype(np.int32),
                }
            )

    probes = qdf.mapInPandas(
        probe, schema="query_id long, qu array<double>, list_id int"
    )
    cand = probes.join(lists, "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def rerank(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qu = np.stack(pdf["qu"].values)
            nu = np.stack(pdf["nu"].values)
            qn = np.linalg.norm(qu, axis=1)
            nn = np.linalg.norm(nu, axis=1)
            qn[qn == 0] = 1.0
            nn[nn == 0] = 1.0
            cos = np.einsum("ij,ij->i", qu, nu) / (qn * nn)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "cosine": np.round(cos, 6),
                }
            )

    scored = cand.select("query_id", "qu", "neighbor_id", "nu").mapInPandas(
        rerank, schema="query_id long, neighbor_id long, cosine double"
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    out = scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
    return hold(out, base)


def ivf_recall_report(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    fit_partitions: int = 8,
) -> DataFrame:
    """Recall@k of the seeded-K-MEANS IVF quality path (ivf_topk)
    against the exact brute-force top-k (topk_cosine), as ONE result
    row (k, n_queries, n_exact, n_hits, recall) — the driver-visible
    quality metric for the half of the ANN story the sampled-quantizer
    oracle can't grade (seeded Lloyd iterations don't replay in SQL;
    the RECALL VALUE they produce is still deterministic and can be
    pinned).

    Determinism: the embedding side is hash-repartitioned to a FIXED
    partition count before the k-means fit, so the kmeans|| init
    samples and the per-partition aggregation layout do not depend on
    the session's parallelism — the fitted centroids (and hence the
    candidate lists, hits, and recall) are reproducible across
    sessions on one Spark version.

    Scale shape: both sides are existing operators (broadcast-query
    matmul; list-bucketed probe join); the report is two counts joined
    by a literal cross of one-row aggregates."""
    exact = topk_cosine(embeddings, queries, k=k).select(
        "query_id", "neighbor_id"
    )
    exact = exact.persist()
    base = embeddings.repartition(fit_partitions, "vec_id")
    approx = ivf_topk(
        base, queries, k=k, n_lists=n_lists, n_probe=n_probe, seed=seed
    )
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    ex = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("query_id").alias("n_queries"),
    )
    h = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    out = ex.crossJoin(h).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_hits").cast("long").alias("n_hits"),
        # ANSI gate: recall is undefined when there are no exact
        # neighbors (empty/one-row inputs) — 0/0 is an ERROR in Spark 4
        F.when(
            F.col("n_exact") > 0,
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        ).alias("recall"),
    )
    return hold(out, exact, approx)


def ivf_topk_sampled(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN with a deterministic SAMPLED coarse quantizer: the list
    centroids are the n_lists member vectors whose md5(vec_id) sorts
    first (list_id = position in that order). Random data sampling is
    the standard k-means initializer — skipping the Lloyd refinement
    trades a little list balance for a BIT-REPRODUCIBLE layout an
    independent SQL engine can replay exactly, which gives this query
    an exact DuckDB oracle (the seeded-k-means ivf_topk keeps the
    quality crown and its pytest recall gate).

    Parity contract (mirrors the engine-wide rounded-float64 policy):
    squared-L2 centroid distances and rerank cosines are rounded to 6
    decimals on both sides; all ties break by (list_id | neighbor_id)
    ascending. Assignment and probes are NumPy matmuls in mapInPandas;
    the candidate join stays JVM-side."""
    sc = embeddings.sparkSession.sparkContext
    cpdf = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("c")
        )
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_lists)
        .toPandas()
    )
    if len(cpdf) == 0:
        return embeddings.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("long").alias("rank"),
        ).limit(0)
    centroids = np.stack(cpdf["c"].values)
    n_probe = min(n_probe, len(cpdf))
    bc = sc.broadcast(centroids)

    def dist_to_lists(m: np.ndarray) -> np.ndarray:
        d = ((m[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2)
        return np.round(d, 6)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["arr"].values)
            # argmin returns the FIRST minimum -> ties break by list_id
            lid = np.argmin(dist_to_lists(v), axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["vec_id"].to_numpy(np.int64),
                    "nu": pdf["arr"].values,
                    "list_id": lid.astype(np.int32),
                }
            )

    lists = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    ).mapInPandas(assign, schema="neighbor_id long, nu array<double>, list_id int")

    def probe(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack(pdf["qu"].values)
            # stable sort -> equal distances keep ascending list_id
            near = np.argsort(dist_to_lists(q), axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(
                        pdf["query_id"].to_numpy(np.int64), n_probe
                    ),
                    "qu": [q[i] for i in range(n) for _ in range(n_probe)],
                    "list_id": near.ravel().astype(np.int32),
                }
            )

    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qu"),
    ).mapInPandas(probe, schema="query_id long, qu array<double>, list_id int")
    cand = probes.join(lists, "list_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def rerank(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qu = np.stack(pdf["qu"].values)
            nu = np.stack(pdf["nu"].values)
            qn = np.linalg.norm(qu, axis=1)
            nn = np.linalg.norm(nu, axis=1)
            qn[qn == 0] = 1.0
            nn[nn == 0] = 1.0
            cos = np.einsum("ij,ij->i", qu, nu) / (qn * nn)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "cosine": np.round(cos, 6),
                }
            )

    scored = (
        cand.select("query_id", "qu", "neighbor_id", "nu")
        .mapInPandas(rerank, schema="query_id long, neighbor_id long, cosine double")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    probe_bits: int = 2,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucketed candidates (multi-probe:
    each query also probes buckets at Hamming distance <= probe_bits),
    exact NumPy re-rank within candidates."""
    from itertools import combinations

    e = _unit_and_bucket(embeddings, n_planes).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("u").alias("nu"),
        "bucket",
    )
    qb = _unit_and_bucket(queries, n_planes).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu"), "bucket"
    )
    # multi-probe: every mask with <= probe_bits bits set
    probes = [
        sum(1 << b for b in bits)
        for r in range(probe_bits + 1)
        for bits in combinations(range(n_planes), r)
    ]
    qprobe = qb.select(
        "query_id",
        "qu",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probes])
        ).alias("bucket"),
    )
    cand = qprobe.join(e, "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def rerank(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            qu = np.stack(pdf["qu"].values)
            nu = np.stack(pdf["nu"].values)
            cos = np.einsum("ij,ij->i", qu, nu)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "cosine": np.round(cos, 6),
                }
            )

    scored = cand.select("query_id", "qu", "neighbor_id", "nu").mapInPandas(
        rerank, schema="query_id long, neighbor_id long, cosine double"
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def label_centroids(embs: DataFrame, decimal_scale: int = 10) -> DataFrame:
    """Per-label centroid of an embedding column, exploded to one row
    per (label, dimension): (label, pos, n_vecs, centroid).

    Per-dimension sums run through DECIMAL(28, decimal_scale) casts so
    the aggregation is order-independent and engine-identical (the
    AGGREGATE parity policy); centroid = round(sum/n as double, 6).

    Scale shape: posexplode fans each vector to dim rows, but the
    groupBy (label, pos) does map-side partial aggregation, so the
    single exchange carries only n_partitions x labels x dim partial
    rows — independent of the vector count.
    """
    e = embs.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        e.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("v").cast(f"decimal(28,{decimal_scale})")).alias("s"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            "n_vecs",
            F.round(F.col("s").cast("double") / F.col("n_vecs"), 6).alias("centroid"),
        )
    )


def quantize_int8(embs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization of an embedding column — the vector-
    compression step a 100-TB ANN index needs before it fits on disk
    (4x smaller than float32, 8x smaller than float64).

    Per vector: scale = max(|x|)/127; code_i = floor(x_i/scale + 0.5)
    (plain IEEE ops — replays bit-for-bit in the DuckDB oracle, no
    round-mode dependency); zero vectors quantize to all-zero codes
    with scale 0. Output carries the codes plus integrity scalars the
    driver compare can hash (code_sum, position-weighted code_ord_sum,
    max/min code) and the exact reconstruction error max_abs_err.

    Scale shape: a single mapInPandas stage (einsum-free elementwise
    NumPy — playbook rule: never Catalyst folds for vector math), no
    shuffle, column-pruned scan (vec_id + embedding only). Dequantize
    is codes * scale.
    """

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[vec_col].values).astype(np.float64)
            mx = np.abs(m).max(axis=1)
            scale = mx / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            codes = np.floor(m / safe[:, None] + 0.5).astype(np.int64)
            codes[scale == 0.0] = 0
            err = np.abs(m - codes * safe[:, None]).max(axis=1)
            err[scale == 0.0] = 0.0
            d = m.shape[1]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "scale": scale,
                    "n_dims": np.full(len(pdf), d, dtype=np.int32),
                    "codes": list(codes.astype(np.int8)),
                    "code_sum": codes.sum(axis=1),
                    "code_ord_sum": codes @ np.arange(1, d + 1, dtype=np.int64),
                    "max_code": codes.max(axis=1).astype(np.int32),
                    "min_code": codes.min(axis=1).astype(np.int32),
                    "max_abs_err": err,
                }
            )

    return embs.select("vec_id", vec_col).mapInPandas(
        gen,
        schema=(
            "vec_id long, scale double, n_dims int, codes array<tinyint>, "
            "code_sum long, code_ord_sum long, max_code int, min_code int, "
            "max_abs_err double"
        ),
    )


def pq_encode(
    embeddings: DataFrame, m: int = 8, k_codes: int = 16
) -> DataFrame:
    """Product quantization encode — the codebook compression stage of
    a disk-resident 100-TB ANN index (m codes/vector ≈ d*4/m-fold
    smaller than float32; pairs with ivf_topk_sampled the way IVF-PQ
    does in FAISS-style systems).

    The per-subspace codebook is DETERMINISTICALLY SAMPLED: the
    k_codes member vectors whose md5(vec_id) sorts first, sliced into
    m subvectors (random member sampling is the standard k-means
    initializer; skipping Lloyd refinement trades quantization error
    for a bit-reproducible codebook an independent SQL engine replays
    exactly — the same contract as ivf_topk_sampled's coarse
    quantizer). Assignment: per subspace, nearest codebook slice by
    squared L2 rounded to 6 dp, ties to the lowest code id.

    Returns one row per (vec_id, subspace): (vec_id, subspace, code,
    sq_err) — sq_err is that subspace's rounded quantization error;
    Σ over subspaces = the vector's total squared error.

    Scale shape: codebook is k_codes*d doubles broadcast once; encode
    is one mapInPandas matmul pass, no shuffle.
    """
    sc = embeddings.sparkSession.sparkContext
    cpdf = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("c")
        )
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(k_codes)
        .toPandas()
    )
    schema = "vec_id long, subspace int, code int, sq_err double"
    if len(cpdf) == 0:
        return embeddings.select(
            F.col("vec_id"),
            F.lit(0).alias("subspace"),
            F.lit(0).alias("code"),
            F.lit(0.0).alias("sq_err"),
        ).limit(0)
    cb = np.stack(cpdf["c"].values)  # (k, d)
    k, d = cb.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sd = d // m
    cb_sub = cb.reshape(k, m, sd)
    bc = sc.broadcast(cb_sub)

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["arr"].values).reshape(-1, 1, m, sd)
            dists = np.round(((v - bc.value[None, :, :, :]) ** 2).sum(axis=3), 6)
            codes = np.argmin(dists, axis=1)  # first min -> lowest code
            n = codes.shape[0]
            best = dists[np.arange(n)[:, None], codes, np.arange(m)[None, :]]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), m),
                    "subspace": np.tile(
                        np.arange(m, dtype=np.int32), n
                    ),
                    "code": codes.astype(np.int32).ravel(),
                    "sq_err": best.ravel(),
                }
            )

    return embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    ).mapInPandas(encode, schema=schema)


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search half
    of an IVF-PQ index: queries stay exact, corpus vectors are
    represented ONLY by their m sub-codes, and the distance is the sum
    of per-subspace lookup-table entries

        adc(q, v) = sum_j round(||q_j - c[code_j(v), j]||^2, 6)

    (the codebook is pq_encode's deterministic md5-order sample, so
    the whole pipeline — codebook, codes, LUT, rank — replays exactly
    in the DuckDB oracle; approximation error vs exact cosine/L2 is a
    pytest recall gate, same split as ann/ivf).

    Scale shape: codes are built by pq_encode's shuffle-free map pass;
    each query's m*k_codes LUT is one small matmul; the scoring join
    ships (query_id, LUT) against (vec_id, codes) and never touches
    raw corpus vectors — the bandwidth win that makes PQ the 100-TB
    search layout. Top-k by ADC ascending, ties on neighbor_id.

    Returns (query_id, neighbor_id, adc, rank).
    """
    sc = embeddings.sparkSession.sparkContext
    cpdf = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("c")
        )
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(k_codes)
        .toPandas()
    )
    out_schema = "query_id long, neighbor_id long, adc double, rank long"
    if len(cpdf) == 0:
        return embeddings.select(
            F.col("vec_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("adc"),
            F.lit(0).cast("long").alias("rank"),
        ).limit(0)
    cb = np.stack(cpdf["c"].values)
    nk, d = cb.shape
    sd = d // m
    bc = sc.broadcast(cb.reshape(nk, m, sd))

    codes = (
        pq_encode(embeddings, m=m, k_codes=k_codes)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("subspace", "code"))
                ),
                lambda s: s["code"],
            ).alias("codes")
        )
        .withColumnRenamed("vec_id", "neighbor_id")
    )

    def lut_gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            q = np.stack(pdf["qu"].values).reshape(-1, 1, m, sd)
            lut = np.round(((q - bc.value[None]) ** 2).sum(axis=3), 6)
            # (n, k_codes, m) -> flat row-major [code, subspace]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "lut": list(lut.reshape(len(pdf), -1)),
                }
            )

    luts = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qu"),
    ).mapInPandas(lut_gen, schema="query_id long, lut array<double>")

    cand = luts.crossJoin(codes).filter(
        F.col("neighbor_id") != F.col("query_id")
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lut = np.stack(pdf["lut"].values).reshape(-1, nk, m)
            cds = np.stack(pdf["codes"].values)
            n = len(pdf)
            # fixed j=0..m-1 summation order (oracle sums in the same
            # order via list comprehension)
            vals = lut[np.arange(n)[:, None], cds, np.arange(m)[None, :]]
            adc = vals[:, 0]
            for j in range(1, m):
                adc = adc + vals[:, j]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "adc": adc,
                }
            )

    scored = cand.select("query_id", "lut", "neighbor_id", "codes").mapInPandas(
        score, schema="query_id long, neighbor_id long, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_lists: int = 16,
    max_list: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings with a coarse quantizer and
    pruning, WITHIN each cluster, every vector whose cosine to a
    LOWER-id cluster member reaches the threshold (keep-lowest-id is
    the deterministic stand-in for the paper's keep-one-exemplar rule).
    Returns one row per vector: (vec_id, list_id, kept boolean).

    The quantizer is the engine's deterministic SAMPLED centroid set
    (ivf_topk_sampled): the n_lists member vectors whose md5(vec_id)
    sorts first, assignment by squared-L2 rounded to 6 decimals, ties
    to the lowest list_id — bit-reproducible, so an independent SQL
    engine replays the cluster layout and the keep/drop decisions
    exactly. Cosines are rounded to 6 decimals on both sides (the
    engine-wide rounded-float64 parity policy).

    Scale shape (100 TB): the all-pairs step is confined WITHIN
    clusters — the SemDeDup trick that makes semantic dedup tractable;
    cluster count grows with the corpus so per-cluster occupancy stays
    bounded. The pair grid carries only (list_id, vec_id) ints; raw
    vectors attach AFTER pair generation by id join (the narrow-pair
    rule — never ship array payloads through a pair-generating
    equi-join). A pathological quantizer layout can still concentrate
    one cluster, so `max_list` caps it: over-cap clusters are EXCLUDED
    from the output and reported as `skipped(result)` (list_id, n)
    rows — the engine's no-silent-cap rule. Centroid build is a
    bounded n_lists-row driver collect (the standard broadcast-dim
    shape). Call release_cached(result) after the
    consuming action.
    """
    sc = embeddings.sparkSession.sparkContext
    cpdf = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("c")
        )
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_lists)
        .toPandas()
    )
    if len(cpdf) == 0:
        return embeddings.select(
            F.col("vec_id"),
            F.lit(0).cast("int").alias("list_id"),
            F.lit(True).alias("kept"),
        ).limit(0)
    bc = sc.broadcast(np.stack(cpdf["c"].values))

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["arr"].values)
            d = np.round(
                ((v[:, None, :] - bc.value[None, :, :]) ** 2).sum(axis=2), 6
            )
            # argmin returns the FIRST minimum -> ties break by list_id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "list_id": np.argmin(d, axis=1).astype(np.int32),
                    "arr": pdf["arr"].values,
                }
            )

    asn = (
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("arr")
        )
        .mapInPandas(assign, schema="vec_id long, list_id int, arr array<double>")
        .persist()
    )
    members = asn.select("vec_id", "list_id")
    skipped = None
    if max_list is not None:
        w_l = Window.partitionBy("list_id")
        sized = members.withColumn("ln", F.count(F.lit(1)).over(w_l))
        skipped = (
            sized.filter(F.col("ln") > max_list)
            .groupBy("list_id")
            .agg(F.first("ln").alias("n"))
        )
        members = sized.filter(F.col("ln") <= max_list).drop("ln")
    a = members.select(F.col("list_id"), F.col("vec_id").alias("a_id"))
    b = members.select(F.col("list_id"), F.col("vec_id").alias("b_id"))
    pairs = a.join(b, "list_id").filter(F.col("a_id") < F.col("b_id"))
    units = asn.select("vec_id", "arr")
    wide = (
        pairs.join(units.select(F.col("vec_id").alias("a_id"),
                                F.col("arr").alias("va")), "a_id")
        .join(units.select(F.col("vec_id").alias("b_id"),
                           F.col("arr").alias("vb")), "b_id")
    )

    def cos(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            va = np.stack(pdf["va"].values)
            vb = np.stack(pdf["vb"].values)
            na = np.linalg.norm(va, axis=1)
            nb = np.linalg.norm(vb, axis=1)
            na[na == 0] = 1.0
            nb[nb == 0] = 1.0
            c = np.einsum("ij,ij->i", va, vb) / (na * nb)
            yield pd.DataFrame(
                {
                    "b_id": pdf["b_id"].to_numpy(np.int64),
                    "cosine": np.round(c, 6),
                }
            )

    dup_b = (
        wide.select("b_id", "va", "vb")
        .mapInPandas(cos, schema="b_id long, cosine double")
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("b_id")
        .distinct()
    )
    out = members.join(
        dup_b.withColumnRenamed("b_id", "vec_id").withColumn(
            "_dup", F.lit(1)
        ),
        "vec_id",
        "left",
    ).select(
        "vec_id",
        "list_id",
        F.col("_dup").isNull().alias("kept"),
    )
    return hold(out, asn, skipped=skipped)


# JL projection plane mixer: w[p][d] = ((p*JL_A + d*JL_B) % JL_M) - JL_M//2
# -- closed-form integer weights (the _planes idea in exact integer
# arithmetic), |w| <= 1001, so an int8-code dot over d dims is bounded
# by 127 * 1001 * d: exact BIGINT far past any realistic width.
JL_A, JL_B, JL_M = 48611, 71993, 2003


def jl_project(
    embs: DataFrame, n_planes: int = 16, vec_col: str = "embedding"
) -> DataFrame:
    """Johnson-Lindenstrauss random projection -> (vec_id, plane,
    proj): dimensionality reduction for the embedding column, composed
    with int8 quantization so the ENTIRE pipeline is integer-exact --
    quantize to int8 codes (the disk format a 100-TB index stores
    anyway), then project with closed-form integer planes. proj is an
    exact BIGINT on both engines; distance structure is preserved up
    to the JL distortion bound (property-tested), and downstream
    consumers (clustering, dedup banding, visualization) read 16
    longs instead of 64 floats.

    Scale shape (100 TB): one mapInPandas (the quantize stage) + one
    zero-copy mapInArrow integer matmul -- no shuffle anywhere, no
    broadcast (the plane matrix is regenerated from the closed form
    inside each worker for whatever width the batch carries). Output
    explodes to (vec_id, plane) rows for the driver compare; at scale
    keep the matrix form by reading proj back via groupBy(vec_id).
    """
    codes = quantize_int8(embs, vec_col).select("vec_id", "codes")

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            lst = batch.column("codes")
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = lst.values.to_numpy(zero_copy_only=False).astype(np.int64)
            n = len(ids)
            if n == 0:
                continue
            d = int(offs[1] - offs[0])
            mat = vals.reshape(n, d)
            p = np.arange(n_planes, dtype=np.int64)[:, None]
            dd = np.arange(d, dtype=np.int64)[None, :]
            w = (p * JL_A + dd * JL_B) % JL_M - JL_M // 2
            proj = mat @ w.T  # (n, n_planes) exact int64
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_planes), pa.int64()),
                    pa.array(
                        np.tile(np.arange(n_planes, dtype=np.int64), n),
                        pa.int64(),
                    ),
                    pa.array(proj.reshape(-1), pa.int64()),
                ],
                names=["vec_id", "plane", "proj"],
            )

    return codes.mapInArrow(
        gen, schema="vec_id long, plane long, proj long"
    )


def centroid_drift(
    embs: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    unit: float = 1e7,
) -> DataFrame:
    """Per-group embedding centroid drift -> (group, n_vecs, dot_u,
    norm_g_u, norm_all_u, cos_drift): cosine between each group's mean
    vector and the global mean -- the domain-shift health check a
    multi-source corpus runs before mixing (a source whose centroid
    points away from the corpus is out-of-distribution; a cosine near
    1 means redundant coverage).

    Exactness: each component quantizes to integer units
    floor(x * unit) BEFORE summation, so per-dim sums are exact
    BIGINTs (order-independent); per-dim MEANS re-quantize as
    floor(sum / n) (floor-on-double, the portable quantizer); the
    closing cosine is three correctly-rounded double ops over exact
    integer dot/norm sums, behind a 6 dp round. Bounds: |mean unit|
    <= unit * max|x| regardless of group size, so the dot/norm sums
    never grow with data volume; the per-dim sum itself holds to
    ~1.6e12 rows per group at unit=1e7 with |x|<=0.6.

    Scale shape (100 TB): posexplode to narrow (group, dim, q) rows --
    pure codegen -- one (group, dim) map-side-partial SUM (cardinality
    n_groups * dims, tiny), the global centroid derived from the SAME
    sums (no second scan), one broadcast-sized join on dim. No Python.
    """
    ex = embs.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("d", "x"),
    ).select(
        "grp",
        "d",
        F.floor(F.col("x").cast("double") * F.lit(float(unit)))
        .cast("long")
        .alias("q"),
    )
    per = ex.groupBy("grp", "d").agg(
        F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    m = per.select(
        "grp",
        "d",
        "n",
        F.floor(F.col("sq").cast("double") / F.col("n").cast("double"))
        .cast("long")
        .alias("m"),
    )
    glob = (
        per.groupBy("d")
        .agg(F.sum("sq").alias("gsq"), F.sum("n").alias("gn"))
        .select(
            "d",
            F.floor(
                F.col("gsq").cast("double") / F.col("gn").cast("double")
            )
            .cast("long")
            .alias("mg"),
        )
    )
    j = m.join(F.broadcast(glob), "d")
    agg = j.groupBy("grp").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum(F.col("m") * F.col("mg")).cast("long").alias("dot_u"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("norm_g_u"),
        F.sum(F.col("mg") * F.col("mg")).cast("long").alias("norm_all_u"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_vecs",
        "dot_u",
        "norm_g_u",
        "norm_all_u",
        F.round(
            F.col("dot_u").cast("double")
            / F.sqrt(F.col("norm_g_u").cast("double"))
            / F.sqrt(F.col("norm_all_u").cast("double")),
            6,
        ).alias("cos_drift"),
    )


def embedding_contamination(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.6,
) -> DataFrame:
    """Eval-set leakage screen over embeddings: per TRAIN vector, the
    max cosine to ANY eval vector plus the nearest eval id (ties ->
    min eval id), flagged at `threshold` -> (vec_id, max_cosine,
    nearest_eval_id, contaminated).  The embedding-space sibling of
    corpus.contamination (n-gram overlap) / corpus.bloom_contamination
    (membership): it catches paraphrased or re-tokenized eval leakage
    that exact n-grams miss.

    Scale shape (the topk_cosine contract): the eval matrix — a
    benchmark suite, thousands of vectors — is collected, unit-
    normalized, and BROADCAST; every train batch does ONE float64
    matmul against it inside mapInPandas, then reduces to a single
    row per train vector.  No |train| x |eval| row fan-out ever
    exists outside the kernel, no shuffle at all: scan -> map ->
    result.  At 100 TB the cost is one dense GEMM per batch, embar-
    rassingly parallel.  Route eval sets too big to broadcast through
    ann_topk buckets instead.

    Parity: cosines round to 6 decimals before the max/threshold
    (straddle odds ~1e-8 vs the oracle's DECIMAL-summed dots, see
    topk_cosine); the >= compare then sees identical doubles on both
    sides.  Ties at the max break to the smallest eval id (eval ids
    are sorted ascending, argmax takes the first hit).
    """
    sc = train.sparkSession.sparkContext
    qpdf = evalset.select("vec_id", "embedding").toPandas()
    out_schema = (
        "vec_id long, max_cosine double, nearest_eval_id long"
    )
    if len(qpdf) == 0:
        empty = train.select(
            F.col("vec_id"),
            F.lit(0.0).alias("max_cosine"),
            F.lit(0).cast("long").alias("nearest_eval_id"),
        ).limit(0)
        return empty.withColumn("contaminated", F.lit(False))
    qpdf = qpdf.sort_values("vec_id")
    qids = qpdf["vec_id"].to_numpy(np.int64)
    Q = np.stack(qpdf["embedding"].values).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    bc = sc.broadcast((qids, (Q / qn[:, None]).T))  # (dim, nq)

    def gen(batches):
        qid, Qt = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].values).astype(np.float64)
            en = np.linalg.norm(E, axis=1)
            en[en == 0] = 1.0
            cos = np.round((E / en[:, None]) @ Qt, 6)  # (rows, nq)
            mx = cos.max(axis=1)
            nearest = qid[(cos == mx[:, None]).argmax(axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "max_cosine": mx,
                    "nearest_eval_id": nearest,
                }
            )

    return (
        train.select("vec_id", "embedding")
        .mapInPandas(gen, schema=out_schema)
        .withColumn(
            "contaminated", F.col("max_cosine") >= F.lit(float(threshold))
        )
    )


def bq_sign_masks(embs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Binary (sign) quantization of a 64-dim embedding column into two
    32-bit halves -> (vec_id, lo, hi): bit i of the packed code is set
    iff component i > 0.  Split halves keep every value < 2^32 so the
    BIGINT arithmetic is identical in Spark, NumPy and the DuckDB
    oracle (a single 64-bit word would need bit 63 = a negative long).

    One zero-copy mapInArrow pass (ListArray values/offsets straight
    into a (n, d) float view — the playbook fast path; pandas would box
    every element), no shuffle: 32 bytes/vector in, 24 bytes out, the
    compression stage RaBitQ-style binary ANN indexes store at scale.
    """

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            lst = batch.column(vec_col)
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = lst.values.to_numpy(zero_copy_only=False)
            n = len(ids)
            if n == 0:
                continue
            d = int(offs[1] - offs[0])
            if d != 64:
                raise ValueError(f"bq_sign_masks expects 64 dims, got {d}")
            bits = (vals.reshape(n, d) > 0).astype(np.int64)
            w = 1 << np.arange(32, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype(np.int64), pa.int64()),
                    pa.array(bits[:, :32] @ w, pa.int64()),
                    pa.array(bits[:, 32:] @ w, pa.int64()),
                ],
                names=["vec_id", "lo", "hi"],
            )

    return embs.select("vec_id", vec_col).mapInArrow(
        gen, schema="vec_id long, lo long, hi long"
    )


def bq_topk(
    embs: DataFrame,
    k: int = 5,
    qmod: int = 50,
    radius: int = 24,
    cand: int = 32,
) -> DataFrame:
    """Binary-quantized top-k: hamming prescreen over sign masks, exact
    rerank over the survivors — the modern bandwidth-first ANN shape
    (RaBitQ / BQ in FAISS terms; sibling of ann_topk's hyperplane LSH
    and ivf_topk's coarse quantizer).

    Queries are the deterministic vec_id % qmod == 0 slice.  Stages:
      1. sign masks (bq_sign_masks): one arrow pass, no shuffle;
         persisted once — both the query slice and the corpus side
         read it (multi-pass playbook rule).
      2. hamming prescreen: corpus masks x broadcast query masks,
         bit_count(xor) on two BIGINT halves — pure whole-stage
         codegen over 3 longs/row; `hamming <= radius` prunes the
         grid before anything wide moves.  At 100 TB this is the only
         full-corpus stage and it streams 24 bytes/vector.
      3. top-`cand` per query by (hamming, vec_id) — a window over the
         radius survivors only, never the corpus.
      4. exact rerank: float64 squared-L2, arrays attached AFTER the
         candidate set is fixed (narrow-pair-grid rule: the hamming
         grid never carries arrays), einsum-free arrow pass, rounded
         to 6 dp; final top-k by (dist6, vec_id).

    Returns (q_id, vec_id, hamming, dist6, rank) — all scalars; the
    DuckDB oracle replays sign packing, xor/bit_count hamming, both
    windows and the rounded rerank exactly.
    """
    masks = bq_sign_masks(embs)
    masks.persist()
    q = (
        masks.filter(F.pmod(F.col("vec_id"), F.lit(qmod)) == 0)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("lo").alias("q_lo"),
            F.col("hi").alias("q_hi"),
        )
    )
    ham = (
        F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
        + F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
    ).cast("long")
    pairs = (
        masks.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= radius)
    )
    w_ham = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    cands = (
        pairs.withColumn("_rn", F.row_number().over(w_ham))
        .filter(F.col("_rn") <= cand)
        .drop("_rn")
    )
    arrs = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    )
    qarrs = arrs.filter(F.pmod(F.col("vec_id"), F.lit(qmod)) == 0).select(
        F.col("vec_id").alias("q_id"), F.col("_v").alias("_qv")
    )
    wide = (
        arrs.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qarrs), "q_id")
        .select("q_id", "vec_id", "hamming", "_qv", "_v")
    )

    def rerank(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            cols = {}
            for name in ("_qv", "_v"):
                lst = batch.column(name)
                if isinstance(lst, pa.ChunkedArray):
                    lst = lst.combine_chunks()
                cols[name] = (
                    lst.values.to_numpy(zero_copy_only=False).reshape(n, -1)
                )
            diff = cols["_qv"] - cols["_v"]
            dist6 = np.round((diff * diff).sum(axis=1), 6)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("q_id"),
                    batch.column("vec_id"),
                    batch.column("hamming"),
                    pa.array(dist6, pa.float64()),
                ],
                names=["q_id", "vec_id", "hamming", "dist6"],
            )

    rr = wide.mapInArrow(
        rerank, schema="q_id long, vec_id long, hamming long, dist6 double"
    )
    w_fin = Window.partitionBy("q_id").orderBy("dist6", "vec_id")
    out = (
        rr.withColumn("rank", F.row_number().over(w_fin).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return hold(out, masks)


def mrl_overlap(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    trunc_dim: int = 16,
) -> DataFrame:
    """Matryoshka-style truncation quality: for each query, the exact
    cosine top-k under the FULL embedding vs under the first
    `trunc_dim` dimensions, reported as per-query ranking overlap —
    the metric that decides whether a cheap prefix index (an MRL
    embedding's short head, stored at 1/4 the bandwidth) can serve
    first-stage retrieval while the full vector only reranks.

    Returns (query_id, n_full, n_common, overlap): n_full the full-dim
    top-k size actually available (k, or fewer on a tiny corpus),
    n_common how many of those survive in the truncated top-k,
    overlap = round(n_common / n_full, 6).

    Composition: two topk_cosine passes (broadcast-query matmuls — the
    documented O(|Q| x |E|) exact baseline; each pass reads the corpus
    once and shuffles only (query_id, neighbor_id, cosine) triples)
    joined on (query_id, neighbor_id). Both rankings round cosines to
    6 dp and tie-break by neighbor_id, so the DuckDB twin replays them
    exactly; truncation is a zero-copy prefix (F.slice / pos <=
    trunc_dim), never a re-embedding."""
    q_t = queries.select(
        "vec_id", F.slice("embedding", 1, trunc_dim).alias("embedding")
    )
    e_t = embeddings.select(
        "vec_id", F.slice("embedding", 1, trunc_dim).alias("embedding")
    )
    full = topk_cosine(embeddings, queries, k)
    trunc = topk_cosine(e_t, q_t, k)
    hits = trunc.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    agg = (
        full.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_full"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
                "n_common"
            ),
        )
    )
    return agg.select(
        "query_id",
        "n_full",
        "n_common",
        F.when(
            F.col("n_full") > 0,
            F.round(
                F.col("n_common").cast("double")
                / F.col("n_full").cast("double"),
                6,
            ),
        ).alias("overlap"),
    )
