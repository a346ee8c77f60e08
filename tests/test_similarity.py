"""ANN recall vs the exact brute-force top-k."""

import pyspark.sql.functions as F
import pytest

from cadastre_pg_spark.operators.held import release_cached, skipped
from cadastre_pg_spark.operators.similarity import (
    ann_topk,
    ivf_topk,
    ivf_topk_sampled,
    topk_cosine,
)
from conftest import SF_UNIT


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_ann_recall(spark):
    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _pairs(topk_cosine(emb, queries, k=5))
    approx = _pairs(ann_topk(emb, queries, k=5))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"hyperplane ANN recall too low: {recall}"


def test_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _pairs(topk_cosine(emb, queries, k=5))
    approx = _pairs(ivf_topk(emb, queries, k=5, n_lists=8, n_probe=4))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF ANN recall too low: {recall}"


def test_ivf_sampled_recall_and_determinism(spark):
    """The sampled-quantizer IVF (the oracle-able driver variant) must
    hold comparable recall to the k-means one and be run-to-run
    bit-deterministic (its whole point)."""
    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _pairs(topk_cosine(emb, queries, k=5))
    out = ivf_topk_sampled(emb, queries, k=5, n_lists=8, n_probe=4)
    got = sorted((r.query_id, r.neighbor_id, r.cosine, r.rank) for r in out.collect())
    recall = len(exact & {(q, n) for q, n, _, _ in got}) / len(exact)
    assert recall >= 0.6, f"sampled IVF recall too low: {recall}"
    again = ivf_topk_sampled(emb, queries, k=5, n_lists=8, n_probe=4)
    assert got == sorted(
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in again.collect()
    )


def test_label_centroids_match_numpy(spark):
    import numpy as np

    from cadastre_pg_spark.operators.similarity import label_centroids

    embs = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    got = {
        (r.label, r.pos): (r.n_vecs, r.centroid)
        for r in label_centroids(embs).collect()
    }
    rows = embs.collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    for label, vecs in by_label.items():
        m = np.mean(np.stack(vecs), axis=0)
        for pos in range(len(m)):
            n, c = got[(label, pos)]
            assert n == len(vecs)
            # decimal-summed mean vs float64 mean: agree well inside 6dp
            assert abs(c - m[pos]) < 1e-6, (label, pos, c, m[pos])
    assert len(got) == len(by_label) * 64


def test_quantize_int8_roundtrip_and_edges(spark):
    import numpy as np

    from cadastre_pg_spark.operators.similarity import quantize_int8

    rows = [
        (0, [1.0, -2.0, 0.5, 127.0]),   # max_abs 127 -> scale 1.0
        (1, [0.0, 0.0, 0.0, 0.0]),      # zero vector edge
        (2, [-0.003, 0.001, 0.002, -0.001]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_int8(emb).collect()}

    r0 = out[0]
    assert r0["scale"] == 1.0
    assert list(r0["codes"]) == [1, -2, 1, 127]  # 0.5 -> floor(1.0)=1
    assert r0["max_code"] == 127 and r0["min_code"] == -2
    assert r0["code_sum"] == 127 and r0["code_ord_sum"] == 1 - 4 + 3 + 508
    assert r0["max_abs_err"] <= 0.5

    r1 = out[1]
    assert r1["scale"] == 0.0
    assert list(r1["codes"]) == [0, 0, 0, 0]
    assert r1["max_abs_err"] == 0.0

    # dequantized reconstruction within half a step everywhere
    r2 = out[2]
    x = np.array(rows[2][1], dtype=np.float32).astype(np.float64)
    recon = np.array(r2["codes"], dtype=np.float64) * r2["scale"]
    assert np.abs(x - recon).max() <= r2["scale"] / 2 + 1e-18
    assert abs(r2["max_abs_err"] - np.abs(x - recon).max()) < 1e-18


def test_quantize_int8_codes_fit_int8(spark):
    from cadastre_pg_spark.operators.similarity import quantize_int8

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    agg = quantize_int8(emb).agg(
        F.max("max_code").alias("mx"), F.min("min_code").alias("mn")
    ).first()
    assert -127 <= agg["mn"] and agg["mx"] <= 127


def test_pq_encode_matches_numpy_reference(spark):
    import hashlib

    import numpy as np

    from cadastre_pg_spark.operators.similarity import pq_encode

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).round(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    m, k, sd = 4, 6, 2
    got = {
        (r["vec_id"], r["subspace"]): (r["code"], r["sq_err"])
        for r in pq_encode(emb, m=m, k_codes=k).collect()
    }
    # reference: same md5-order codebook, first-min assignment
    order = sorted(range(40), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cb = vecs[order[:k]].reshape(k, m, sd)
    v = vecs.reshape(40, 1, m, sd)
    dists = np.round(((v - cb[None]) ** 2).sum(axis=3), 6)
    codes = np.argmin(dists, axis=1)
    for i in range(40):
        for j in range(m):
            c, e = got[(i, j)]
            assert c == codes[i, j]
            assert e == dists[i, c, j]


def test_pq_encode_empty_and_shape(spark):
    from cadastre_pg_spark.operators.similarity import pq_encode

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert pq_encode(empty, m=4, k_codes=4).count() == 0

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    out = pq_encode(emb, m=8, k_codes=16)
    n = emb.count()
    assert out.count() == n * 8
    agg = out.agg(F.min("code").alias("lo"), F.max("code").alias("hi"),
                  F.min("sq_err").alias("e")).first()
    assert 0 <= agg["lo"] and agg["hi"] <= 15 and agg["e"] >= 0.0


def test_pq_topk_recall_beats_random(spark):
    """ADC recall on the synthetic embeddings (near-random 64-d — the
    hardest case for an untrained sampled codebook): must land far
    above chance (k/N = 1%), and finer subspaces must help. Measured:
    m=8/k16 -> 0.10, m=16/k16 -> 0.26 vs exact top-5. Real corpora
    with cluster structure + offline-trained codebooks sit much
    higher; the operator's contract here is the distributed shape and
    the exact ADC arithmetic (oracled), not codebook quality."""
    from cadastre_pg_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine(emb, qs, k=5).collect()
    }
    got_default = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, qs, k=5, m=8, k_codes=16).collect()
    }
    got_fine = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, qs, k=5, m=16, k_codes=16).collect()
    }
    r_default = len(exact & got_default) / len(exact)
    r_fine = len(exact & got_fine) / len(exact)
    assert r_default >= 0.05, r_default  # >= 5x random
    assert r_fine >= 0.15, r_fine
    assert r_fine > r_default


def test_pq_topk_deterministic(spark):
    from cadastre_pg_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    a = sorted(map(tuple, pq_topk(emb, qs, k=3).collect()))
    b = sorted(map(tuple, pq_topk(emb, qs, k=3).collect()))
    assert a == b


def _semdedup_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_semdedup_drops_copies_keeps_originals(spark):
    from cadastre_pg_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet").limit(100)
    copies = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    both = emb.select("vec_id", "embedding").unionByName(copies)
    out = semdedup(both, threshold=0.95, n_lists=8)
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 200
    # every exact copy dropped, every original kept (copy has higher id)
    for vid, r in got.items():
        assert r.kept == (vid < 1_000_000)
        # copies land in their original's cluster
        if vid >= 1_000_000:
            assert r.list_id == got[vid - 1_000_000].list_id
    release_cached(out)


def test_semdedup_threshold_above_all_keeps_everything(spark):
    from cadastre_pg_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet").limit(60)
    out = semdedup(emb.select("vec_id", "embedding"), threshold=0.999)
    assert out.filter(~F.col("kept")).count() == 0
    release_cached(out)


def test_semdedup_max_list_caps_hot_cluster_loudly(spark):
    from cadastre_pg_spark.operators.similarity import semdedup

    # 28 identical vectors + 2 distant ones. The sampled quantizer
    # takes the 3 md5-first ids as centroids — for ids 0..29 that
    # order starts 27, 6, 19, so vectors are placed to make ids 27
    # and 6 the distant ones: centroids then span all 3 directions
    # and the identical pile lands in ONE hot cluster. With
    # max_list=10 that cluster is excluded from the output and
    # reported loudly; the singleton clusters are still decided.
    rows = [
        (
            i,
            [0.0, 1.0, 0.0, 0.0] if i == 27
            else [0.0, 0.0, 1.0, 0.0] if i == 6
            else [1.0, 0.0, 0.0, 0.0],
        )
        for i in range(30)
    ]
    out = semdedup(_semdedup_df(spark, rows), threshold=0.9, n_lists=3,
                   max_list=10)
    got = {r.vec_id: r for r in out.collect()}
    assert set(got) == {27, 6}
    assert all(r.kept for r in got.values())
    sk = {(r.list_id, r.n) for r in skipped(out).collect()}
    assert len(sk) == 1 and next(iter(sk))[1] == 28
    release_cached(out)


def _brute_topk(vecs, k):
    """Single-process exact top-k: (query_id, neighbor_id, rank) and
    the cosine rounded to 6 dp, ties by neighbor_id."""
    import numpy as np

    m = np.asarray(vecs, dtype=np.float64)
    u = m / np.linalg.norm(m, axis=1)[:, None]
    out = {}
    for q in range(len(m)):
        ranked = sorted(
            ((-round(float(u[q] @ u[n]), 6), n) for n in range(len(m)) if n != q)
        )
        for rank, (c, n) in enumerate(ranked[:k], 1):
            out[(q, n, rank)] = -c
    return out


@pytest.mark.parametrize("n", [2, 3])
@pytest.mark.parametrize("op", [ivf_topk, ivf_topk_sampled])
def test_ivf_probe_clamps_to_list_count(spark, op, n):
    """Fewer lists than n_probe: every list is probed, so the IVF
    search returns the brute-force top-k (the k-means path once raised
    in its probe UDF here)."""
    vecs = [[1.0, 0.0, 0.0, 0.0], [0.6, 0.8, 0.0, 0.0], [0.0, 0.0, 1.0, 0.5]][:n]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    got = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in op(emb, emb, k=5, n_probe=4).collect()
    }
    want = _brute_topk(vecs, 5)
    assert got.keys() == want.keys()
    for key, c in want.items():
        assert abs(got[key] - c) < 1e-6, (key, got[key], c)


def test_pq_topk_build_collects_the_codebook_once(spark):
    """pq_topk's codebook and its codes share ONE md5-sample collect:
    building the DataFrame starts exactly one driver job."""
    from cadastre_pg_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{SF_UNIT}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    sc = spark.sparkContext
    sc.setJobGroup("pq-topk-build", "build pq_topk")
    try:
        out = pq_topk(emb, qs, k=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup("pq-topk-build")) == 1
    assert out.count() > 0


def _md5_first(ids):
    import hashlib

    return sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))


def test_semdedup_max_list_both_sides_of_the_cap(spark):
    """Clusters of 8, 4 and 2 members, each holding exact copies. At
    max_list = 8 nothing is skipped and the output equals the uncapped
    one; at 7 exactly the hot cluster is reported and its rows are the
    only ones missing."""
    from cadastre_pg_spark.operators.similarity import semdedup

    order = _md5_first(range(14))
    # the 3 md5-first ids are the centroids: one per direction
    groups = [[order[0], *order[3:10]], [order[1], *order[10:13]], [order[2], order[13]]]
    rows = []
    for g, ids in enumerate(groups):
        for j, i in enumerate(ids):
            v = [0.0, 0.0, 0.0, (j % 3) * 0.3]
            v[g] = 1.0
            rows.append((i, v))
    emb = _semdedup_df(spark, rows)

    def run(cap):
        out = semdedup(emb, threshold=0.99, n_lists=3, max_list=cap)
        got = {tuple(r) for r in out.collect()}
        sk = set() if cap is None else {tuple(r) for r in skipped(out).collect()}
        release_cached(out)
        return got, sk

    full, none = run(None)
    assert none == set()
    sizes = {}
    for _, lid, _ in full:
        sizes[lid] = sizes.get(lid, 0) + 1
    assert sorted(sizes.values()) == [2, 4, 8]
    assert any(not kept for _, _, kept in full)
    for cap in (8, 7):
        got, sk = run(cap)
        dropped = {(lid, n) for lid, n in sizes.items() if n > cap}
        assert sk == dropped
        assert len(dropped) == (cap < 8)
        lost = {lid for lid, _ in dropped}
        assert got == {r for r in full if r[1] not in lost}


def test_embedding_neardup_max_bucket_both_sides_of_the_cap(spark):
    """Three groups of exact copies (6, 3 and 2 vectors) in distinct
    hyperplane buckets. At max_bucket = 6 nothing is skipped and the
    output equals the uncapped one; at 5 exactly the hot bucket is
    reported and only its pairs are gone."""
    import numpy as np

    from cadastre_pg_spark.operators.dedup import embedding_neardup_pairs
    from cadastre_pg_spark.operators.similarity import _unit_and_bucket

    base = np.eye(8)[[0, 3, 6]] - 0.1
    rows, vid = [], 0
    for v, copies in zip(base, (6, 3, 2)):
        for _ in range(copies):
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bucket = {r.vec_id: r.bucket for r in _unit_and_bucket(emb, 4).collect()}
    sizes = {}
    for b in bucket.values():
        sizes[b] = sizes.get(b, 0) + 1
    assert sorted(sizes.values()) == [2, 3, 6]

    def run(cap):
        out = embedding_neardup_pairs(emb, threshold=0.999, n_planes=4, max_bucket=cap)
        got = {tuple(r) for r in out.collect()}
        sk = {tuple(r) for r in skipped(out).collect()}
        release_cached(out)
        return got, sk

    full, _ = run(4096)
    assert len(full) == 15 + 3 + 1
    hot = max(sizes, key=sizes.get)
    for cap in (6, 5):
        got, sk = run(cap)
        assert sk == ({(hot, 6)} if cap < 6 else set())
        assert got == {p for p in full if cap >= 6 or bucket[p[0]] != hot}
