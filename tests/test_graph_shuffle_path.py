"""The iterative ops' above-the-gate (shuffle) paths, forced on small
graphs by monkeypatching BCAST_NODE_LIMIT to 0: results must equal the
broadcast-path results exactly (round-6 plan rework touched both
paths; the gate only selects a strategy, never semantics)."""

import pyspark.sql.functions as F
import pytest

from cadastre_pg_spark.operators import graph as G


def _edges(spark, n=400, deg=3):
    i = F.col("id")
    e = spark.range(n).select(
        i.alias("src"),
        F.explode(
            F.array(
                *[
                    ((i * F.lit(7919 + 97 * k)) % F.lit(n)).alias(f"d{k}")
                    for k in range(deg)
                ]
            )
        ).alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    return e


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def force_shuffle(monkeypatch):
    monkeypatch.setattr(G, "BCAST_NODE_LIMIT", 0)


def test_connected_components_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    got = _rows(G.connected_components(e), ["node", "cluster"])
    # broadcast-path reference
    import importlib

    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(G.connected_components(e), ["node", "cluster"])
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) > 0


def test_pagerank_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark)
    nodes = spark.range(400).select(F.col("id").alias("node"))
    got = _rows(G.pagerank(e, nodes, iters=3, n_nodes=400), ["node", "rank"])
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(
            G.pagerank(e, nodes, iters=3, n_nodes=400), ["node", "rank"]
        )
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) == 400


def test_hits_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark)
    nodes = spark.range(400).select(F.col("id").alias("node"))
    got = _rows(
        G.hits(e, nodes, iters=2, n_nodes=400), ["node", "hub", "authority"]
    )
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(
            G.hits(e, nodes, iters=2, n_nodes=400),
            ["node", "hub", "authority"],
        )
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) == 400


def test_personalized_pagerank_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark)
    nodes = spark.range(400).select(F.col("id").alias("node"))
    seeds = spark.range(5).select((F.col("id") * 37).alias("node"))
    got = _rows(
        G.personalized_pagerank(e, nodes, seeds, iters=3), ["node", "rank"]
    )
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(
            G.personalized_pagerank(e, nodes, seeds, iters=3), ["node", "rank"]
        )
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) == 400


def test_kcore_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark, deg=4)
    got = _rows(G.kcore(e, 4), ["node", "core_deg"])
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(G.kcore(e, 4), ["node", "core_deg"])
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) > 0


def test_sssp_bfs_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark).withColumn(
        "w", F.lit(1) + F.pmod(F.col("src") * 13 + F.col("dst"), F.lit(9))
    )
    seeds = spark.range(3).select(F.col("id").alias("node"))
    got_s = _rows(G.sssp(e, seeds), ["node", "dist"])
    got_b = _rows(G.bfs_hops(e, seeds), ["node", "hop"])
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want_s = _rows(G.sssp(e, seeds), ["node", "dist"])
        want_b = _rows(G.bfs_hops(e, seeds), ["node", "hop"])
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got_s == want_s and len(got_s) > 0
    assert got_b == want_b and len(got_b) > 0


def test_label_prop_shuffle_path_equal(spark, force_shuffle):
    e = _edges(spark)
    got = _rows(G.label_prop(e, iters=2), ["node", "label"])
    orig = G.BCAST_NODE_LIMIT
    G.BCAST_NODE_LIMIT = 5_000_000
    try:
        want = _rows(G.label_prop(e, iters=2), ["node", "label"])
    finally:
        G.BCAST_NODE_LIMIT = orig
    assert got == want and len(got) > 0


def test_cc_contraction_branch_equal(spark, monkeypatch):
    """Force the contraction branch on a small graph (gate -> 0) and
    check exact equality with the direct-iteration branch, on a mix of
    chains (deep), stars (collapse at round 1) and singleton pairs."""
    n = 500
    chain = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    star = spark.range(50).select(
        (F.lit(10_000)).alias("doc_a"), (F.col("id") + F.lit(10_001)).alias("doc_b")
    )
    pairs = spark.range(30).select(
        (F.col("id") * 2 + 20_000).alias("doc_a"),
        (F.col("id") * 2 + 20_001).alias("doc_b"),
    )
    e = chain.unionByName(star).unionByName(pairs)
    want = _rows(G.connected_components(e), ["node", "cluster"])
    monkeypatch.setattr(G, "CC_CONTRACT_EDGE_LIMIT", 0)
    got = _rows(G.connected_components(e), ["node", "cluster"])
    assert got == want and len(got) == n + 51 + 60


def test_cc_long_chain_converges_to_min(spark):
    # long chains: worst case for min-label propagation
    n = 3000
    e = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rows = G.connected_components(e).collect()
    assert len(rows) == n
    assert {r.cluster for r in rows} == {0}
