"""pagerank: goldens, reference parity, quantization bounds."""

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.graph import pagerank
from cadastre_pg_spark.operators.held import release_cached


def _run(spark, edge_list, n, iters=5):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node long")
    df = pagerank(edges, nodes, iters=iters, n_nodes=n)
    out = {r.node: r.rank for r in df.collect()}
    release_cached(df)
    return out


def _reference(edge_list, n, iters=5, damping=0.85):
    """Plain-double reference (no quantization)."""
    from collections import defaultdict

    out = defaultdict(list)
    for s, d in edge_list:
        out[s].append(d)
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(iters):
        nxt = {v: (1.0 - damping) / n for v in range(n)}
        for s, dsts in out.items():
            c = r[s] / len(dsts)
            for d in dsts:
                nxt[d] += damping * c
        r = nxt
    return r


def test_cycle_is_uniform(spark):
    n = 4
    edges = [(i, (i + 1) % n) for i in range(n)]
    ranks = _run(spark, edges, n)
    for v in range(n):
        assert ranks[v] == pytest.approx(1.0 / n, abs=1e-12)


def test_star_center_dominates_and_matches_reference(spark):
    n = 6
    edges = [(i, 0) for i in range(1, n)] + [(0, 1)]
    ranks = _run(spark, edges, n)
    ref = _reference(edges, n)
    assert ranks[0] == max(ranks.values())
    for v in range(n):
        # integer-unit floor loses <= 1e-14/step; 5 steps amplified by
        # damping still leaves agreement far below 1e-10
        assert ranks[v] == pytest.approx(ref[v], abs=1e-10)


def test_mass_conservation_no_dangling(spark):
    # every node has out-degree >= 1 -> total rank stays ~1
    n = 20
    edges = [(i, (i * 7 + 1) % n) for i in range(n)] + [
        (i, (i * 3 + 2) % n) for i in range(n) if (i * 3 + 2) % n != i
    ]
    edges = [(s, d) for s, d in edges if s != d]
    ranks = _run(spark, edges, n)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_dangling_mass_leaks_documented(spark):
    # node 2 has no out-edges: its rank mass is dropped by design
    n = 3
    edges = [(0, 1), (1, 2)]
    ranks = _run(spark, edges, n, iters=3)
    ref = _reference(edges, n, iters=3)
    for v in range(n):
        assert ranks[v] == pytest.approx(ref[v], abs=1e-10)
    assert sum(ranks.values()) < 1.0


def test_deterministic_across_runs(spark):
    n = 30
    edges = [(i, (i * 13 + 5) % n) for i in range(n) if (i * 13 + 5) % n != i]
    a = _run(spark, edges, n)
    b = _run(spark, edges, n)
    assert a == b  # bitwise
