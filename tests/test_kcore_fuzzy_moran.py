"""kcore / fuzzy_pairs / morans_i: reference parity + contract tests."""

import math

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.dedup import fuzzy_pairs
from cadastre_pg_spark.operators.density import morans_i
from cadastre_pg_spark.operators.graph import kcore
from cadastre_pg_spark.operators.held import skipped


# ------------------------------------------------------------------ kcore


def _peel(edge_list, k):
    """Reference peel: repeatedly drop nodes with degree < k."""
    adj = {}
    for s, d in edge_list:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    changed = True
    while changed:
        changed = False
        for node in [n for n, nb in adj.items() if len(nb) < k]:
            for nb in adj.pop(node):
                adj[nb].discard(node)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def _run_kcore(spark, edge_list, k):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    df = kcore(edges, k)
    return {r.node: r.core_deg for r in df.collect()}


def test_kcore_triangle_with_tail(spark):
    # triangle 0-1-2 plus a tail 2-3-4: the 2-core is just the triangle
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    assert _run_kcore(spark, edges, 2) == {0: 2, 1: 2, 2: 2}


def test_kcore_empty_when_k_too_high(spark):
    assert _run_kcore(spark, [(0, 1), (1, 2), (2, 0)], 3) == {}


def test_kcore_already_a_core_is_unchanged(spark):
    # K4: every node has degree 3
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _run_kcore(spark, edges, 3) == {i: 3 for i in range(4)}


def test_kcore_matches_reference_peel(spark):
    n = 40
    edges = [(i, (i * 7 + j * 11 + 1) % n) for i in range(n) for j in range(3)]
    edges = [(s, d) for s, d in edges if s != d]
    for k in (2, 3, 4):
        assert _run_kcore(spark, edges, k) == _peel(edges, k)


def test_kcore_duplicate_and_self_edges_collapse(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0)]
    assert _run_kcore(spark, edges, 2) == {0: 2, 1: 2, 2: 2}


# ------------------------------------------------------------ fuzzy_pairs


def _pairs(spark, strings, **kw):
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    out = fuzzy_pairs(df, "s", **kw)
    return {(r.s_a, r.s_b): r.dist for r in out.collect()}, out


def test_fuzzy_finds_near_matches_in_block(spark):
    got, _ = _pairs(spark, ["alpha one", "alpha ones", "alpha onyx"], max_dist=2)
    assert got[("alpha one", "alpha ones")] == 1
    # 'one '+'s' vs 'onyx': e->y sub, s->x sub ... same block, dist 2
    assert got[("alpha ones", "alpha onyx")] == 2


def test_fuzzy_beyond_threshold_excluded(spark):
    got, _ = _pairs(spark, ["alpha one", "alpha zzzzz"], max_dist=2)
    assert got == {}


def test_fuzzy_cross_block_recall_contract(spark):
    # dist 1 but first-2-char prefixes differ -> documented miss
    got, _ = _pairs(spark, ["cat", "bat"], max_dist=2)
    assert got == {}


def test_fuzzy_distinct_input_no_duplicate_pairs(spark):
    got, _ = _pairs(spark, ["aaaa", "aaab", "aaaa", "aaab"], max_dist=1)
    assert got == {("aaaa", "aaab"): 1}


def test_fuzzy_mega_block_cap_and_metric(spark):
    strs = [f"aa{i:03d}" for i in range(50)] + ["bb1", "bb2"]
    got, out = _pairs(spark, strs, max_dist=2, max_block=10)
    # the 50-string block is skipped entirely, the small one survives
    assert all(a.startswith("bb") for a, _ in got)
    sk = skipped(out).collect()
    assert len(sk) == 1 and sk[0].n == 50


# --------------------------------------------------------------- morans_i


def _cells(spark, counts_by_cell):
    rows = [(c,) for c, k in counts_by_cell.items() for _ in range(k)]
    return spark.createDataFrame(rows, "cell long")


def test_morans_checkerboard_is_negative(spark):
    n = 4
    counts = {ix * n + iy: (10 if (ix + iy) % 2 == 0 else 0) for ix in range(n) for iy in range(n)}
    row = morans_i(_cells(spark, counts), level=2).first()
    assert row.n_cells == 16 and row.n_points == 80
    # queen adjacency: 48 directed rook pairs x (-25) + 36 diagonal
    # pairs x (+25) -> I = 16*(-300e9)/(84*400e9) = -1/7 exactly
    assert row.morans_i == pytest.approx(-1.0 / 7.0, abs=1e-12)


def test_morans_clustered_is_positive(spark):
    # all mass in one 2x2 corner block of the 4x4 lattice
    counts = {0: 9, 1: 9, 4: 9, 5: 9}
    row = morans_i(_cells(spark, counts), level=2).first()
    assert row.morans_i > 0.3


def test_morans_uniform_surface_is_null(spark):
    counts = {c: 3 for c in range(16)}
    row = morans_i(_cells(spark, counts), level=2).first()
    assert row.den_units == 0 and row.morans_i is None


def test_morans_w_pairs_lattice_formula(spark):
    # directed queen pairs on 4x4: 4 corners x3 + 8 edges x5 + 4 interior x8
    row = morans_i(_cells(spark, {0: 1}), level=2).first()
    assert row.w_pairs == 4 * 3 + 8 * 5 + 4 * 8


def test_morans_matches_numpy_reference(spark):
    n = 4
    counts = {ix * n + iy: (ix * 3 + iy * 7) % 5 for ix in range(n) for iy in range(n)}
    row = morans_i(_cells(spark, {c: k for c, k in counts.items() if k}), level=2).first()
    npts = sum(counts.values())
    m = npts / 16
    dev = {c: counts.get(c, 0) - m for c in range(16)}
    den = sum(math.floor((d * d) * 1e9) for d in dev.values())
    num = 0
    w = 0
    for ix in range(n):
        for iy in range(n):
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if (dx, dy) == (0, 0):
                        continue
                    jx, jy = ix + dx, iy + dy
                    if 0 <= jx < n and 0 <= jy < n:
                        w += 1
                        num += math.floor(
                            (dev[ix * n + iy] * dev[jx * n + jy]) * 1e9
                        )
    assert row.num_units == num and row.den_units == den and row.w_pairs == w
    assert row.morans_i == (16.0 * float(num)) / (float(w) * float(den))
