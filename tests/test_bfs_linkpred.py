"""bfs_hops / neighborhood_overlap: brute-force parity, hub caps,
degenerate inputs."""

from itertools import combinations

from cadastre_pg_spark.operators.graph import bfs_hops, neighborhood_overlap
from cadastre_pg_spark.operators.held import skipped


def _run_bfs(spark, edge_list, seed_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seed_list], "node long")
    return {r.node: r.hop for r in bfs_hops(edges, seeds).collect()}


def _brute_bfs(edge_list, seed_list):
    """Reference BFS: repeated relaxation to fixpoint."""
    hop = {s: 0 for s in seed_list}
    changed = True
    while changed:
        changed = False
        for s, d in edge_list:
            if s in hop and hop.get(d, 1 << 30) > hop[s] + 1:
                hop[d] = hop[s] + 1
                changed = True
    return hop


def test_bfs_chain(spark):
    edges = [(0, 1), (1, 2), (2, 3), (3, 4)]
    assert _run_bfs(spark, edges, [0]) == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_multi_source_min(spark):
    # node 2 reachable from both seeds; takes the SHORTER path (from 4)
    edges = [(0, 1), (1, 2), (4, 2), (2, 3)]
    got = _run_bfs(spark, edges, [0, 4])
    assert got == {0: 0, 4: 0, 1: 1, 2: 1, 3: 2}


def test_bfs_unreachable_absent(spark):
    edges = [(0, 1), (5, 6)]
    got = _run_bfs(spark, edges, [0])
    assert got == {0: 0, 1: 1}  # 5, 6 absent — directed, unreachable


def test_bfs_cycle_terminates(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    assert _run_bfs(spark, edges, [0]) == {0: 0, 1: 1, 2: 2}


def test_bfs_random_graph_parity(spark):
    n = 60
    edges = [
        (i, (i * 7 + k * 13 + 1) % n) for i in range(n) for k in range(1 + i % 3)
    ]
    seeds = [i for i in range(n) if i % 11 == 0]
    assert _run_bfs(spark, edges, seeds) == _brute_bfs(edges, seeds)


def _run_lp(spark, edge_list, min_common=1, max_center_deg=None):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    df = neighborhood_overlap(
        edges, min_common=min_common, max_center_deg=max_center_deg
    )
    rows = {(r.u, r.w): (r.common, r.deg_u, r.deg_w, r.jaccard) for r in df.collect()}
    return rows, skipped(df)


def _brute_lp(edge_list, n, min_common=1):
    adj = {i: set() for i in range(n)}
    for s, d in edge_list:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    out = {}
    for u, w in combinations(range(n), 2):
        if w in adj[u]:
            continue
        cn = len(adj[u] & adj[w])
        if cn >= min_common:
            du, dw = len(adj[u]), len(adj[w])
            out[(u, w)] = (cn, du, dw, cn / (du + dw - cn))
    return out


def test_lp_square(spark):
    # 4-cycle: the two diagonals each share both midpoints
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got, skipped = _run_lp(spark, edges, min_common=2)
    assert skipped == 0
    assert got == {(0, 2): (2, 2, 2, 1.0), (1, 3): (2, 2, 2, 1.0)}


def test_lp_excludes_adjacent(spark):
    # triangle + pendant: (0,1) share 2 but ARE adjacent -> excluded
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (1, 3)]
    got, _ = _run_lp(spark, edges, min_common=2)
    assert (0, 1) not in got
    assert got[(2, 3)] == (2, 2, 2, 1.0)  # N(2)={0,1}=N(3)


def test_lp_random_graph_parity(spark):
    n = 50
    edges = [
        (i, (i * 11 + k * 17 + 1) % n) for i in range(n) for k in range(1 + i % 3)
    ]
    got, skipped = _run_lp(spark, edges, min_common=1)
    assert skipped == 0
    assert got == _brute_lp(edges, n, min_common=1)


def test_lp_hub_cap_skips_center(spark):
    # star: hub 0 connects 1..9 -> every leaf pair is a candidate via
    # center 0; capping center degree below 9 drops them all
    edges = [(0, i) for i in range(1, 10)]
    got, skipped = _run_lp(spark, edges, min_common=1, max_center_deg=5)
    assert skipped == 1
    assert got == {}
    full, skipped0 = _run_lp(spark, edges, min_common=1)
    assert skipped0 == 0
    assert len(full) == 36  # C(9,2) leaf pairs through the hub


def test_lp_empty(spark):
    got, skipped = _run_lp(spark, [(0, 0)])  # self-loop only -> no graph
    assert got == {} and skipped == 0


# ------------------------------------------------------------- sssp


def _sssp(spark, edge_list, seed_list, **kw):
    from cadastre_pg_spark.operators.graph import sssp

    edges = spark.createDataFrame(edge_list, "src long, dst long, w long")
    seeds = spark.createDataFrame([(s,) for s in seed_list], "node long")
    return {r.node: r.dist for r in sssp(edges, seeds, **kw).collect()}


def _dijkstra(edge_list, seed_list):
    import heapq

    adj = {}
    for s, d, w in edge_list:
        adj.setdefault(s, []).append((d, w))
    dist = {s: 0 for s in seed_list}
    pq = [(0, s) for s in seed_list]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_sssp_prefers_light_long_path(spark):
    # direct heavy edge 0->3 (10) vs 3-hop light path (1+1+1)
    edges = [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)]
    got = _sssp(spark, edges, [0])
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_multi_seed_takes_nearest(spark):
    edges = [(0, 1, 5), (9, 1, 2), (1, 2, 1)]
    got = _sssp(spark, edges, [0, 9])
    assert got == {0: 0, 9: 0, 1: 2, 2: 3}


def test_sssp_unreachable_absent_and_directedness(spark):
    edges = [(0, 1, 1), (2, 3, 1)]  # 2,3 in another component; 1->0 absent
    got = _sssp(spark, edges, [0])
    assert got == {0: 0, 1: 1}


def test_sssp_matches_dijkstra_pseudorandom(spark):
    n = 40
    edges = [
        (i, (i * 7 + j * 11 + 1) % n, 1 + (i * 13 + j * 5) % 9)
        for i in range(n)
        for j in range(3)
    ]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    seeds = [0, 17]
    assert _sssp(spark, edges, seeds) == _dijkstra(edges, seeds)


def test_sssp_round_budget_raises_loudly(spark):
    import pytest as _pt

    chain = [(i, i + 1, 1) for i in range(10)]
    with _pt.raises(RuntimeError, match="still improving"):
        _sssp(spark, chain, [0], max_rounds=3)
