"""Connected components over pair graphs — the clustering step AFTER
pairwise near-dup detection (minhash/simhash/embedding pairs in, one
cluster id per document out; the survivor-selection policy then picks
min doc_id per cluster exactly like exact_dedup's 'first wins',
cli.rs:466-474).

Algorithm: min-label propagation WITH POINTER JUMPING — each round
(1) every node takes the min label across its neighborhood, then
(2) relabels through the current labels (lab <- lab(lab(node))), so
label paths halve every round and convergence takes O(log diameter)
rounds, not O(diameter). Every round ends in localCheckpoint: an
iterative Spark loop that keeps logical lineage re-analyzes a tree
that grows per round — truncating it is what keeps round k as cheap
as round 1.

Convergence is detected by the label SUM (labels only ever decrease,
so an unchanged sum means a fixpoint — one cheap aggregate per round,
no join-and-compare). max_rounds=20 therefore supports component
diameters up to ~2^19; beyond it the loop raises loudly instead of
silently emitting a non-converged labeling.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .held import hold


def _shuffle_n(df: DataFrame) -> int:
    """The session's shuffle-partition count (the bench/production conf
    knob) — used to pin explicit repartitions so co-partitioned joins
    line up; falls back to 2x default parallelism when unreadable."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism * 2


_ROWS_PER_PART = 2_000_000  # narrow long-pair rows per task (~32 MB)

# node-sized tables at or under this many rows broadcast in the
# iterative ops (the measured house gate); module-level so tests can
# force the shuffle paths on small graphs
BCAST_NODE_LIMIT = 5_000_000

# symmetric-edge count above which connected_components contracts the
# graph after the first neighborhood-min round (module-level so tests
# can force the contraction branch on small graphs)
CC_CONTRACT_EDGE_LIMIT = 1_000_000


def _broadcastable(n_rows: int) -> bool:
    """The measured house gate: a node-sized table of `n_rows` long
    pairs broadcasts (<~100 MB build) at or under BCAST_NODE_LIMIT,
    read per call so tests can force the shuffle paths."""
    return n_rows <= BCAST_NODE_LIMIT


def _gate(d: DataFrame, n_rows: int) -> DataFrame:
    """`d` with a broadcast hint when its `n_rows` pass the gate, so the
    static edge table of an iterative op is never re-shuffled per round;
    above it the join falls back to a shuffle plan unchanged."""
    return F.broadcast(d) if _broadcastable(n_rows) else d


def _adaptive_n(df: DataFrame, n_rows: int) -> int:
    """Partition count for the iterative ops' pinned repartitions:
    scale-adaptive (guide §2.2/§2.5 — sized from the data, capped at
    the session conf), never a constant. A fixed repartition(conf_n)
    at small inputs schedules conf_n near-empty tasks for EVERY round
    stage (measured 2x regression on label_prop at sf0.1); AQE cannot
    coalesce an explicit-N repartition, so N itself must adapt."""
    n = max(1, -(-int(n_rows) // _ROWS_PER_PART))
    return min(n, _shuffle_n(df))


def connected_components(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_rounds: int = 20,
) -> DataFrame:
    """edges(a, b) -> (node, cluster) where cluster = min node id in
    the node's connected component. Exact; nodes = every id appearing
    in edges. Returns an empty frame for an empty edge set.

    Plan shape (round-6 measured rework; results bit-identical):
    - symmetrization happens INSIDE one pipeline pass via an explode
      of the (src,dst)/(dst,src) struct pair — the old union-of-two-
      branches sym checkpoint evaluated the caller's full LSH/overlap
      pair pipeline twice, once per branch;
    - convergence is detected on the PRE-jump table (labels only
      decrease, so sum(stepped) == sum(lab) is elementwise equality;
      stability under neighborhood-min implies per-component-constant
      labels, which are a jump fixpoint) — the final round's pointer
      jump is never executed;
    - dense graphs CONTRACT after the first neighborhood-min round
      (the two-phase CC shape): edges whose endpoints share a label
      are internal and are dropped, the rest relabel to their label
      endpoints — the remaining O(log d) rounds scan the contracted
      graph instead of re-scanning every raw edge (measured 9 rounds
      x 5.1M rows -> 1 round x 5.1M + 8 rounds x ~contracted on the
      dissolve graph). Contraction preserves components and their
      minima exactly: labels are member ids, and a component's min
      node labels itself."""
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a).cast("long").alias("src"),
                        F.col(b).cast("long").alias("dst"),
                    ),
                    F.struct(
                        F.col(b).cast("long").alias("src"),
                        F.col(a).cast("long").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )
    cached = [sym]
    # with contraction the raw sym table is scanned at most twice
    # (round 1 + the relabel pass), so no re-spread is needed — the
    # count only picks the small-vs-contract branch below
    n_sym = sym.count()
    lab = (
        sym.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    cached.append(lab)
    first = lab.agg(F.sum("lab"), F.count(F.lit(1))).first()
    prev_sum, n_nodes = first[0], first[1]
    if prev_sum is None:  # no edges at all
        out = lab.select("node", F.col("lab").alias("cluster"))
        return hold(out, *cached)
    # the label table is one (node, lab) long-pair per node: under the
    # gate BOTH per-round joins run map-side
    bcast = _broadcastable(n_nodes)

    def _min_rounds(sym_i, lab_i, prev_sum_i, rounds_left):
        """Min-label + pointer-jump rounds to the fixpoint; returns the
        converged (node, lab) table. sym_i/lab_i must be cached."""
        lab_r = lab_i
        prev = prev_sum_i
        for _ in range(rounds_left):
            # (1) neighborhood min: union the node's own label in as an
            # extra aggregation arm (measured cheaper per round than a
            # separate node-keyed fold-in join — the union rides the
            # same node-sized partial-agg exchange)
            nbr = sym_i.join(_gate(lab_r, n_nodes), sym_i.src == lab_r.node).select(
                F.col("dst").alias("node"), "lab"
            )
            stepped = (
                lab_r.select("node", "lab")
                .unionByName(nbr)
                .groupBy("node")
                .agg(F.min("lab").alias("lab"))
                # lazy checkpoint + immediate aggregate = the
                # convergence sum rides the SAME job that materializes
                # the round — one driver job per round instead of
                # checkpoint-then-sum
                .localCheckpoint(eager=False)
            )
            cached.append(stepped)
            new_sum = stepped.agg(F.sum("lab")).first()[0]
            if new_sum == prev:
                return stepped
            prev = new_sum
            # (2) pointer jump: lab <- lab(lab(node)). Labels are node
            # ids with lab(m) <= m, so the jump only ever lowers a
            # label; the left join covers the (impossible in practice)
            # dangling case. The map side is REBUILT with renamed
            # columns (fresh exprIds) — an alias-based self-join of
            # `stepped` loses an attribute in the optimizer on some
            # plans (NoSuchElementException).
            jump = stepped.select(
                F.col("node").alias("m_node"), F.col("lab").alias("m_lab")
            )
            new = (
                stepped.join(
                    _gate(jump, n_nodes), F.col("lab") == F.col("m_node"), "left"
                )
                .select(
                    "node",
                    F.coalesce(F.col("m_lab"), F.col("lab")).alias("lab"),
                )
            )
            if not bcast:
                # shuffle path: `new` is consumed twice next round —
                # keep it materialized so the SMJ is not replayed per
                # use (the broadcast path recomputes it from the cached
                # `stepped` with a map-side join, which is cheaper than
                # a second checkpoint write)
                new = new.localCheckpoint(eager=True)
                cached.append(new)
            lab_r = new
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_rounds} rounds "
            f"— component diameter exceeds ~2^{max_rounds - 1}; raise "
            "max_rounds"
        )

    if n_sym <= CC_CONTRACT_EDGE_LIMIT:
        # small graphs: contraction overhead (two maps + a distinct)
        # isn't worth it — iterate directly
        out = _min_rounds(sym, lab, prev_sum, max_rounds).select(
            "node", F.col("lab").alias("cluster")
        )
        return hold(out, *cached)

    # dense/large graph: one neighborhood-min round over the raw
    # edges, then contract and iterate on the (much smaller) label
    # graph — every subsequent round stops re-scanning raw edges
    nbr1 = sym.join(_gate(lab, n_nodes), sym.src == lab.node).select(
        F.col("dst").alias("node"), "lab"
    )
    l1 = (
        lab.select("node", "lab")
        .unionByName(nbr1)
        .groupBy("node")
        .agg(F.min("lab").alias("lab"))
        .localCheckpoint(eager=False)
    )
    cached.append(l1)
    s1 = l1.agg(F.sum("lab")).first()[0]
    if s1 == prev_sum:
        out = l1.select("node", F.col("lab").alias("cluster"))
        return hold(out, *cached)
    m1 = l1.select(F.col("node").alias("m_node"), F.col("lab").alias("m_lab"))
    m2 = l1.select(F.col("node").alias("w_node"), F.col("lab").alias("w_lab"))
    e2 = (
        sym.join(_gate(m1, n_nodes), sym.src == F.col("m_node"))
        .join(_gate(m2, n_nodes), sym.dst == F.col("w_node"))
        .where(F.col("m_lab") != F.col("w_lab"))
        .select(F.col("m_lab").alias("src"), F.col("w_lab").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cached.append(e2)
    lab2 = (
        e2.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    cached.append(lab2)
    sum2 = lab2.agg(F.sum("lab")).first()[0]
    fix2 = _min_rounds(e2, lab2, sum2, max_rounds - 1)
    # map every original node through its round-1 label to the
    # contracted fixpoint; labels whose whole component collapsed at
    # round 1 never enter e2 and keep their (already-minimal) label
    fmap = fix2.select(
        F.col("node").alias("f_node"), F.col("lab").alias("f_lab")
    )
    out = (
        l1.join(_gate(fmap, n_nodes), F.col("lab") == F.col("f_node"), "left")
        .select(
            "node",
            F.coalesce(F.col("f_lab"), F.col("lab")).alias("cluster"),
        )
    )
    return hold(out, *cached)


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup CLUSTERS from the minhash pair graph: (doc_id, cluster)
    for every document participating in at least one pair; cluster =
    min doc_id of its component (the dedup survivor)."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold=threshold, hash_fn=hash_fn)
    cc = connected_components(pairs)
    out = cc.select(F.col("node").alias("doc_id"), "cluster")
    return hold(out, cc, pairs)


RANK_UNIT = 1e14  # 1 rank unit = 1e-14; max rank (=1) fits 2^53 exactly


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over edges(src, dst) — the link-graph
    authority score a web-corpus pipeline feeds into crawl scheduling
    and quality weighting. Returns (node, rank) after `iters` rounds.

    Exactness contract: between iterations ranks are QUANTIZED to
    INTEGER UNITS of 1e-14 via floor(x * 1e14), and per-edge
    contributions are floored to units before the inbound SUM — so the
    aggregation is an exact BIGINT sum (order-independent) and every
    step replays bitwise in plain SQL (the driver oracle unrolls the
    identical iterations in DuckDB). Integer floor + IEEE double ops
    only: no double->DECIMAL casts, whose round-half mode differs
    between engines. The <=1e-14 floor loss per step is ~8 orders
    below anything a ranking consumer can see.

    Scale shape per round: one broadcast-or-shuffle equi-join of edges
    to the current rank vector on src (narrow long keys), one
    map-side-partial SUM keyed on dst, one left join back to nodes.
    localCheckpoint truncates the per-round lineage exactly like
    connected_components — round k plans as cheap as round 1. Dangling
    nodes (no out-edges) contribute nothing (their mass leaks; the
    standard redistribution term is deliberately out of scope and
    documented, keeping the recurrence join-local — no global
    aggregate barrier per round beyond the SUM).
    """
    if n_nodes is None:
        n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes  # python double, shared with the oracle
    u0 = int((1.0 / n_nodes) * RANK_UNIT)  # floor, exact python int
    nv = nodes.select(F.col("node").cast("long").alias("v"))
    return _rank_rounds(edges, nv, n_nodes, F.lit(u0), F.lit(base), iters, damping)


def _rank_rounds(edges, nv, n_nodes, u0, teleport, iters, damping) -> DataFrame:
    """The rank recurrence of pagerank and personalized_pagerank over
    the node table `nv` (v, plus any columns `u0` and `teleport`
    read): ranks start at the `u0` units and each round is
    rank = teleport + damping * inbound, quantized as pagerank's
    docstring states. Returns (node, rank)."""
    # round-6 plan rework (results bit-identical): partition the static
    # edge table ONCE — by dst in broadcast mode so the per-round
    # inbound SUM rides the partitioning (zero exchanges per round); by
    # src above the gate so the per-round rank join is co-partitioned
    # and only the node-sized partial-agg exchange remains. The node
    # table is partitioned by id once for the co-partitioned attach
    # join. In-loop checkpoints are LAZY: lineage still truncates per
    # round, but the fixed-iteration chain executes without a blocking
    # driver job per round.
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = _adaptive_n(edges, n_nodes)
    ed = (
        e.join(deg, "src")
        .repartition(n, "dst" if _broadcastable(n_nodes) else "src")
        .localCheckpoint(eager=True)
    )
    nodes0 = nv.repartition(n, "v").localCheckpoint(eager=True)
    ranks = nodes0.select("v", u0.alias("u"))
    cached = [ed, nodes0]

    out = None
    for _ in range(iters):
        contrib = (
            ed.join(_gate(ranks, n_nodes), ed.src == ranks.v)
            .select(
                "dst",
                # units/out-degree, floored to integer units; F.floor on
                # a double returns LONG — DuckDB twin: CAST(floor(..))
                F.floor(F.col("u").cast("double") / F.col("d")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        stepped = nodes0.join(contrib, F.col("v") == F.col("dst"), "left")
        rd = teleport + F.lit(damping) * (
            F.coalesce(F.col("s"), F.lit(0)).cast("double") / F.lit(RANK_UNIT)
        )
        out = stepped.select(*nv.columns, rd.alias("rd")).localCheckpoint(eager=False)
        cached.append(out)
        ranks = out.select("v", F.floor(F.col("rd") * F.lit(RANK_UNIT)).alias("u"))
    res = out.select(F.col("v").alias("node"), F.col("rd").alias("rank"))
    return hold(res, *cached)


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 5,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over
    edges(src, dst) — pagerank's link-analysis twin: authorities are
    the pages good hubs point AT (crawl-prioritization signal beside
    PageRank), hubs are the pages that point at good authorities
    (directory/spam-farm detector). Returns (node, hub, authority)
    after `iters` full rounds.

    Exactness contract (same as pagerank): scores live as BIGINT units
    of 1e-14. Each half-round is an exact BIGINT inbound SUM of units,
    then an L1 normalization computed in IEEE doubles with a literal-
    identical op shape — floor((s / t) * 1e14) — so every step replays
    bitwise in DuckDB's unrolled-CTE twin. Initial hub mass is
    floor(1e14 / n) per node, keeping every unit value <= ~1e14 and
    every SUM far inside the 2^53 exact-double range, so the
    BIGINT->DOUBLE casts are exact. A dead half-round (t = 0 or NULL:
    no edges) yields all-zero scores via an ANSI-gated CASE, never a
    0/0.

    Scale shape per half-round: one edges-to-scores equi-join (the
    node-sized score table broadcasts under the ~5M house gate, so the
    static edge table is never re-shuffled per round), one map-side-
    partial SUM keyed on the receiving endpoint, and the normalizer is
    a ONE-ROW global agg crossed back in via broadcast — no collect,
    no driver round-trip. localCheckpoint truncates per-round lineage
    exactly like pagerank/connected_components."""
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    if n_nodes is None:
        n_nodes = nodes.count()
    unit = F.lit(float(RANK_UNIT))
    bcast = _broadcastable(n_nodes)
    # round-6 plan rework (results bit-identical): in broadcast mode
    # the static edge table is kept in TWO partitioned copies — by dst
    # for the authority half-round and by src for the hub half-round —
    # so each half's inbound SUM rides a setup partitioning and the
    # round body is exchange-free; the node table is partitioned by id
    # once for the co-partitioned attach join. Above the gate a single
    # unpartitioned copy keeps the old shuffle shape (two copies would
    # double edge storage at scale for no round-body win there).
    # In-loop checkpoints are LAZY (lineage truncation without a
    # blocking driver job per half-round; the fixed-round chain runs
    # in the terminal action).
    n = _adaptive_n(edges, n_nodes)
    e0 = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    if bcast:
        e_by_dst = e0.repartition(n, "dst").localCheckpoint(eager=True)
        e_by_src = e0.repartition(n, "src").localCheckpoint(eager=True)
    else:
        e_by_dst = e_by_src = e0.localCheckpoint(eager=True)
    nv = (
        nodes.select(F.col("node").cast("long").alias("v"))
        .repartition(n, "v")
        .localCheckpoint(eager=True)
    )
    u0 = int(RANK_UNIT / n_nodes)
    h = nv.select("v", F.lit(u0).cast("long").alias("u"))
    cached = [e_by_dst, e_by_src, nv]

    def _half(scores, src_col, dst_col):
        """One half-round: inbound unit SUM onto dst_col, L1-normalize,
        re-floor to units. Returns the new node-sized (v, u) table."""
        e = e_by_dst if dst_col == "dst" else e_by_src
        s = (
            e.join(_gate(scores, n_nodes), F.col(src_col) == scores.v)
            .select(F.col(dst_col).alias("w"), "u")
            .groupBy("w")
            .agg(F.sum("u").alias("s"))
        )
        t = s.agg(F.sum("s").alias("t"))
        out = (
            nv.join(s, F.col("v") == F.col("w"), "left")
            .crossJoin(F.broadcast(t))
            .select(
                "v",
                F.when(
                    F.col("t") > 0,
                    F.floor(
                        (
                            F.coalesce(F.col("s"), F.lit(0)).cast("double")
                            / F.col("t").cast("double")
                        )
                        * unit
                    ),
                )
                .otherwise(F.lit(0))
                .cast("long")
                .alias("u"),
            )
            .localCheckpoint(eager=False)
        )
        cached.append(out)
        return out

    a = None
    for _ in range(iters):
        a = _half(h, "src", "dst")  # authority <- sum of in-edge hub mass
        h = _half(a, "dst", "src")  # hub <- sum of out-edge authority mass
    hub = h.select("v", (F.col("u").cast("double") / unit).alias("hub"))
    auth = a.select(
        F.col("v").alias("va"),
        (F.col("u").cast("double") / unit).alias("authority"),
    )
    res = hub.join(_gate(auth, n_nodes), F.col("v") == F.col("va")).select(
        F.col("v").alias("node"), "hub", "authority"
    )
    return hold(res, *cached)


def kcore(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """k-core of the undirected simple graph of `edges` (src, dst):
    the maximal subgraph in which every node has degree >= k. Output
    (node, core_deg) — core_deg is the node's degree WITHIN the core.

    Algorithm: iterative peel — each round computes the degree census
    on the surviving edge set and drops nodes below k; the fixpoint is
    unique (independent of peel order), so the oracle can replay it by
    unrolling rounds until idempotent. All integer arithmetic.

    Scale shape per round: one narrow-key degree agg (map-side
    partials) + two left-semi joins restricting the edge list, with
    localCheckpoint truncating lineage so round r plans as cheap as
    round 1 (same regime as connected_components). Convergence is
    detected by the surviving-node COUNT: alive sets only shrink, so
    an unchanged count is set equality — one cheap aggregate per
    round, no join-and-compare.
    """
    und = (
        edges.select(
            F.least("src", "dst").cast("long").alias("a"),
            F.greatest("src", "dst").cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cached = [und]
    n_prev = -1
    for _ in range(max_rounds):
        deg = (
            und.select(F.col("a").alias("node"))
            .unionAll(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        # checkpoint: both semi-join sides (and their broadcast builds)
        # consume `alive`; without it each build replays the degree agg
        alive = deg.where(F.col("core_deg") >= k).localCheckpoint(
            eager=True
        )
        cached.append(alive)
        n_alive = alive.count()
        if n_alive == 0 or n_alive == n_prev:
            out = alive.select("node", "core_deg")
            return hold(out, *cached)
        # the gated alive set (n_alive is already counted) filters the
        # edge list map-side instead of re-shuffling it per round
        a_side, b_side = (
            _gate(alive.select(F.col("node").alias(c)), n_alive) for c in "ab"
        )
        und = (
            und.join(a_side, "a", "left_semi")
            .join(b_side, "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        cached.append(und)
        n_prev = n_alive
    raise RuntimeError(
        f"kcore: no fixpoint after {max_rounds} peel rounds "
        f"(still {n_prev} nodes alive); raise max_rounds"
    )


def triangle_counts(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Per-node triangle participation over the undirected simple
    graph of `edges` (src, dst): each triangle increments all three
    corners; nodes in no triangle report 0 (when `nodes` is given).
    Output (node, n_triangles).

    Algorithm: the degree-ordered orientation (the standard
    shuffle-bounded shape) — every undirected edge points from the
    (degree, id)-smaller endpoint to the larger, so each node's
    out-neighborhood is O(sqrt(E)) on skewed graphs and the wedge join
    e1(u,v) x e2(v,w) cannot explode on hub nodes; a wedge closes iff
    the oriented edge (u,w) exists. Each triangle is counted exactly
    once (its corners are totally ordered by rank). All integer
    arithmetic — the SQL twin replays it exactly.

    Scale shape: degree census (narrow-key agg), two equi-joins on
    node ids, one explode + final agg. The orientation is the skew
    defense — without it a single hub of degree d contributes d^2
    wedges.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    wd = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    orient = wd.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    e2 = orient.select(F.col("u").alias("v"), F.col("v").alias("w"))
    wedges = orient.join(e2, "v").select("u", "v", "w")
    close = orient.select(
        F.col("u").alias("u"), F.col("v").alias("w"), F.lit(1).alias("_c")
    )
    tris = wedges.join(close, ["u", "w"]).select("u", "v", "w")
    corners = tris.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    if nodes is None:
        return corners
    return nodes.join(corners, "node", "left").select(
        "node",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )


def clustering_coefficient(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """Local clustering coefficient per node over the undirected
    simple graph of `edges` (src, dst): cc = 2*T / (deg * (deg - 1))
    where T is the node's triangle count — how tightly a page's link
    neighborhood closes on itself (link-farm / community signal).
    Output (node, deg, n_triangles, cc); cc NULL when deg < 2.

    Exactness contract: deg and T are exact integer aggregates
    (triangle_counts' degree-ordered wedge join); cc is ONE division
    of doubles cast from those integers — bitwise identical in the
    SQL twin. Scale shape: triangle_counts' plan plus one extra
    narrow-key join of the degree census (same agg the orientation
    already computes).
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(edges, nodes)
    base = tri.join(deg, "node", "left").select(
        "node",
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
        "n_triangles",
    )
    d = F.col("deg").cast("double")
    cc = (F.lit(2.0) * F.col("n_triangles").cast("double")) / (d * (d - F.lit(1.0)))
    return base.select(
        "node", "deg", "n_triangles", F.when(F.col("deg") >= 2, cc).alias("cc")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """Multi-source BFS over DIRECTED edges(src, dst): for every node
    reachable from the seed set, the minimum hop count from any seed.
    Output (node, hop); unreachable nodes are absent. The crawl-depth /
    seed-distance primitive (how far is each page from the seed list).

    Algorithm: frontier-synchronous BFS (the Pregel shape) — per round
    one equi-join of the CURRENT FRONTIER (not the full visited set)
    against the edge list, one distinct, one left-anti against the
    visited set. Work per round is proportional to the frontier, the
    labels are final the round they are assigned (hop = first round
    seen == minimum, because rounds expand in hop order), and the
    frontier empties at convergence — detected by its count, which the
    round must materialize anyway. localCheckpoint truncates lineage
    so round r plans as cheap as round 1. The fixpoint is unique, so
    the oracle replays it as unrolled idempotent rounds.
    """
    # round-6 plan rework (results bit-identical): the edge table is
    # partitioned by dst once, so in broadcast mode the per-round
    # frontier expansion's distinct rides the setup partitioning and
    # the round is exchange-free; the visited set is kept as the UNION
    # OF THE CACHED PER-ROUND FRONTIERS (each already checkpointed for
    # the convergence count) instead of re-checkpointing a growing
    # label table every round — one driver job per round, not three.
    # Above the gate the old consolidated-label checkpoint shape is
    # kept (a per-round union-of-r-frames anti-join would re-shuffle
    # every frame every round at scale).
    e0 = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ).localCheckpoint(eager=True)
    n = _adaptive_n(edges, e0.count())  # cheap: e0 is cached
    e = e0.repartition(n, "dst").localCheckpoint(eager=True)
    lab = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hop"))
        .localCheckpoint(eager=True)
    )
    cached = [e0, e, lab]
    frontier = lab
    # the frontier and visited sets are gated; their counts are already
    # materialized by the convergence check
    n_frontier = lab.count()
    n_lab = n_frontier
    for r in range(1, max_rounds + 1):
        f_side = _gate(frontier.select(F.col("node").alias("src")), n_frontier)
        anti_side = _gate(lab.select("node"), n_lab)
        nxt = (
            e.join(f_side, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(anti_side, "node", "left_anti")
            .select("node", F.lit(r).alias("hop"))
            # lazy checkpoint + count: the convergence count rides the
            # materialization job — one driver job per round
            .localCheckpoint(eager=False)
        )
        cached.append(nxt)
        n_frontier = nxt.count()
        if n_frontier == 0:
            out = lab.select("node", F.col("hop").cast("int").alias("hop"))
            return hold(out, *cached)
        if _broadcastable(n_lab + n_frontier):
            # visited stays a lazy union of cached frames — no extra job
            lab = lab.unionByName(nxt)
        else:
            lab = lab.unionByName(nxt).localCheckpoint(eager=True)
            cached.append(lab)
        n_lab += n_frontier
        frontier = nxt
    raise RuntimeError(
        f"bfs_hops: frontier still non-empty after {max_rounds} rounds — "
        "graph eccentricity exceeds the budget; raise max_rounds"
    )


def neighborhood_overlap(
    edges: DataFrame,
    min_common: int = 1,
    max_center_deg: int | None = None,
) -> DataFrame:
    """Link prediction over the undirected simple graph of edges(src,
    dst): for every NON-ADJACENT pair (u, w), u < w, sharing >=
    min_common neighbors, the common-neighbor count and neighborhood
    Jaccard |N(u) & N(w)| / |N(u) | N(w)|. Output (u, w, common,
    deg_u, deg_w, jaccard) — the "suggest an edge" / duplicate-entity
    candidate primitive on co-citation graphs.

    Exactness: counts and degrees are exact integers; jaccard =
    common / (deg_u + deg_w - common) is ONE IEEE division of exactly
    representable integers — bitwise identical across engines, no
    rounding grid.

    Scale shape: adjacency census (narrow-key agg), one self-join of
    the adjacency list on the CENTER node (each center of degree d
    emits d*(d-1)/2 candidate pairs — the true output-complexity of
    the problem), one (u, w) count agg, an anti-join against the edge
    set, two degree joins. The quadratic term is per-center: a super
    hub of degree d contributes O(d^2) wedges, so `max_center_deg`
    optionally EXCLUDES hub centers (their common-neighbor signal is
    noise at web scale — everyone co-cites the homepage) and reports
    how many were dropped as `skipped(result)`, the
    engine's no-silent-caps rule.
    """
    und = (
        edges.select(
            F.least("src", "dst").cast("long").alias("a"),
            F.greatest("src", "dst").cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = und.select(
        F.col("a").alias("v"), F.col("b").alias("x")
    ).unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("x")))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    skipped = 0
    if max_center_deg is not None:
        hubs = deg.where(F.col("deg") > max_center_deg)
        skipped = hubs.count()
        adj_c = adj.join(
            hubs.select("v"), "v", "left_anti"
        )
    else:
        adj_c = adj
    left = adj_c.select("v", F.col("x").alias("u"))
    right = adj_c.select("v", F.col("x").alias("w"))
    pairs = (
        left.join(right, "v")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    non_adj = pairs.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("v").alias("w"), F.col("deg").alias("deg_w"))
    out = (
        non_adj.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            F.col("common").cast("long").alias("common"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_w").cast("long").alias("deg_w"),
            (
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_w") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return hold(out, skipped=skipped)


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 40,
) -> DataFrame:
    """Multi-source single-source-shortest-path (Bellman–Ford) over
    DIRECTED weighted edges(src, dst, w>=0, integer): for every node
    reachable from the seed set, the minimum total weight from any
    seed. Output (node, dist BIGINT); unreachable nodes absent. The
    weighted sibling of bfs_hops — crawl cost, latency radius,
    cheapest-route labeling.

    Algorithm: frontier Bellman–Ford — per round, relax only edges
    leaving nodes whose label IMPROVED last round (the delta frontier;
    a full-edge relax every round would be E x rounds work), min-merge
    candidates per target map-side, then compare against the label
    set (full-outer shape via left join on the candidate side). The
    frontier empties exactly at the fixpoint, which is unique (labels
    only decrease, bounded below), so the oracle replays it as
    unrolled idempotent FULL relaxation rounds. Integer weights keep
    every label exact. localCheckpoint truncates per-round lineage.

    Scale shape: each round is one equi-join keyed on src (edges can
    be pre-partitioned on src once — the loop reuses the layout), one
    map-side-combinable min agg on dst, one narrow join against the
    label set. Work is proportional to the frontier's out-edges, the
    Pregel bound.
    """
    # round-6 plan rework (results bit-identical): the edge table is
    # partitioned by dst once, so in broadcast mode the per-round
    # candidate min-agg rides the setup partitioning (exchange-free
    # round body); the label update collapses to ONE anti-join —
    # `improved` holds strictly-better distances only, so the new
    # label set is exactly improved ∪ (lab \ improved.nodes), and in
    # broadcast mode the update is map-side over the cached tables
    # WITHOUT its own checkpoint job (recomputation from cache is two
    # narrow map passes; the old shape paid a blocking checkpoint +
    # two joins per round).
    e0 = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    n = _adaptive_n(edges, e0.count())  # cheap: e0 is cached
    e = e0.repartition(n, "dst").localCheckpoint(eager=True)
    lab = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    cached = [e0, e, lab]
    frontier = lab
    # the frontier and label tables are gated; frontier counts come
    # free from the convergence check, the label count is tracked as an
    # upper bound
    n_frontier = lab.count()
    n_lab = n_frontier
    rounds_since_ckpt = 0
    for _ in range(max_rounds):
        cand = (
            e.join(
                _gate(
                    frontier.select(F.col("node").alias("src"), "dist"),
                    n_frontier,
                ),
                "src",
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("_d"))
            .groupBy("node")
            .agg(F.min("_d").alias("_d"))
        )
        improved = (
            cand.join(
                _gate(
                    lab.select("node", F.col("dist").alias("_old")), n_lab
                ),
                "node",
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("_d") < F.col("_old")))
            .select("node", F.col("_d").alias("dist"))
            # lazy checkpoint + count: the convergence count rides the
            # materialization job — one driver job per round
            .localCheckpoint(eager=False)
        )
        cached.append(improved)
        n_frontier = improved.count()
        if n_frontier == 0:
            out = lab.select("node", "dist")
            return hold(out, *cached)
        lab = lab.join(
            _gate(improved.select("node"), n_frontier), "node", "left_anti"
        ).unionByName(improved)
        rounds_since_ckpt += 1
        if not _broadcastable(n_lab + n_frontier) or rounds_since_ckpt >= 8:
            # consolidate: above the broadcast gate every union arm
            # would re-shuffle per round, and even below it the lazy
            # anti-join chain is re-evaluated per consumer — cap its
            # depth so each round stays O(chain of <= 8 map passes)
            lab = lab.localCheckpoint(eager=True)
            cached.append(lab)
            rounds_since_ckpt = 0
        n_lab += n_frontier
        frontier = improved
    raise RuntimeError(
        f"sssp: labels still improving after {max_rounds} rounds — "
        "negative weights or a deeper graph than the budget; raise max_rounds"
    )


def label_prop(
    edges: DataFrame,
    a: str = "src",
    b: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """Synchronous label propagation (Raghavan-style LPA) -> (node,
    label): the community-detection pass a link-graph pipeline runs
    after connected components -- CC finds reachability islands, LPA
    finds dense neighborhoods INSIDE one island (host clusters, topic
    hubs). Deterministic contract: labels start as node ids, each of
    the FIXED `iters` rounds every node adopts the most frequent label
    among its (undirected, deduplicated) neighbors with ties broken by
    the SMALLEST label, and isolated nodes keep their own label --
    synchronous fixed-round semantics make the result exact and let
    the DuckDB oracle unroll the identical rounds (asynchronous LPA's
    visit-order dependence would be unverifiable).

    Scale shape (100 TB): the symmetrized edge table is checkpointed
    ONCE and never re-shuffles -- under the measured ~5M-node gate the
    per-round label and winner tables broadcast (the connected_
    components house pattern), so each round is one map-side join +
    one (node, label) count with map-side partials + one map-side
    winner pick via max(struct(n, -label)) -- no window function, no
    sort. Per-round localCheckpoint truncates lineage.
    """
    # round-6 plan rework (results bit-identical): sym is partitioned
    # by dst once, so in broadcast mode the per-round vote census
    # (node, lab), the winner pick (node), and the label update join
    # (node) ALL ride the setup partitioning — zero exchanges per
    # round; the label table for the fixed rounds checkpoints LAZILY
    # (lineage truncation without a blocking driver job per round).
    sym0 = (
        edges.select(
            F.col(a).cast("long").alias("src"),
            F.col(b).cast("long").alias("dst"),
        )
        .unionByName(
            edges.select(
                F.col(b).cast("long").alias("src"),
                F.col(a).cast("long").alias("dst"),
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = _adaptive_n(edges, sym0.count())  # cheap: sym0 is cached
    sym = sym0.repartition(n, "dst").localCheckpoint(eager=True)
    # every node appears as a dst (sym is symmetric): the distinct
    # rides the dst partitioning and lab comes out partitioned by node
    lab = (
        sym.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .localCheckpoint(eager=True)
    )
    cached = [sym0, sym, lab]
    n_lab = lab.count()
    for _ in range(iters):
        votes = sym.join(_gate(lab, n_lab), sym.src == lab.node).select(
            F.col("dst").alias("node"), "lab"
        )
        cnt = votes.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("n"))
        best = cnt.groupBy("node").agg(
            F.max(
                F.struct(
                    F.col("n"), (-F.col("lab")).alias("neg"), F.col("lab")
                )
            ).alias("s")
        ).select("node", F.col("s.lab").alias("new_lab"))
        lab = (
            lab.join(best, "node", "left")
            .select(
                "node", F.coalesce("new_lab", "lab").alias("lab")
            )
            .localCheckpoint(eager=False)
        )
        cached.append(lab)
    out = lab.select("node", F.col("lab").alias("label"))
    return hold(out, *cached)


def personalized_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    n_seeds: int | None = None,
) -> DataFrame:
    """Personalized PageRank -> (node, rank): the pagerank recurrence
    with the teleport mass concentrated on a SEED set instead of
    spread uniformly -- the crawl-scheduling / related-page primitive
    (authority relative to a trusted frontier, not globally). Seeds
    get base = (1-d)/|seeds| per round; non-seeds get 0; everything
    else (integer-unit quantization, per-edge floor, exact BIGINT
    inbound sums, unrolled-round DuckDB replay) is identical to
    `pagerank` -- see its docstring for the exactness contract.

    Ranks start at 1/|seeds| on seeds and 0 elsewhere (the standard
    PPR initialization, so round 0 already integrates to 1).

    Scale shape: same as pagerank -- the seed flag joins once into the
    node-sized rank table (broadcast under the 5M gate); per round one
    edge-to-rank join, one map-side-partial SUM on dst, one node join.
    """
    if n_seeds is None:
        n_seeds = seeds.count()
    if n_seeds <= 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    base = (1.0 - damping) / n_seeds
    u0 = int((1.0 / n_seeds) * RANK_UNIT)

    n_nodes = nodes.count()
    sd = seeds.select(
        F.col("node").cast("long").alias("v"), F.lit(True).alias("is_seed")
    )
    nv = (
        nodes.select(F.col("node").cast("long").alias("v"))
        .join(F.broadcast(sd), "v", "left")
        .select("v", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    )
    seed = F.col("is_seed")
    return _rank_rounds(
        edges,
        nv,
        n_nodes,
        F.when(seed, F.lit(u0)).otherwise(F.lit(0)),
        F.when(seed, F.lit(base)).otherwise(F.lit(0.0)),
        iters,
        damping,
    )
